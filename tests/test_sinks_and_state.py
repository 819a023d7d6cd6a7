"""Upsert sink (foreachBatch MERGE), connect/broadcast-state pattern, and
state-TTL timers — the remaining §2.9 surface."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from flink_1_12_0_spark.streaming.core import events_stream
from flink_1_12_0_spark.streaming.sinks import UpsertSink, connect_with_control
from flink_1_12_0_spark.streaming.stateful import keyed_process
from tests.conftest import SF_DIR


def test_upsert_sink_keeps_latest_per_key(spark):
    """Streaming events upserted by (user_id, event_type): final table ==
    batch keep-last truth (the upsert-kafka / JDBC-upsert write path)."""
    path = tempfile.mkdtemp(prefix="sg_upsert_") + "/state"
    sdf = events_stream(spark, SF_DIR, watermark=None).select(
        "user_id", "event_type", "event_id", "value", "ts"
    )
    sink = UpsertSink(spark, path, keys=["user_id", "event_type"], seq_col="event_id")
    sink.write_stream(sdf)
    got = {
        (r["user_id"], r["event_type"]): r["event_id"] for r in sink.table().collect()
    }
    truth = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in spark.sql(
            f"""SELECT user_id, event_type, event_id FROM (
                SELECT user_id, event_type, event_id,
                       row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY event_id DESC) rn
                FROM parquet.`{SF_DIR}/events.parquet`) WHERE rn = 1"""
        ).collect()
    }
    assert got == truth


def test_upsert_sink_replayed_committed_batch_is_noop(spark):
    """The recoverAndCommit half of the 2PC contract (code-review r17):
    foreachBatch can RETRY a batch whose merge completed but whose
    checkpoint offset commit did not — the manifest then already points
    at that batch's version.  Re-executing the merge would read the
    snapshot dir while overwrite-deleting it underneath the scan
    (observed FAILED_READ_FILE at 2M rows; toy sizes survive only by
    timing), so an already-committed replay must be a no-op: same
    manifest, same snapshot FILES (not a rewrite), same table."""
    import os

    path = tempfile.mkdtemp(prefix="sg_upsert_replay_") + "/state"
    sink = UpsertSink(spark, path, keys=["k"], seq_col="seq")
    b0 = spark.range(2).selectExpr("id AS k", "10 AS seq", "'a' AS v")
    sink.merge_batch(b0, 0)
    b1 = spark.range(1, 3).selectExpr("id AS k", "20 AS seq", "'B' AS v")
    sink.merge_batch(b1, 1)
    vdir = sink._current_version_dir()
    assert os.path.basename(vdir) == "v000000000001"

    def snapshot_files():
        return sorted(
            (f, os.stat(os.path.join(vdir, f)).st_mtime_ns)
            for f in os.listdir(vdir) if not f.startswith("_"))

    files = snapshot_files()
    table = sorted((r.k, r.v) for r in sink.table().collect())
    sink.merge_batch(b1, 1)  # retry after the repoint: must not rewrite
    assert os.path.basename(sink._current_version_dir()) == "v000000000001"
    assert snapshot_files() == files
    # a replay of an OLDER batch after a newer commit is equally a no-op
    sink.merge_batch(b0, 0)
    assert os.path.basename(sink._current_version_dir()) == "v000000000001"
    assert snapshot_files() == files
    assert sorted((r.k, r.v) for r in sink.table().collect()) == table
    assert table == [(0, "a"), (1, "B"), (2, "B")]


def test_connect_with_control_union_tags(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    main = ev.select("user_id", "event_id")
    control = ev.select("user_id").distinct().withColumn("threshold", F.lit(5.0))
    merged = connect_with_control(main, control, ["user_id", "event_id", "threshold"])
    assert set(merged.columns) == {"user_id", "event_id", "threshold", "_stream"}
    counts = {r["_stream"]: r["cnt"] for r in merged.groupBy("_stream").agg(F.count("*").alias("cnt")).collect()}
    assert counts["main"] == main.count() and counts["control"] == control.count()


def test_state_ttl_timeout_fires(spark):
    """StateTtlConfig analog: ProcessingTimeTimeout expires idle per-key
    state; the timed-out branch must observe state and clean it up."""
    ev = events_stream(spark, SF_DIR, watermark=None).select("user_id", "event_id")

    def fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            (n,) = state.get
            state.remove()
            yield pd.DataFrame([{"user_id": key[0], "n": n, "expired": True}])
            return
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        state.setTimeoutDuration(100)  # ms — expires before stream end
        yield pd.DataFrame([{"user_id": key[0], "n": n, "expired": False}])

    out = keyed_process(
        ev, ["user_id"], fn,
        "user_id bigint, n bigint, expired boolean",
        "n bigint",
        timeout=GroupStateTimeout.ProcessingTimeTimeout,
    )
    import time

    truth = {
        r["user_id"]: r["cnt"]
        for r in spark.sql(
            f"SELECT user_id, count(*) cnt FROM parquet.`{SF_DIR}/events.parquet` GROUP BY 1"
        ).collect()
    }
    # a ProcessingTimeTimeout query never finishes under availableNow (the
    # re-arming timers keep scheduling no-data batches), so the test bounds
    # the run itself: stop once every key's state has expired (each key
    # expires once — the timed-out branch removes it), or after 120 s.
    with tempfile.TemporaryDirectory(prefix="sg_ckpt_",
                                     ignore_cleanup_errors=True) as ckpt:
        q = (
            out.writeStream.format("memory").queryName("ttl_timeout_sink")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        res = spark.table("ttl_timeout_sink")
        expired = res.where(F.col("expired"))
        deadline = time.time() + 120
        while expired.count() < len(truth) and time.time() < deadline:
            time.sleep(0.5)
        q.stop()
    assert expired.count() == len(truth)
    live = res.where(~F.col("expired"))
    assert live.count() > 0
    # counts per key must equal the batch truth
    got = {r["user_id"]: r["n"] for r in live.collect()}
    assert got == truth


def test_to_retract_stream_rowkinds(spark, tmp_path):
    """toRetractStream: +I on first sight, -U/+U on update, -D on delete;
    the boolean mirrors RowKind accumulate/retract."""
    import pandas as pd

    from flink_1_12_0_spark.streaming.sinks import to_retract_stream

    src = str(tmp_path / "src")
    rows1 = pd.DataFrame({"k": [1, 2], "v": [10, 20], "seq": [1, 1], "del": [False, False]})
    rows2 = pd.DataFrame({"k": [1, 2], "v": [11, 20], "seq": [2, 2], "del": [False, True]})
    spark.createDataFrame(rows1).coalesce(1).write.parquet(f"{src}/b0")
    spark.createDataFrame(rows2).coalesce(1).write.parquet(f"{src}/b1")
    sdf = (
        spark.readStream.schema("k bigint, v bigint, seq bigint, del boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    log = to_retract_stream(sdf, ["k"], "seq", delete_col="del")
    got = sorted(
        (r["batch"], r["op"], r["k"], r["v"], r["accumulate"])
        for r in log.collect()
    )
    # batch 0: both keys inserted; batch 1: k=1 updated, k=2 deleted
    assert (0, "+I", 1, 10, True) in got and (0, "+I", 2, 20, True) in got
    assert (1, "-U", 1, 10, False) in got and (1, "+U", 1, 11, True) in got
    assert (1, "-D", 2, 20, False) in got
    assert len(got) == 5
