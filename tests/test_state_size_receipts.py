"""State-size RECEIPTS for the streaming stateful tier.

The 100 TB streaming claim for the custom-state operators has so far
rested on design argument (sharded/keyed state) plus output correctness;
these tests turn it into a measured receipt by reading the engine's own
state-store metrics (StreamingQueryProgress.stateOperators.numRowsTotal)
across micro-batches and asserting the bound each operator claims:

- streaming_first_seen_flag: state rows <= ``shards`` (NOT input rows,
  NOT bucket count) — the per-task state is a shard-keyed Arrow map,
- every keyed operator below runs on ``sharded_keyed_process``: one
  state row per OCCUPIED shard, each holding its keys' states as pickled
  cells, so state rows <= distinct keys for
  - dedup_keep_last (the winner's order/tiebreak per key),
  - count_tumble_window (the trailing partial window per key),
  - streaming_topn (the whole top-N ranking is one per-key cell — never
    N rows),
  - temporal_sort_stream (the delay-horizon buffer; emitted rows leave
    it),
  - session_event_windows (every pending session's elements pool in the
    key's cell; fired sessions leave it),
  - match_recognize_stream (the per-key NFA buffer; matched prefixes are
    consumed and WITHIN prunes the rest).

Each run feeds 3 file-chunks with maxFilesPerTrigger=1 so state is
observed across >= 3 real micro-batches; the input row count is asserted
to EXCEED the state bound by a wide margin, so the receipt genuinely
distinguishes bounded state from rows-proportional state.
"""

from __future__ import annotations

import json
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _chunked_events_dir(spark, chunks: int = 3) -> tuple[str, object, int]:
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    rows = ev.orderBy("event_id").collect()
    d = tempfile.mkdtemp(prefix="sg_rcpt_chunks_")
    n = len(rows)
    for i in range(chunks):
        chunk = rows[i * n // chunks: (i + 1) * n // chunks]
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/chunk{i}")
    return d, ev.schema, n


def _run_with_progress(sdf, output_mode: str = "update",
                       timeout_s: int = 300):
    """availableNow run into a memory sink, returning the per-batch
    stateOperators metrics [(numRowsTotal, numRowsUpdated, inputRows)]."""
    import itertools
    import shutil

    name = f"rcpt_sink_{next(_SEQ)}"
    ckpt = tempfile.mkdtemp(prefix="sg_rcpt_ckpt_")
    try:
        q = (
            sdf.writeStream.format("memory").queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)
        metrics = []
        for p in q.recentProgress:
            d = json.loads(p.json) if hasattr(p, "json") else p
            ops = d.get("stateOperators") or []
            if ops:
                metrics.append((
                    ops[0].get("numRowsTotal", 0),
                    ops[0].get("numRowsUpdated", 0),
                    d.get("numInputRows", 0),
                ))
        q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return metrics


import itertools

_SEQ = itertools.count()


@pytest.fixture(scope="module")
def chunks(spark):
    return _chunked_events_dir(spark)


def _stream(spark, chunks):
    d, schema, _n = chunks
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/chunk*")
    )


def test_first_seen_flag_state_bounded_by_shards(spark, chunks):
    from flink_1_12_0_spark.streaming.stateful import streaming_first_seen_flag

    _d, _schema, n = chunks
    shards = 16
    sdf = _stream(spark, chunks).selectExpr(
        "event_id", "pmod(user_id * 7 + length(event_type), 40) AS bucket")
    out = streaming_first_seen_flag(sdf, ["bucket"], "event_id",
                                    shards=shards)
    metrics = _run_with_progress(out)
    assert len(metrics) >= 3, metrics
    total_in = sum(m[2] for m in metrics)
    peak_state = max(m[0] for m in metrics)
    assert total_in >= n  # the whole fixture streamed through
    # the claimed bound: state rows <= shards at EVERY batch — not
    # proportional to the ~1000 input rows or the 40 buckets' ids
    assert peak_state <= shards, metrics
    assert total_in > 10 * peak_state
    # and state growth stops once every shard is occupied: the final two
    # batches' totals agree (flat curve), they don't track input volume
    assert metrics[-1][0] == metrics[-2][0], metrics


def test_dedup_keep_last_state_bounded_by_keys(spark, chunks):
    from flink_1_12_0_spark.streaming.stateful import dedup_keep_last

    _d, _schema, n = chunks
    sdf = _stream(spark, chunks).selectExpr(
        "user_id", "ts", "event_id", "value")
    out = dedup_keep_last(sdf, ["user_id"], "ts", "event_id")
    keys = 15  # distinct user_id in the fixture
    metrics = _run_with_progress(out)
    assert len(metrics) >= 3, metrics
    total_in = sum(m[2] for m in metrics)
    peak_state = max(m[0] for m in metrics)
    assert total_in >= n
    assert peak_state <= keys, metrics
    assert total_in > 10 * peak_state
    assert metrics[-1][0] == metrics[-2][0], metrics


def test_streaming_topn_state_bounded_by_keys(spark, chunks):
    from flink_1_12_0_spark.streaming.stateful import streaming_topn

    _d, _schema, n = chunks
    sdf = _stream(spark, chunks).selectExpr("user_id", "event_id", "value")
    out = streaming_topn(sdf, ["user_id"], "value", 3, "event_id",
                         ["event_id"])
    keys = 15
    metrics = _run_with_progress(out)
    assert len(metrics) >= 3, metrics
    total_in = sum(m[2] for m in metrics)
    peak_state = max(m[0] for m in metrics)
    assert total_in >= n
    # the claimed bound: ONE state row per key holding the top-N as
    # typed arrays — state never becomes keys x N rows, let alone
    # input-proportional
    assert peak_state <= keys, metrics
    assert total_in > 10 * peak_state
    assert metrics[-1][0] == metrics[-2][0], metrics


def test_temporal_sort_state_bounded_by_keys(spark, chunks):
    from flink_1_12_0_spark.streaming.stateful import temporal_sort_stream

    _d, _schema, n = chunks
    sdf = _stream(spark, chunks).selectExpr(
        "user_id", "ts", "event_id", "value")
    out = temporal_sort_stream(sdf, ["user_id"], "ts", "event_id", "value",
                               delay_s=60.0)
    keys = 15
    metrics = _run_with_progress(out)
    assert len(metrics) >= 3, metrics
    total_in = sum(m[2] for m in metrics)
    peak_state = max(m[0] for m in metrics)
    assert total_in >= n
    # per-key state = watermark + the delay-horizon buffer arrays, all
    # inside one state row; emitted rows leave the buffer, so state rows
    # track KEYS, not the rows still in flight
    assert peak_state <= keys, metrics
    assert total_in > 10 * peak_state
    assert metrics[-1][0] == metrics[-2][0], metrics


def test_session_windows_state_bounded_by_keys(spark, chunks):
    from flink_1_12_0_spark.streaming.stateful import session_event_windows

    _d, _schema, n = chunks
    sdf = _stream(spark, chunks).selectExpr(
        "user_id", "ts", "event_id", "value")
    out = session_event_windows(sdf, ["user_id"], "ts", "event_id",
                                "value", gap_s=300)
    keys = 15
    metrics = _run_with_progress(out)
    assert len(metrics) >= 3, metrics
    total_in = sum(m[2] for m in metrics)
    peak_state = max(m[0] for m in metrics)
    assert total_in >= n
    # per-key state = only UNFIRED session elements (bounded by
    # gap x event rate) pooled inside the key's single state row
    assert peak_state <= keys, metrics
    assert total_in > 10 * peak_state
    assert metrics[-1][0] == metrics[-2][0], metrics


def test_count_tumble_state_bounded_by_keys(spark, chunks):
    from flink_1_12_0_spark.streaming.stateful import count_tumble_window

    _d, _schema, n = chunks
    sdf = _stream(spark, chunks).selectExpr(
        "user_id", "ts", "event_id", "value")
    out = count_tumble_window(sdf, ["user_id"], "ts", "event_id",
                              size=5, value_col="value")
    keys = 15
    metrics = _run_with_progress(out)
    assert len(metrics) >= 3, metrics
    total_in = sum(m[2] for m in metrics)
    peak_state = max(m[0] for m in metrics)
    assert total_in >= n
    # the trailing partial window is part of the key's ONE state row, so
    # state never exceeds the key count even though every batch leaves
    # partial windows behind
    assert peak_state <= keys, metrics
    assert total_in > 10 * peak_state
    assert metrics[-1][0] == metrics[-2][0], metrics


def test_cep_buffer_state_bounded_by_keys(spark, chunks):
    """Streaming MATCH_RECOGNIZE (the last stateful family without a
    receipt): the per-key NFA buffer — unmatched rows awaiting a pattern
    completion — lives as a pickled pandas frame (with the key's match
    count) INSIDE its shard's state row, matched prefixes are consumed,
    and rows older than WITHIN below the key's max event time are pruned.  So state rows track KEYS, never the
    rows buffered in flight, and a SHORT horizon keeps the curve flat
    across batches instead of accreting the whole history."""
    from flink_1_12_0_spark.operators.cep import (
        Step,
        match_recognize_stream,
    )

    _d, _schema, n = chunks
    sdf = _stream(spark, chunks).selectExpr(
        "user_id", "ts", "event_id", "event_type")
    steps = [
        Step("E", lambda r: r["event_type"] == "error", 1, None,
             where_vec=lambda p: p["event_type"].eq("error")),
        Step("P", lambda r: r["event_type"] == "purchase",
             where_vec=lambda p: p["event_type"].eq("purchase")),
    ]
    out = match_recognize_stream(
        sdf,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        steps=steps,
        measures=[("n_errors", lambda m: m.count("E")),
                  ("purchase_id", lambda m: m.first("P", "event_id"))],
        out_schema="user_id bigint, n_errors bigint, purchase_id bigint",
        within=6 * 3600,  # short horizon: most buffered rows expire
    )
    keys = 15
    metrics = _run_with_progress(out)
    assert len(metrics) >= 3, metrics
    total_in = sum(m[2] for m in metrics)
    peak_state = max(m[0] for m in metrics)
    assert total_in >= n
    assert peak_state <= keys, metrics
    assert total_in > 10 * peak_state
    assert metrics[-1][0] == metrics[-2][0], metrics


@pytest.fixture(scope="module")
def doc_chunks(spark):
    """documents.parquet split into 3 ordered chunks, so routing state
    is observed across >= 3 real micro-batches."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = docs.orderBy("doc_id").collect()
    d = tempfile.mkdtemp(prefix="sg_rcpt_docs_")
    n = len(rows)
    for i in range(3):
        chunk = rows[i * n // 3: (i + 1) * n // 3]
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/chunk{i}")
    return d, docs.schema, n


def _route64_artifact(spark, view_suffix: str):
    """The graded rows' frozen Q=64 BM25 artifact, built batch-side."""
    from flink_1_12_0_spark.queries.llm_corpus import (
        _invert_route_artifact, _route_artifact_rows, _route_pairs)
    from flink_1_12_0_spark.tables import load_tables

    load_tables(spark, SF_DIR)
    art = _route_artifact_rows(spark, _route_pairs(64))
    return _invert_route_artifact(art), float(art[0]["avgdl"])


def test_route_topn_state_bounded_by_standing_queries(spark, doc_chunks):
    """Receipt #8 (VERDICT r13 "Next round" #7): the composed alerting
    product's bounded-state claim as a measurement — the routed Q=64
    ingest feeds streaming Top-N keyed by standing query, so state rows
    == the number of standing queries with at least one routed match
    (<= Q = 64; each query's whole top-3 ranking is typed arrays INSIDE
    its one state row), at EVERY micro-batch, regardless of how many
    documents streamed through."""
    from flink_1_12_0_spark.operators.retrieval import bm25_route_inverted
    from flink_1_12_0_spark.queries.llm_corpus import SPARK_WORDS
    from flink_1_12_0_spark.streaming.stateful import streaming_topn

    d, schema, n = doc_chunks
    artifact, avgdl = _route64_artifact(spark, "topn")
    sdf = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/chunk*")
        .where("length(text) > 0")
        .selectExpr("doc_id", f"{SPARK_WORDS} AS w"))
    routed = bm25_route_inverted(sdf, artifact, avgdl)
    out = streaming_topn(
        routed, ["query_id"], order_col="score_e6", n=3,
        tiebreak="doc_id", payload=["doc_id", "score_e6"])
    metrics = _run_with_progress(out)
    assert len(metrics) >= 3, metrics
    total_in = sum(m[2] for m in metrics)
    peak_state = max(m[0] for m in metrics)
    assert total_in >= n  # every document streamed through
    # the claimed bound: one state row per standing query, never the
    # routed fan-out (~Q x docs rows on this dense fixture)
    assert peak_state <= 64, metrics
    assert total_in > 5 * peak_state
    # flat once every query holds a ranking: the last two batches agree
    assert metrics[-1][0] == metrics[-2][0], metrics


def test_rule_gate_state_bounded_by_shards(spark, doc_chunks):
    """Receipt #8b: the updatable-rule gate's state is ONE row per shard
    (the control-event history — the broadcast MapState content) —
    bounded by n_shards and the rule schedule, independent of the
    main-stream volume.

    Note: this receipt asserts STATE SIZE across chunked batches; the
    chunked replay puts all control events in batch 1 and the round-17
    history state replays them POSITIONALLY for every later doc batch
    (output equality under such splits is pinned by
    tests/test_kafka_adversarial.py)."""
    import json as _json

    from flink_1_12_0_spark.operators.retrieval import bm25_route_inverted
    from flink_1_12_0_spark.queries.llm_corpus import (
        _UPDATABLE_INTERVALS, _invert_route_artifact,
        _route_artifact_rows, _route_pairs, SPARK_WORDS)
    from flink_1_12_0_spark.streaming.stateful import broadcast_rule_gate
    from flink_1_12_0_spark.tables import load_tables

    d, schema, n = doc_chunks
    shards = 16
    load_tables(spark, SF_DIR)
    art = _route_artifact_rows(spark, _route_pairs(16))
    events = []
    for q, lo, hi in _UPDATABLE_INTERVALS:
        events.append(("+", q, lo))
        if hi is not None:
            events.append(("-", q, hi))
    ctrl_dir = tempfile.mkdtemp(prefix="sg_rcpt_ctrl_")
    spark.createDataFrame(
        events, "op string, query_id int, eff long"
    ).coalesce(1).write.mode("overwrite").parquet(ctrl_dir)
    ctrl = (
        spark.readStream.schema("op string, query_id int, eff long")
        .parquet(ctrl_dir)
        .selectExpr("op", "query_id", "CAST(NULL AS LONG) AS doc_id",
                    "CAST(NULL AS LONG) AS score_e6", "eff AS ord"))
    sdf = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/chunk*")
        .where("length(text) > 0")
        .selectExpr("doc_id", f"{SPARK_WORDS} AS w"))
    routed = bm25_route_inverted(
        sdf, _invert_route_artifact(art), float(art[0]["avgdl"])
    ).selectExpr("CAST(NULL AS STRING) AS op", "query_id", "doc_id",
                 "score_e6", "doc_id AS ord")
    out = broadcast_rule_gate(
        routed, ctrl, ["doc_id", "score_e6"],
        rule_col="query_id", shard_key="doc_id", n_shards=shards)
    metrics = _run_with_progress(out)
    assert len(metrics) >= 3, metrics
    total_in = sum(m[2] for m in metrics)
    peak_state = max(m[0] for m in metrics)
    assert total_in >= n
    # one live-set row per shard — not per rule event, not per doc
    assert peak_state <= shards, metrics
    assert total_in > 10 * peak_state
    assert metrics[-1][0] == metrics[-2][0], metrics


def test_route_retained_state_zero_multibatch(spark, doc_chunks):
    """Receipt #10 (VERDICT r14 "What's wrong" #2): the retention-safe
    broadcast-route twin keeps ZERO rows of streaming state at every
    micro-batch — the (query, doc) re-aggregation is batch-local (a
    document arrives in exactly one micro-batch, so all its matched-term
    rows co-reside), so running it per-batch in foreachBatch needs no
    state store at all, vs the graded update-mode row's
    corpus-proportional (query, doc) group state.  Exactness is pinned
    by comparing the appended per-batch results to one global batch
    pass over the same documents."""
    import shutil

    from flink_1_12_0_spark.operators.retrieval import bm25_route_inverted
    from flink_1_12_0_spark.queries.llm_corpus import SPARK_WORDS

    d, schema, n = doc_chunks
    artifact, avgdl = _route64_artifact(spark, "ret")
    sdf = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/chunk*")
        .where("length(text) > 0")
        .selectExpr("doc_id", f"{SPARK_WORDS} AS w"))
    out_dir = tempfile.mkdtemp(prefix="sg_rcpt_ret_")

    def fb(batch, _bid):
        bm25_route_inverted(
            batch, artifact, avgdl, form="broadcast"
        ).write.mode("append").parquet(out_dir)

    ckpt = tempfile.mkdtemp(prefix="sg_rcpt_ret_ckpt_")
    try:
        q = (sdf.writeStream.foreachBatch(fb).outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        progress = [json.loads(p.json) if hasattr(p, "json") else p
                    for p in q.recentProgress]
        q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    fed = [p for p in progress if p.get("numInputRows", 0) > 0]
    assert len(fed) >= 3, [p.get("numInputRows") for p in progress]
    # the claimed bound: NO stateful operator rows in ANY batch —
    # bounded in the strongest sense (identically zero)
    for p in progress:
        for op in p.get("stateOperators") or []:
            assert op.get("numRowsTotal", 0) == 0, progress
    # per-batch re-agg == one global pass (batch-locality receipt)
    got = {(r.query_id, r.doc_id): r.score_e6
           for r in spark.read.parquet(out_dir).collect()}
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .where("length(text) > 0")
            .selectExpr("doc_id", f"{SPARK_WORDS} AS w"))
    want = {(r.query_id, r.doc_id): r.score_e6
            for r in bm25_route_inverted(
                docs, artifact, avgdl, form="broadcast").collect()}
    assert got == want
    assert len(got) > 0


def test_semantic_artifact_route_state_zero_multibatch(spark):
    """Receipt for the interval-artifact updatable forms' zero-state
    claim, measured on the round-16 semantic row
    (stream_semantic_route_updatable_artifact): the doc path — row-local
    argmax cell assignment, broadcast artifact join, [lo, hi) interval
    gate — runs in foreachBatch with ZERO rows of streaming state at
    every micro-batch (liveness rides IN the artifact, so nothing needs
    a state store), and the per-batch appends equal one global batch
    pass AND the graded keyed-gate form's output.  Same receipt shape
    as receipt #10 (test_route_retained_state_zero_multibatch)."""
    import shutil

    from pyspark.sql import Window

    from flink_1_12_0_spark.queries.llm_similarity import (
        _SEM_UPD_INTERVALS, _frozen_codebook, SPARK_DOT, SPARK_NORM)
    from flink_1_12_0_spark.streaming.core import local_table

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _, _, argmax, cents, qvec = _frozen_codebook(spark, emb)
    # the full graded schedule folded to its final interval artifact
    cos_probe = (SPARK_DOT.format(a="qv", b="cv")
                 + " / (" + SPARK_NORM.format(a="qv") + " * "
                 + SPARK_NORM.format(a="cv") + ")")
    iv = local_table(
        spark, [(q, qvec[q], lo, hi) for q, lo, hi in _SEM_UPD_INTERVALS],
        "query_id long, qv array<double>, lo long, hi long")
    art = (
        iv.crossJoin(F.broadcast(cents))
        .selectExpr("query_id", "qv", "lo", "hi", "cent_id",
                    f"round({cos_probe}, 6) AS cs")
        .withColumn("rk", F.row_number().over(
            Window.partitionBy("query_id", "lo")
            .orderBy(F.desc("cs"), "cent_id")))
        .where("rk <= 4")
        .selectExpr("query_id", "cent_id", "qv", "lo", "hi")
        .localCheckpoint(eager=True))
    cos_q = (SPARK_DOT.format(a="embedding", b="qv")
             + " / (" + SPARK_NORM.format(a="embedding") + " * "
             + SPARK_NORM.format(a="qv") + ")")

    def route(batch):
        return (batch
                .selectExpr("vec_id", "embedding",
                            f"CAST({argmax} AS BIGINT) AS cell")
                .join(F.broadcast(art),
                      F.col("cell") == F.col("cent_id"))
                .where("vec_id >= lo AND (hi IS NULL OR vec_id < hi)")
                .selectExpr(
                    "query_id", "vec_id",
                    f"CAST(round(({cos_q}) * 1e6) AS BIGINT) AS cos_e6"))

    # chunk the embedding stream so state is observed across >= 3
    # genuine micro-batches — sliced and written JVM-side (a py-list
    # createDataFrame().coalesce(1).write costs 5-10 s of serial
    # python evaluation per chunk, code-review r16)
    d = tempfile.mkdtemp(prefix="sg_rcpt_semart_")
    n = emb.count()
    for i in range(3):
        emb.orderBy("vec_id").offset(i * n // 3).limit(
            (i + 1) * n // 3 - i * n // 3
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/chunk{i}")
    sdf = (spark.readStream.schema(emb.schema)
           .option("maxFilesPerTrigger", 1).parquet(f"{d}/chunk*"))
    out_dir = tempfile.mkdtemp(prefix="sg_rcpt_semart_out_")

    def fb(batch, _bid):
        route(batch).write.mode("append").parquet(out_dir)

    ckpt = tempfile.mkdtemp(prefix="sg_rcpt_semart_ckpt_")
    try:
        q = (sdf.writeStream.foreachBatch(fb).outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        progress = [json.loads(p.json) if hasattr(p, "json") else p
                    for p in q.recentProgress]
        q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    fed = [p for p in progress if p.get("numInputRows", 0) > 0]
    assert len(fed) >= 3, [p.get("numInputRows") for p in progress]
    for p in progress:
        for op in p.get("stateOperators") or []:
            assert op.get("numRowsTotal", 0) == 0, progress
    got = {(r.query_id, r.vec_id): r.cos_e6
           for r in spark.read.parquet(out_dir).collect()}
    want = {(r.query_id, r.vec_id): r.cos_e6 for r in route(emb).collect()}
    assert got == want and len(got) > 0
    # and the artifact form == the graded keyed-gate form
    from flink_1_12_0_spark import registry
    gate = {(r.query_id, r.vec_id): r.cos_e6
            for r in registry.QUERIES["stream_semantic_route_updatable"](
                spark, SF_DIR).collect()}
    assert got == gate
