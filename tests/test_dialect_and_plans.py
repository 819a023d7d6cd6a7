"""Flink-SQL dialect shim translation + plan-shape invariants (the
reference's plan-test analog, SURVEY §5.1)."""

from __future__ import annotations

import pytest

from flink_1_12_0_spark import registry
from flink_1_12_0_spark.plans.dialect_shim import apply_ddl, parse_create_table, translate
from flink_1_12_0_spark.plans import inspect
from flink_1_12_0_spark.tables import load_tables
from tests.conftest import SF_DIR


# --- dialect translation -----------------------------------------------------


def test_translate_tumble_query(spark):
    load_tables(spark, SF_DIR)
    flink_sql = """
        SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS w_start,
               event_type, count(*) AS cnt
        FROM events
        GROUP BY TUMBLE(ts, INTERVAL '1' HOUR), event_type
    """
    got = spark.sql(translate(flink_sql))
    want = spark.sql(
        """SELECT window.start AS w_start, event_type, count(*) AS cnt
           FROM events GROUP BY window(ts, '1 hour'), event_type"""
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_translate_hop_swaps_slide_and_size(spark):
    load_tables(spark, SF_DIR)
    flink_sql = """
        SELECT HOP_END(ts, INTERVAL '15' MINUTE, INTERVAL '1' HOUR) AS w_end,
               count(*) AS cnt
        FROM events GROUP BY HOP(ts, INTERVAL '15' MINUTE, INTERVAL '1' HOUR)
    """
    got = spark.sql(translate(flink_sql))
    want = spark.sql(
        """SELECT window.end AS w_end, count(*) AS cnt
           FROM events GROUP BY window(ts, '1 hour', '15 minutes')"""
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_translate_session_and_functions(spark):
    load_tables(spark, SF_DIR)
    assert "session_window(ts, '30 minutes')" in translate(
        "GROUP BY SESSION(ts, INTERVAL '30' MINUTE)"
    )
    out = translate("SELECT SPLIT_INDEX(n_name, 'A', 0), CHAR_LENGTH(n_name), PROCTIME()")
    assert "element_at(split(n_name, 'A'), 1)" in out
    assert "length(n_name)" in out and "current_timestamp()" in out
    row = spark.sql(
        translate("SELECT SPLIT_INDEX(n_name, '_', 1) AS p, CHAR_LENGTH(n_name) AS l "
                  "FROM nation WHERE n_name = 'NATION_11'")
    ).collect()[0]
    assert row["l"] == 9 and row["p"] == "11"


def test_create_table_ddl_watermark(spark):
    ddl = f"""
        CREATE TABLE ev_src (
            event_id BIGINT,
            ts TIMESTAMP(3),
            user_id BIGINT,
            WATERMARK FOR ts AS ts - INTERVAL '10' SECOND
        ) WITH (
            'connector' = 'filesystem',
            'path' = '{SF_DIR}/orders.parquet',
            'format' = 'parquet'
        )
    """
    t = parse_create_table(ddl)
    assert t.name == "ev_src"
    assert t.watermark_col == "ts" and t.watermark_delay == "10 seconds"
    assert t.options["format"] == "parquet"
    # apply with explicit df (watermark needs a timestamp col)
    ev = load_tables(spark, SF_DIR)["events"]
    df = apply_ddl(spark, "CREATE TABLE ev_wm (event_id BIGINT, "
                          "WATERMARK FOR ts AS ts - INTERVAL '5' SECOND)", df=ev)
    assert spark.table("ev_wm").count() == ev.count()


def test_create_table_like_merge():
    from flink_1_12_0_spark.plans.dialect_shim import merge_like

    base = parse_create_table("""
        CREATE TABLE base_t (
            a BIGINT, ts TIMESTAMP(3),
            WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
        ) WITH ('connector' = 'filesystem', 'path' = '/tmp/x', 'format' = 'parquet')
    """)
    child = parse_create_table("""
        CREATE TABLE child_t (b AS a * 2)
        WITH ('path' = '/tmp/y') LIKE base_t (OVERWRITING OPTIONS)
    """)
    assert child.like_base == "base_t"
    assert child.like_directives == ["OVERWRITING OPTIONS"]
    m = merge_like(child, base)
    assert m.columns == [("a", "BIGINT"), ("ts", "TIMESTAMP(3)")]
    assert m.computed == [("b", "a * 2")]
    assert m.watermark_col == "ts" and m.watermark_delay == "5 seconds"
    assert m.options == {"connector": "filesystem", "path": "/tmp/y", "format": "parquet"}

    # duplicate option without OVERWRITING OPTIONS is an error (FLIP-110
    # INCLUDING semantics)
    dup = parse_create_table(
        "CREATE TABLE child2 WITH ('path' = '/tmp/z') LIKE base_t"
    )
    with pytest.raises(ValueError, match="OVERWRITING OPTIONS"):
        merge_like(dup, base)

    # EXCLUDING WATERMARKS / EXCLUDING OPTIONS drop the inherited pieces
    excl = parse_create_table(
        "CREATE TABLE child3 WITH ('path' = '/tmp/w') "
        "LIKE base_t (EXCLUDING OPTIONS, EXCLUDING WATERMARKS)"
    )
    m3 = merge_like(excl, base)
    assert m3.watermark_col is None
    assert m3.options == {"path": "/tmp/w"}


def test_computed_column_parse_and_apply(spark):
    ddl = f"""
        CREATE TABLE li_cc (
            l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE,
            gross AS l_extendedprice * (1 - l_discount)
        ) WITH ('connector' = 'filesystem',
                'path' = '{SF_DIR}/lineitem.parquet', 'format' = 'parquet')
    """
    t = parse_create_table(ddl)
    assert t.computed == [("gross", "l_extendedprice * (1 - l_discount)")]
    assert ("gross" not in dict(t.columns))
    apply_ddl(spark, ddl)
    row = spark.sql(
        "SELECT abs(gross - l_extendedprice * (1 - l_discount)) AS d FROM li_cc LIMIT 1"
    ).collect()[0]
    assert row["d"] < 1e-9


# --- plan shapes -------------------------------------------------------------


@pytest.fixture(scope="module")
def _loaded(spark):
    registry.load_all()
    load_tables(spark, SF_DIR)
    return spark


def test_q9_joins_broadcast(_loaded, spark):
    df = registry.QUERIES["tpch_q9"](spark, SF_DIR)
    df.collect()
    assert inspect.count_op(df, "BroadcastHashJoin") >= 3
    assert inspect.count_op(df, "SortMergeJoin") == 0


def test_q6_pushdown_and_pruning(_loaded, spark):
    df = registry.QUERIES["tpch_q6"](spark, SF_DIR)
    df.collect()
    assert "l_shipdate" in inspect.pushed_filters(df)
    # column pruning: the 11-column lineitem scan reads only what q6 needs
    cols = set(inspect.read_schema(df))
    assert cols <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_relational_plans_have_no_python(_loaded, spark):
    for name in ("tpch_q1", "tpch_q3", "window_tumble", "dedup_minhash_lsh",
                 "pipeline_pretrain_corpus", "tpcds_yoy_growth"):
        df = registry.QUERIES[name](spark, SF_DIR)
        df.collect()
        assert not inspect.has_python_stage(df), f"{name} has a Python stage"


def test_whole_relational_registry_has_no_python(_loaded, spark):
    """EVERY relational-tier query plans without a Python stage — TPC-H 22,
    TPC-DS shapes, set ops, windows, aggregates, text/dedup/similarity SQL
    tiers.  Python is allowed only where an operator genuinely needs it
    (CEP NFA, multimodal decode, lookup join, UDF surface, streaming
    state)."""
    python_ok_prefixes = (
        "cep_", "flinksql_match", "mm_", "udf_", "udaf_", "join_lookup",
        "stream_", "tableapi_flat", "sim_ann_ivf_kmeans", "src_kafka",
        "src_jdbc", "async_",  # async I/O is mapInPandas by design
        "unnest_",  # udtf variant uses a python udtf by design
        "datastream_coflatmap",  # CoFlatMapFunction IS user Python code
    )
    checked = 0
    for name, fn in registry.QUERIES.items():
        if name.startswith(python_ok_prefixes):
            continue
        df = fn(spark, SF_DIR)
        assert not inspect.has_python_stage(df), f"{name} has a Python stage"
        checked += 1
    assert checked >= 100, f"only {checked} plans checked — registry shrank?"


def test_codegen_spans_exist(_loaded, spark):
    df = registry.QUERIES["tpch_q1"](spark, SF_DIR)
    df.collect()
    assert inspect.codegen_spans(df) >= 1


# ---------------------------------------------------------- MATCH_RECOGNIZE


def test_mr_parse_sections():
    from flink_1_12_0_spark.plans.match_recognize_sql import parse_match_recognize

    spec = parse_match_recognize("""
        SELECT * FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES FIRST(A.ts) AS t0, LAST(B.value) AS v1, COUNT(A.*) AS n
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A{2,5} B? C+ D*)
            WITHIN INTERVAL '10' MINUTE
            DEFINE A AS A.event_type = 'error',
                   B AS B.value > 10 AND B.value <= 100,
                   C AS C.event_type IN ('view', 'click') OR NOT C.value < 0
        )
    """)
    assert spec.table == "events"
    assert spec.partition_by == ["user_id"]
    assert spec.order_by == ["ts", "event_id"]
    assert spec.pattern == [
        ("A", 2, 5, True), ("B", 0, 1, True), ("C", 1, None, True), ("D", 0, None, True)
    ]
    assert spec.within_s == 600
    assert spec.after_match == "next_row"
    assert [m[0] for m in spec.measures] == ["t0", "v1", "n"]
    # D has no DEFINE -> always true once compiled
    a = spec.define["A"]
    assert a({"event_type": "error"}) and not a({"event_type": "view"})
    b = spec.define["B"]
    assert b({"value": 50}) and not b({"value": 5}) and not b({"value": 101})
    assert not b({"value": None})  # three-valued logic: unknown -> no match
    c = spec.define["C"]
    assert c({"event_type": "view", "value": -5})
    assert c({"event_type": "other", "value": 3})
    assert not c({"event_type": "other", "value": -1})


def test_mr_predicate_like_null_and_quotes():
    from flink_1_12_0_spark.plans.match_recognize_sql import compile_predicate

    p = compile_predicate("x.name LIKE 'NATION_5' AND x.tag IS NOT NULL")
    assert p({"name": "NATION_5", "tag": 1})
    assert p({"name": "NATION05", "tag": 1})  # _ matches any single char
    assert not p({"name": "NATION_55", "tag": 1})  # _ matches exactly one
    assert not p({"name": "NATION_5", "tag": None})
    assert compile_predicate("x.name LIKE 'NAT%5'")({"name": "NATION_5"})
    q = compile_predicate("x.s = 'it''s'")
    assert q({"s": "it's"})


def test_mr_sql_batch_matches_manual_nfa(spark):
    """The SQL front-end must produce exactly what the hand-built Step NFA
    produces for the same pattern."""
    from flink_1_12_0_spark.plans.match_recognize_sql import run_match_recognize
    from flink_1_12_0_spark.queries.cep import cep_errors_then_purchase
    from tests.conftest import SF_DIR

    manual = cep_errors_then_purchase(spark, SF_DIR).collect()
    sql_rows = (
        run_match_recognize(
            spark,
            """
            SELECT * FROM events MATCH_RECOGNIZE (
                PARTITION BY user_id
                ORDER BY ts, event_id
                MEASURES COUNT(E.*) AS n_errors,
                         FIRST(E.event_id) AS first_error_id,
                         FIRST(P.event_id) AS purchase_id
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN (E+ P)
                DEFINE E AS E.event_type = 'error',
                       P AS P.event_type = 'purchase'
            )
            """,
        )
        .orderBy("user_id", "purchase_id")
        .collect()
    )
    assert [tuple(r) for r in sql_rows] == [tuple(r) for r in manual]


def test_mr_sql_stream_matches_batch(spark):
    from flink_1_12_0_spark.plans.match_recognize_sql import (
        run_match_recognize,
        run_match_recognize_stream,
    )
    from flink_1_12_0_spark.streaming.core import events_stream, run_to_memory
    from tests.conftest import SF_DIR

    sql = """
        SELECT * FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES COUNT(E.*) AS n_errors, FIRST(P.event_id) AS purchase_id
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (E{2,} P)
            WITHIN INTERVAL '40' DAY
            DEFINE E AS E.event_type = 'error', P AS P.event_type = 'purchase'
        )
    """
    batch = run_match_recognize(spark, sql).orderBy("user_id", "purchase_id").collect()
    sdf = events_stream(spark, SF_DIR, watermark=None).select(
        "user_id", "ts", "event_id", "event_type"
    )
    stream = (
        run_to_memory(run_match_recognize_stream(spark, sql, sdf), output_mode="update")
        .orderBy("user_id", "purchase_id")
        .collect()
    )
    assert [tuple(r) for r in stream] == [tuple(r) for r in batch]


def test_mr_nav_and_reluctant_parse():
    from flink_1_12_0_spark.plans.match_recognize_sql import (
        compile_predicate,
        parse_match_recognize,
    )
    from flink_1_12_0_spark.operators.cep import NavCtx

    p = compile_predicate("B.v > PREV(v) AND LAST(B.v, 1) IS NULL")
    assert p.needs_ctx and p.vec is None and "v" in p.cols
    rows = [{"v": 1}, {"v": 3}, {"v": 5}]
    # candidate row 1 for B, no prior B rows: PREV(v)=1 < 3, LAST(B.v,1)=None
    assert p(rows[1], NavCtx(rows, 1, {}, "B", []))
    # candidate row 2 with row 1 already taken by B: LAST(B.v,1)=3 not null
    assert not p(rows[2], NavCtx(rows, 2, {}, "B", [1]))

    spec = parse_match_recognize("""
        SELECT * FROM t MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES MATCH_NUMBER() AS mno, CLASSIFIER() AS cls,
                     LAST(B.v, 1) AS prev_v
            ALL ROWS PER MATCH
            AFTER MATCH SKIP TO FIRST B
            PATTERN (A B+? C{2,}?)
            DEFINE B AS B.v > PREV(v)
        )""")
    assert spec.rows_per_match == "all"
    assert spec.after_match == ("to_first", "B")
    assert spec.pattern == [("A", 1, 1, True), ("B", 1, None, False), ("C", 2, None, False)]
    assert ("prev_v", "LAST", "B", "v", 1) in spec.measures


def test_mr_skip_to_first_loop_guard(spark):
    """SKIP TO FIRST A where A anchors the match must raise (reference
    throws the same infinite-loop error)."""
    import pandas as pd
    import pytest

    from flink_1_12_0_spark.plans.match_recognize_sql import run_match_recognize

    pdf = pd.DataFrame(
        {
            "k": [1, 1, 1],
            "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:00:01",
                                  "2024-01-01 00:00:02"]),
            "v": [1.0, 2.0, 3.0],
        }
    )
    df = spark.createDataFrame(pdf)
    sql = """
        SELECT * FROM t MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES COUNT(A.*) AS n
            AFTER MATCH SKIP TO FIRST A
            PATTERN (A B)
            DEFINE A AS A.v > 0, B AS B.v > 0
        )"""
    with pytest.raises(Exception, match="infinite loop"):
        run_match_recognize(spark, sql, df=df).collect()


def _mr_two_batch_stream(spark, tmp_path, pdf, cut):
    """``pdf``'s rows as a file stream of two micro-batches: rows[:cut],
    then rows[cut:]."""
    src = str(tmp_path / "src")
    for part in (pdf.iloc[:cut], pdf.iloc[cut:]):
        spark.createDataFrame(part).coalesce(1).write.mode("append").parquet(src)
    schema = spark.createDataFrame(pdf).schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src))


_MR_AB = """
    SELECT * FROM t MATCH_RECOGNIZE (
        PARTITION BY k ORDER BY ts
        MEASURES MATCH_NUMBER() AS mno, CLASSIFIER() AS cls,
                 COUNT(A.*) AS n_a, LAST(B.v) AS b_v
        AFTER MATCH {skip}
        PATTERN (A+ B)
        WITHIN INTERVAL '1' DAY
        DEFINE A AS A.typ = 'a', B AS B.typ = 'b'
    )"""


def _mr_rows(typs, k=1):
    import pandas as pd

    return pd.DataFrame({
        "k": [k] * len(typs),
        "ts": pd.date_range("2024-01-01", periods=len(typs), freq="s"),
        "typ": list(typs),
        "v": [float(i) for i in range(len(typs))],
    })


def test_mr_stream_rejects_skip_to_next_row(spark, tmp_path):
    """SKIP TO NEXT ROW overlaps matches: on ``a a b`` batch mode finds
    two, but the streaming buffer resumes past the last row and would
    emit one.  Streaming must refuse it, as it refuses ALL ROWS."""
    import pytest

    from flink_1_12_0_spark.plans.match_recognize_sql import (
        run_match_recognize,
        run_match_recognize_stream,
    )

    pdf = _mr_rows("aab")
    sql = _MR_AB.format(skip="SKIP TO NEXT ROW")
    batch = run_match_recognize(spark, sql, df=spark.createDataFrame(pdf))
    assert sorted(r["n_a"] for r in batch.collect()) == [1, 2]
    sdf = _mr_two_batch_stream(spark, tmp_path, pdf, 2)
    with pytest.raises(ValueError, match="SKIP PAST LAST ROW only"):
        run_match_recognize_stream(spark, sql, sdf)


def test_mr_stream_match_number_and_classifier_match_batch(spark, tmp_path):
    """A two-micro-batch drain numbers a key's matches on from the
    earlier batch and reads CLASSIFIER() of the match's last row —
    exactly the batch result over the same rows."""
    import pandas as pd

    from flink_1_12_0_spark.plans.match_recognize_sql import (
        run_match_recognize,
        run_match_recognize_stream,
    )
    from flink_1_12_0_spark.streaming.core import run_to_memory

    pdf = pd.concat([_mr_rows("abaab", k=1), _mr_rows("aabab", k=2)],
                    ignore_index=True)
    sql = _MR_AB.format(skip="SKIP PAST LAST ROW")
    cols = ["k", "mno", "cls", "n_a", "b_v"]
    batch = sorted(map(tuple, run_match_recognize(
        spark, sql, df=spark.createDataFrame(pdf)).select(*cols).collect()))
    assert batch == [(1, 1, "B", 1, 1.0), (1, 2, "B", 2, 4.0),
                     (2, 1, "B", 2, 2.0), (2, 2, "B", 1, 4.0)]
    # key 2's second match arrives in the second micro-batch
    sdf = _mr_two_batch_stream(spark, tmp_path, pdf, 8)
    stream = run_to_memory(run_match_recognize_stream(spark, sql, sdf),
                           output_mode="update")
    assert sorted(map(tuple, stream.select(*cols).collect())) == batch


def test_pair_miners_join_on_lsh_buckets(_loaded, spark):
    """sim_threshold_pairs / dedup_embedding_cosine must candidate-join on
    the (tbl, bucket) LSH keys — never a within-label cross product."""
    from flink_1_12_0_spark.plans import inspect as insp

    for name in ("sim_threshold_pairs", "dedup_embedding_cosine"):
        df = registry.QUERIES[name](spark, SF_DIR)
        df.collect()
        plan = insp.plan_string(df)
        join_lines = [ln for ln in plan.splitlines() if "HashJoin" in ln]
        assert any("bucket" in ln for ln in join_lines), f"{name}: no bucket join"
        # the candidate join must not be a bare label-only equi-join
        assert not any(
            "label" in ln and "bucket" not in ln and "vec_id" not in ln
            for ln in join_lines
        ), f"{name}: label-only join found"


def test_pack_sequences_two_level_prefix_sum(_loaded, spark):
    """text_pack_sequences must NOT compute its cumsum in a window
    partitioned by `source` alone over the full table (single task per
    source at 100 TB — round-2 verdict's scale flaw).  The two-level
    rewrite shows: a level-1 window keyed by (source, chunk) — parallel
    across chunks — plus a broadcast join of the tiny per-chunk offsets."""
    from flink_1_12_0_spark.plans import inspect as insp

    df = registry.QUERIES["text_pack_sequences"](spark, SF_DIR)
    df.collect()
    plan = insp.plan_string(df)
    specs = [
        ln for ln in plan.splitlines() if "windowspecdefinition(" in ln
    ]
    level1 = [ln for ln in specs if "source" in ln and "chunk" in ln]
    assert level1, "no (source, chunk)-partitioned window found"
    # the offsets come back via a broadcast join, not another wide shuffle
    assert insp.count_op(df, "BroadcastHashJoin") >= 1
    # exactly one window runs over the full table; the source-only window
    # (the offset scan) sits above the HashAggregate of per-chunk totals
    assert plan.count("Window ") >= 2


def test_translate_rowtime_accessor(spark):
    """TUMBLE_ROWTIME → window.end - 1ms (the reference's maxTimestamp
    rowtime attribute); value-checked against the explicit expression."""
    load_tables(spark, SF_DIR)
    got = spark.sql(translate("""
        SELECT TUMBLE_ROWTIME(ts, INTERVAL '1' HOUR) AS rt, count(*) AS c
        FROM events GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)
    """))
    want = spark.sql("""
        SELECT window.end - INTERVAL 1 MILLISECOND AS rt, count(*) AS c
        FROM events GROUP BY window(ts, '1 hour')
    """)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_mr_subset_and_final_keywords(spark):
    """SUBSET union variables + FINAL/RUNNING measure keywords: measures
    over U=(A,C) aggregate the merged spans."""
    import pandas as pd

    from flink_1_12_0_spark.plans.match_recognize_sql import run_match_recognize

    pdf = pd.DataFrame(
        {
            "k": [1, 1, 1, 1],
            "ts": pd.to_datetime(["2024-01-01 00:00:0%d" % i for i in range(4)]),
            "typ": ["a", "b", "b", "c"],
            "v": [1.0, 2.0, 3.0, 4.0],
        }
    )
    df = spark.createDataFrame(pdf)
    rows = run_match_recognize(spark, """
        SELECT * FROM t MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES FINAL COUNT(U.*) AS n_u,
                     FINAL FIRST(U.v) AS first_u,
                     FINAL LAST(U.v) AS last_u,
                     RUNNING COUNT(B.*) AS n_b
            PATTERN (A B+ C)
            SUBSET U = (A, C)
            DEFINE A AS A.typ = 'a', B AS B.typ = 'b', C AS C.typ = 'c'
        )""", df=df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_u"], r["first_u"], r["last_u"], r["n_b"]) == (2, 1.0, 4.0, 2)


def test_partitioned_scan_prunes(_loaded, spark):
    """src_partitioned_pruning's scan must carry PartitionFilters on
    event_type (directory pruning, not a post-scan filter)."""
    df = registry.QUERIES["src_partitioned_pruning"](spark, SF_DIR)
    df.collect()
    plan = inspect.plan_string(df)
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters", 1
    )[1][:200]


def test_lateral_table_left_join_outer(spark):
    """LEFT JOIN LATERAL TABLE(...) ON TRUE keeps rows whose UDTF output is
    empty (LATERAL VIEW OUTER) — the Flink left correlate contract."""
    from flink_1_12_0_spark.plans.dialect_shim import translate

    spark.createDataFrame(
        [(1, "a b"), (2, "")], "id int, s string"
    ).createOrReplaceTempView("lat_t")
    sql = """SELECT id, w FROM lat_t
             LEFT JOIN LATERAL TABLE(split(s, ' ')) AS T(w) ON TRUE"""
    got = sorted((r.id, r.w) for r in spark.sql(translate(sql)).collect())
    assert got == [(1, "a"), (1, "b"), (2, "")]
    # inner form drops nothing here but must parse to LATERAL VIEW
    assert "LATERAL VIEW" in translate("SELECT 1 FROM x, LATERAL TABLE(f(c)) AS T(w)")


def test_mr_vshape_ticker_itcase(spark):
    """The reference's canonical ticker V-shape scenario
    (MatchRecognizeITCase / SQL docs): STRT DOWN+ UP+ with PREV
    navigation in DEFINE — runs on the NFA path (ctx predicates are not
    regex-compilable) and pins greedy spans + SKIP PAST LAST ROW resume."""
    import pandas as pd

    from flink_1_12_0_spark.plans.match_recognize_sql import run_match_recognize

    prices = [10.0, 9.0, 8.0, 7.0, 12.0, 13.0, 6.0, 5.0, 14.0]
    pdf = pd.DataFrame(
        {
            "sym": ["X"] * len(prices),
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:%02d" % i for i in range(len(prices))]
            ),
            "price": prices,
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("ticker")
    sql = """
        SELECT * FROM ticker MATCH_RECOGNIZE (
            PARTITION BY sym
            ORDER BY ts
            MEASURES FIRST(STRT.price) AS start_price,
                     LAST(DOWN.price)  AS bottom_price,
                     LAST(UP.price)    AS top_price
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (STRT DOWN+ UP+)
            DEFINE DOWN AS DOWN.price < PREV(DOWN.price),
                   UP   AS UP.price   > PREV(UP.price)
        )
    """
    got = sorted(
        (r.start_price, r.bottom_price, r.top_price)
        for r in run_match_recognize(spark, sql).collect()
    )
    assert got == [(6.0, 5.0, 14.0), (10.0, 7.0, 13.0)]


def test_options_hint_stripped(spark):
    """FLIP-113 dynamic table options: `/*+ OPTIONS('k'='v') */` is a
    per-query source-config override — stripped (views have no reader to
    configure) while Spark-native query hints pass through."""
    from flink_1_12_0_spark.plans.dialect_shim import translate

    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView("opt_t")
    sql = "SELECT x FROM opt_t /*+ OPTIONS('scan.startup.mode'='latest-offset') */"
    assert spark.sql(translate(sql)).collect()[0].x == 1
    assert "BROADCAST" in translate("SELECT /*+ BROADCAST(a) */ * FROM a")


def test_quota_sample_two_phase_topk(_loaded, spark):
    """text_source_quota_sample's phase-1 window must partition by
    (source, salt) — 64-way parallel — so the only source-partitioned
    sort runs over the bounded K*64 survivor set, never the full corpus."""
    from flink_1_12_0_spark.plans import inspect as insp

    df = registry.QUERIES["text_source_quota_sample"](spark, SF_DIR)
    df.collect()
    plan = insp.plan_string(df)
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert any("salt" in ln for ln in specs), "no (source, salt) phase-1 window"
    assert plan.count("Window ") >= 2


def test_vocab_coverage_broadcasts_vocab(_loaded, spark):
    """text_vocab_coverage: the V-row vocabulary joins back to the token
    stream as a broadcast, and the global top-V sort runs only over the
    bounded <= V*64 salt survivors (two Window nodes)."""
    from flink_1_12_0_spark.plans import inspect as insp

    df = registry.QUERIES["text_vocab_coverage"](spark, SF_DIR)
    df.collect()
    assert insp.count_op(df, "BroadcastHashJoin") >= 1
    assert insp.plan_string(df).count("Window ") >= 2


def test_substring_chunks_no_allpairs(_loaded, spark):
    """dedup_substring_chunks must stay an equi-join pipeline — no
    nested-loop / cartesian anywhere."""
    from flink_1_12_0_spark.plans import inspect as insp

    df = registry.QUERIES["dedup_substring_chunks"](spark, SF_DIR)
    df.collect()
    plan = insp.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not insp.has_python_stage(df)


def test_describe_connector_table_flink_style(spark):
    """DESCRIBE on a catalog (connector) table shows declared columns,
    computed columns with expressions, and the watermark spec — the
    reference's DescribeTableOperation printout; non-catalog names still
    pass through to Spark's DESCRIBE."""
    from flink_1_12_0_spark.plans.catalog_ddl import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE desc_t (
            event_id BIGINT, user_id BIGINT, ts TIMESTAMP(3),
            double_id AS event_id * 2,
            WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
        ) WITH ('connector' = 'filesystem',
                'path' = '{SF_DIR}/events.parquet', 'format' = 'parquet')
    """)
    rows = {r["name"]: r for r in env.execute_sql("DESCRIBE desc_t").collect()}
    assert rows["event_id"]["type"] == "BIGINT"
    assert rows["double_id"]["computed_column"] == "AS event_id * 2"
    assert rows["ts"]["watermark"]


def test_sha2_named_variants_translate(spark):
    """Flink SHA224/SHA256/SHA384/SHA512(expr) -> Spark sha2(expr, bits),
    including a nested call in the argument."""
    from flink_1_12_0_spark.plans.dialect_shim import translate

    out = translate("SELECT SHA256(name), sha512(concat(a, b)) FROM t")
    assert "sha2(name, 256)" in out and "sha2(concat(a, b), 512)" in out
    row = spark.sql(translate("SELECT SHA384('x') AS h")).collect()[0]
    import hashlib

    assert row["h"] == hashlib.sha384(b"x").hexdigest()


def test_match_rowtime_measure(spark):
    """MATCH_ROWTIME() = the last matched row's event time; MATCH_PROCTIME()
    materializes a processing-time value (type-checked only)."""
    import pandas as pd

    from flink_1_12_0_spark.plans.match_recognize_sql import run_match_recognize

    pdf = pd.DataFrame(
        {
            "k": [1, 1, 1],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:00:01", "2024-01-01 00:00:02"]
            ),
            "typ": ["a", "a", "c"],
        }
    )
    df = spark.createDataFrame(pdf)
    out = run_match_recognize(spark, """
        SELECT * FROM t MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES MATCH_ROWTIME() AS mrt, MATCH_PROCTIME() AS mpt
            PATTERN (A+ C)
            DEFINE A AS A.typ = 'a', C AS C.typ = 'c'
        )""", df=df).collect()
    assert len(out) == 1
    assert out[0]["mrt"] == pdf["ts"].iloc[2].to_pydatetime()
    assert out[0]["mpt"] is not None


def test_truncate_dialect_negative_and_statement(spark):
    """TRUNCATE(x, d) truncates TOWARD ZERO (SqlFunctionUtils.java), so
    negatives differ from floor; the TRUNCATE TABLE statement form (no
    parens) must pass through untouched."""
    from flink_1_12_0_spark.plans.dialect_shim import translate

    row = spark.sql(translate(
        "SELECT TRUNCATE(-42.347, 2) AS a, TRUNCATE(42.347, 2) AS b, "
        "TRUNCATE(7.9) AS c"
    )).collect()[0]
    assert abs(row["a"] - (-42.34)) < 1e-9
    assert abs(row["b"] - 42.34) < 1e-9
    assert abs(row["c"] - 7.0) < 1e-9
    assert "TRUNCATE TABLE t" in translate("TRUNCATE TABLE t")


def test_between_symmetric_translates(spark):
    """BETWEEN SYMMETRIC accepts bounds in either order (Flink/Calcite
    standard; Spark has no SYMMETRIC) via least/greatest normalization."""
    from flink_1_12_0_spark.plans.dialect_shim import translate

    rows = spark.sql(translate(
        "SELECT x FROM VALUES (1), (5), (9) AS t(x) "
        "WHERE x BETWEEN SYMMETRIC 8 AND 2 ORDER BY x"
    )).collect()
    assert [r["x"] for r in rows] == [5]
    # plain BETWEEN untouched
    assert "BETWEEN 2 AND 8" in translate("SELECT 1 WHERE x BETWEEN 2 AND 8")


def test_between_symmetric_spaced_operands(spark):
    """Operands with arithmetic (spaces) must still translate."""
    from flink_1_12_0_spark.plans.dialect_shim import translate

    rows = spark.sql(translate(
        "SELECT x FROM VALUES (1), (5), (9) AS t(x) "
        "WHERE x BETWEEN SYMMETRIC 9 - 1 AND 1 + 1 ORDER BY x"
    )).collect()
    assert [r["x"] for r in rows] == [5]


def test_market_basket_single_lineitem_scan(_loaded, spark):
    """tpcds_market_basket must build baskets from ONE lineitem scan
    (collect_list + in-row pair explode) — not the round-3 two-sided
    self-join on l_orderkey, which shuffled lineitem twice."""
    from flink_1_12_0_spark.plans import inspect as insp

    df = registry.QUERIES["tpcds_market_basket"](spark, SF_DIR)
    plan = insp.plan_string(df)
    assert plan.count("lineitem.parquet") == 1, "lineitem scanned more than once"
    assert "Generate explode" in plan or "Generate" in plan
    assert insp.count_op(df, "SortMergeJoin") == 0


def test_mr_within_compound_intervals(spark):
    """WITHIN accepts compound day-time interval literals and rejects
    year-month resolutions (reference PatternTranslatorTest.scala
    testWithinClause / testWithinClauseWithYearMonthResolution)."""
    import pytest

    from flink_1_12_0_spark.plans.match_recognize_sql import (
        _parse_within_interval,
        parse_match_recognize,
    )

    assert _parse_within_interval(
        "INTERVAL '10 00:00:00.004' DAY TO SECOND"
    ) == 10 * 86400 + 0.004
    assert _parse_within_interval("INTERVAL '10 00' DAY TO HOUR") == 10 * 86400
    spec = parse_match_recognize("""
        SELECT * FROM t MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES FIRST(A.v) AS a_v
            PATTERN (A B) WITHIN INTERVAL '0 02:30' DAY TO MINUTE
            DEFINE A AS A.typ = 'a', B AS B.typ = 'b'
        )""")
    assert spec.within_s == 2 * 3600 + 30 * 60
    with pytest.raises(ValueError, match="day-time"):
        parse_match_recognize("""
            SELECT * FROM t MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES FIRST(A.v) AS a_v
                PATTERN (A B) WITHIN INTERVAL '2-10' YEAR TO MONTH
                DEFINE A AS A.typ = 'a', B AS B.typ = 'b'
            )""")


def test_mr_unsupported_pattern_syntax_raises():
    """Group patterns, alternation, PERMUTE and exclusions inside SQL
    PATTERN must raise clear errors instead of silently mis-parsing
    (reference PatternTranslatorTest NotSupported cases)."""
    import pytest

    from flink_1_12_0_spark.plans.match_recognize_sql import parse_match_recognize

    tmpl = """
        SELECT * FROM t MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES FIRST(A.v) AS a_v
            PATTERN ({pat})
            DEFINE A AS A.typ = 'a', B AS B.typ = 'b', C AS C.typ = 'c'
        )"""
    for pat, msg in [
        ("(A B)+ C", "group patterns"),
        ("( A | B ) C", "alternation"),
        ("PERMUTE(A, C)", "PERMUTE"),
        ("A { - B - } C", "exclusions"),
    ]:
        with pytest.raises(ValueError, match=msg):
            parse_match_recognize(tmpl.format(pat=pat))
    # quantifier braces are untouched
    assert parse_match_recognize(tmpl.format(pat="A{2,6} B")).pattern == [
        ("A", 2, 6, True), ("B", 1, 1, True)
    ]


def test_convert_tz_dialect(spark):
    """CONVERT_TZ(ts_string, tzFrom, tzTo) (SqlDateTimeUtils.convertTz):
    reinterpret a wall-clock string between zones, returning a string."""
    from flink_1_12_0_spark.plans.dialect_shim import translate

    row = spark.sql(translate(
        "SELECT CONVERT_TZ('1970-01-01 00:00:00', 'UTC', 'America/Los_Angeles') AS a, "
        "CONVERT_TZ('2024-06-01 12:30:00', 'Asia/Shanghai', 'UTC') AS b"
    )).collect()[0]
    assert row["a"] == "1969-12-31 16:00:00"
    assert row["b"] == "2024-06-01 04:30:00"


def test_overlaps_dialect(spark):
    """(s1, e1) OVERLAPS (s2, e2): SQL-standard period intersection with
    Calcite's normalization (periods given in either endpoint order);
    sharing only an endpoint counts as overlap (inclusive)."""
    from flink_1_12_0_spark.plans.dialect_shim import translate

    row = spark.sql(translate(
        "SELECT (DATE '2024-01-01', DATE '2024-01-10') OVERLAPS "
        "(DATE '2024-01-05', DATE '2024-01-20') AS a, "
        "(DATE '2024-01-10', DATE '2024-01-01') OVERLAPS "
        "(DATE '2024-01-20', DATE '2024-01-10') AS b, "
        "(DATE '2024-01-01', DATE '2024-01-02') OVERLAPS "
        "(DATE '2024-01-03', DATE '2024-01-04') AS c"
    )).collect()[0]
    assert row["a"] is True      # plain intersection
    assert row["b"] is True      # reversed endpoints + shared endpoint
    assert row["c"] is False     # disjoint


def test_overlaps_interval_period(spark):
    """ADVICE r5 (c): a period's second element may be an INTERVAL
    duration — (start, INTERVAL d) means (start, start + d) (reference
    CustomizedConvertRule.convertTemporalOverlaps).  The old rewrite
    emitted invalid `least(ts, INTERVAL ...)`."""
    from flink_1_12_0_spark.plans.dialect_shim import translate

    row = spark.sql(translate(
        "SELECT (TIMESTAMP '2024-01-01 00:00:00', INTERVAL '2' DAY) OVERLAPS "
        "(TIMESTAMP '2024-01-02 12:00:00', TIMESTAMP '2024-01-05 00:00:00') AS a, "
        "(TIMESTAMP '2024-01-01 00:00:00', INTERVAL '1' DAY) OVERLAPS "
        "(TIMESTAMP '2024-01-03 00:00:00', INTERVAL '1' DAY) AS b, "
        "(TIMESTAMP '2024-01-01 00:00:00', INTERVAL '1' HOUR) OVERLAPS "
        "(TIMESTAMP '2024-01-01 00:30:00', TIMESTAMP '2024-01-01 02:00:00') AS c"
    )).collect()[0]
    assert row["a"] is True      # [Jan1, Jan3] meets [Jan2.5, Jan5]
    assert row["b"] is False     # [Jan1, Jan2] vs [Jan3, Jan4]: disjoint
    assert row["c"] is True      # interval on the left period only


def test_bloom_filter_broadcast_probe(_loaded, spark):
    """decontam_bloom_filter's probe must be a broadcast bit-test join
    against the <=1024-row bit_or word table — never a gram-keyed corpus
    shuffle join (the constant-state property that distinguishes it from
    text_decontaminate's inverted-index join)."""
    from flink_1_12_0_spark.plans import inspect as insp

    df = registry.QUERIES["decontam_bloom_filter"](spark, SF_DIR)
    df.collect()
    plan = insp.plan_string(df)
    assert "bit_or" in plan, "bloom build must pack bits via bit_or"
    join_lines = [ln for ln in plan.splitlines()
                  if "HashJoin" in ln or "SortMergeJoin" in ln]
    assert any("BroadcastHashJoin" in ln and "word_idx" in ln
               for ln in join_lines), "probe is not a broadcast word-idx join"
    assert not any("SortMergeJoin" in ln for ln in join_lines), (
        "bloom probe shuffled — the filter side must broadcast")


def test_bm25_single_corpus_explode_topk_limited(_loaded, spark):
    """text_bm25_topk: the corpus is scanned/exploded exactly once (at the
    tf localCheckpoint — the scoring plan itself reads only the
    checkpointed tf, never documents.parquet), doc length rides the tf
    aggregation key (no doc-sized dl join), and the per-query top-k runs
    under WindowGroupLimit so no full-query-partition sort materializes."""
    from flink_1_12_0_spark.plans import inspect as insp

    df = registry.QUERIES["text_bm25_topk"](spark, SF_DIR)
    df.collect()
    plan = insp.plan_string(df)
    assert "documents.parquet" not in plan, (
        "scoring plan re-reads the corpus — tf checkpoint not reused")
    assert plan.count("Generate explode(w") == 0
    assert "Scan ExistingRDD" in plan  # the checkpointed tf
    assert "WindowGroupLimit" in plan
    # no join keyed on doc_id alone (the removed dl join); joins are on
    # the word/term keys or broadcast stats
    join_lines = [ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln
                  or "SortMergeJoin" in ln or "ShuffledHashJoin" in ln]
    assert not any("doc_id" in ln for ln in join_lines), (
        "doc-keyed join reappeared — dl must ride the tf aggregation")


def test_quality_classifier_broadcasts_weights(_loaded, spark):
    """The fastText-style classifier's weight table must broadcast (vocab
    << corpus — a shuffled weight join would shuffle every token), and the
    whole path must stay JVM-side."""
    df = registry.QUERIES["text_quality_classifier"](spark, SF_DIR)
    assert inspect.count_op(df, "BroadcastHashJoin") >= 1
    assert not inspect.has_python_stage(df)
