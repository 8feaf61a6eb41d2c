"""Plan-rewrite layer: operator aliases, cosine canonicalization,
TopN -> index-scan routing (reference: hnsw_rewrite.test, hnsw_basic.test)."""

import re

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from duckdb_vss_spark.index import create_hnsw_index, drop_index
from duckdb_vss_spark.operators import knn_search
from duckdb_vss_spark.plans import (
    VssPlanner,
    canonicalize_cosine,
    match_lateral,
    match_topk_plan,
    rewrite_operators,
)
from duckdb_vss_spark.plans.rewrite import match_minby_nested, translate_duckdb_functions


def test_operator_rewrite():
    assert (
        rewrite_operators("SELECT a <-> b FROM t")
        == "SELECT array_distance(a, b) FROM t"
    )
    assert "array_cosine_distance(a, b)" in rewrite_operators("SELECT a <=> b FROM t")
    assert "array_negative_inner_product(a, b)" in rewrite_operators(
        "SELECT a <#> b FROM t"
    )


def test_operator_rewrite_array_literal():
    out = rewrite_operators("SELECT vec <-> [1,2,3]::FLOAT[3] FROM t")
    assert out == "SELECT array_distance(vec, cast(array(1,2,3) as array<float>)) FROM t"


def test_cosine_canonicalization():
    # hnsw_rewrite.test:11-14 — literal 1.0 required
    assert (
        canonicalize_cosine("SELECT 1.0 - array_cosine_similarity(a, b) FROM t")
        == "SELECT array_cosine_distance(a, b) FROM t"
    )
    s = "SELECT 0.5 - array_cosine_similarity(a, b) FROM t"
    assert canonicalize_cosine(s) == s
    # the literal must be the left operand of the subtraction itself:
    # val - 1.0 - sim parses as (val - 1.0) - sim — no fuse (ADVICE r2 #1)
    s2 = "SELECT val - 1.0 - array_cosine_similarity(a, b) FROM t"
    assert canonicalize_cosine(s2) == s2
    # 21.0 is not the literal 1.0 — no fuse (and no mangled '2array_...')
    s3 = "SELECT 21.0 - array_cosine_similarity(a, b) FROM t"
    assert canonicalize_cosine(s3) == s3
    # still fuses in nested/keyword/comparison contexts
    assert (
        canonicalize_cosine("SELECT x, 1.0 - array_cosine_similarity(a, b) FROM t")
        == "SELECT x, array_cosine_distance(a, b) FROM t"
    )
    assert (
        canonicalize_cosine("SELECT (1.0 - array_cosine_similarity(a, b)) FROM t")
        == "SELECT (array_cosine_distance(a, b)) FROM t"
    )
    assert (
        canonicalize_cosine(
            "SELECT CASE WHEN 1.0 - array_cosine_similarity(a, b) > 0.5 THEN 1 ELSE 0 END FROM t"
        )
        == "SELECT CASE WHEN array_cosine_distance(a, b) > 0.5 THEN 1 ELSE 0 END FROM t"
    )


@pytest.fixture(scope="module")
def shape_views(spark):
    """Empty views the plan-level matcher tests analyze against: the
    plan matcher needs resolved statements, and it checks table and
    column names only, never an index."""
    VssPlanner(spark)  # registers the distance functions
    schema = (
        "id long, vec array<float>, v array<float>, other_col array<float>, "
        "x int, y int, label int, name string, d date, a int, b string, c int"
    )
    for name in ("sh_items", "sh_t", "sh_a", "sh_b"):
        spark.createDataFrame([], schema).createOrReplaceTempView(name)
    yield {("sh_items", "vec"), ("sh_t", "v"), ("sh_a", "v")}
    for name in ("sh_items", "sh_t", "sh_a", "sh_b"):
        spark.catalog.dropTempView(name)


def _plan_match(spark, sql, registered):
    """``match_topk_plan`` over the analyzed plan of a DuckDB-dialect
    statement, translated the way ``VssPlanner.sql`` translates it."""
    raw = getattr(spark, "_vss_sql_original", None) or spark.sql
    df = raw(translate_duckdb_functions(canonicalize_cosine(rewrite_operators(sql))))
    return match_topk_plan(spark, df._jdf.queryExecution().analyzed(), registered)


def test_match_topk_shapes(spark, shape_views):
    def match(sql):
        return _plan_match(spark, sql, shape_views)

    m = match(
        "SELECT id FROM sh_items ORDER BY array_distance(vec, array(1.0, 2.0, 3.0)) LIMIT 5"
    )
    assert m and m.table == "sh_items" and m.k == 5 and m.metric == "l2sq"
    assert m.query_vec == [1.0, 2.0, 3.0]
    # operator-alias + cast form matches too; FLOAT[2] rounds to float32
    m2 = match("SELECT id FROM sh_items ORDER BY vec <=> [0.1,0.2]::FLOAT[2] LIMIT 3")
    assert m2 and m2.metric == "cosine"
    assert m2.query_vec == [0.10000000149011612, 0.20000000298023224]
    # deviations must NOT match (conservative, hnsw_optimize_scan.cpp:39-84)
    assert match(
        "SELECT sh_a.id FROM sh_a JOIN sh_b ON sh_a.x=sh_b.x "
        "ORDER BY array_distance(sh_a.v, array(1.0)) LIMIT 5"
    ) is None
    assert match("SELECT id FROM sh_t ORDER BY array_distance(v, other_col) LIMIT 5") is None
    assert match("SELECT id FROM sh_t ORDER BY array_distance(v, array(1.0)) DESC LIMIT 5") is None
    # WHERE matches, carrying the predicate for the filter pull-up
    # (search k first, filter after — hnsw_optimize_scan.cpp:161-191)
    mw = match("SELECT id FROM sh_t WHERE x > 1 ORDER BY array_distance(v, array(1.0)) LIMIT 5")
    assert mw is not None and len(mw.filters) == 1 and "sh_t.x > 1" in mw.filters[0]


@pytest.fixture(scope="module")
def planner_with_index(spark, grid, tmp_path_factory):
    grid.createOrReplaceTempView("grid_items")
    path = str(tmp_path_factory.mktemp("planidx") / "grid_idx")
    idx = create_hnsw_index(
        spark, grid, vec_col="vec", id_col="id", path=path, overwrite=True
    )
    p = VssPlanner(spark)
    p.register_index("grid_items", "vec", idx)
    yield p
    drop_index(path)


def test_planner_routes_to_index(spark, grid, planner_with_index):
    p = planner_with_index
    df = p.sql(
        "SELECT id FROM grid_items ORDER BY vec <-> [2.0,2.0,2.0]::FLOAT[3] LIMIT 3"
    )
    # EXPLAIN parity: the reference asserts HNSW_INDEX_SCAN in EXPLAIN
    # (hnsw_basic.test:19-22); our marker is the same signal
    assert p.last_plan == "HNSW_INDEX_SCAN"
    got = sorted(r["id"] for r in df.collect())
    want = sorted(
        r["id"]
        for r in knn_search(grid, "vec", [2.0, 2.0, 2.0], 3).select("id").collect()
    )
    assert got == want


def test_planner_falls_back_without_index(spark, grid, planner_with_index):
    p = planner_with_index
    df = p.sql("SELECT count(*) AS n FROM grid_items")
    assert p.last_plan == "SEQ_SCAN"
    assert df.first()["n"] == grid.count()


def test_planner_fallback_runs_reference_sql(spark, grid, planner_with_index):
    # operator-alias SQL that does NOT match the topk shape still runs
    # (rewritten to function calls, computed brute force)
    p = planner_with_index
    df = p.sql(
        "SELECT id, vec <-> [1.0,1.0,1.0]::FLOAT[3] AS d FROM grid_items WHERE id < 5 ORDER BY d, id LIMIT 2"
    )
    assert p.last_plan == "SEQ_SCAN"
    rows = df.collect()
    assert [r["id"] for r in rows] == [0, 1]


def test_query_vector_is_the_literal_as_written(spark, shape_views):
    """The matcher evaluates the query vector on the driver; each value
    is bit-identical to Spark's own evaluation of the literal:
    ``CAST(array(…) AS ARRAY<DOUBLE>)`` for the ``array(…)`` spelling,
    and the float32 rounding (``CAST(… AS ARRAY<FLOAT>)``) for the
    ``::FLOAT[n]`` and ``cast(… as array<float>)`` spellings — the
    values the same statement scores with on SEQ_SCAN."""
    import numpy as np

    rng = np.random.default_rng(11)
    vals = [np.format_float_positional(x, unique=True) for x in rng.standard_normal(62).astype(np.float32)]
    vals += ["0.1", "-12345.678901234567890123"]
    lit = ", ".join(vals)
    raw = getattr(spark, "_vss_sql_original", None) or spark.sql
    want = raw(f"SELECT CAST(array({lit}) AS ARRAY<DOUBLE>) AS v").first()["v"]
    want32 = raw(
        f"SELECT CAST(CAST(array({lit}) AS ARRAY<FLOAT>) AS ARRAY<DOUBLE>) AS v"
    ).first()["v"]
    assert want32 != want  # the last two elements are not float32 values
    for q, w in (
        (f"[{lit}]::FLOAT[64]", want32),
        (f"array({lit})", want),
        (f"cast(array({lit}) as array<float>)", want32),
    ):
        m = _plan_match(
            spark, f"SELECT id FROM sh_items ORDER BY array_distance(vec, {q}) LIMIT 3", shape_views
        )
        assert [x.hex() for x in m.query_vec] == [x.hex() for x in w], q


def test_match_topk_alias_order_form(spark, shape_views):
    # the reference's own plan tests all use the aliased projection form
    # (hnsw_result.test:16-26): SELECT dist_fn(...) AS x ... ORDER BY x;
    # the aliased call is served by the scan's dist column
    m = _plan_match(
        spark,
        "SELECT array_distance(vec, [1,2,3]::FLOAT[3]) as x FROM sh_items ORDER BY x LIMIT 3",
        shape_views,
    )
    assert m and m.k == 3 and m.metric == "l2sq" and m.projections == [["`dist` AS `x`"]]
    m2 = _plan_match(
        spark,
        "SELECT id, array_cosine_distance(vec, array(1.0, 0.0)) AS d FROM sh_items "
        "ORDER BY d LIMIT 2",
        shape_views,
    )
    assert m2 and m2.metric == "cosine" and m2.projections == [["sh_items.id", "`dist` AS `d`"]]
    # ordering by a DIFFERENT alias must not match
    assert (
        _plan_match(
            spark,
            "SELECT array_distance(vec, array(1.0)) AS x, y FROM sh_items ORDER BY y LIMIT 3",
            shape_views,
        )
        is None
    )


def test_planner_metric_routes_to_matching_index(spark, grid, tmp_path_factory):
    """hnsw_metrics.test: one column, three indexes (ip/cosine/l2sq) —
    each distance function routes to the index with the matching
    metric."""
    grid.createOrReplaceTempView("grid_metrics")
    p = VssPlanner(spark)
    paths = {}
    for metric in ("ip", "cosine", "l2sq"):
        path = str(tmp_path_factory.mktemp("m_idx") / metric)
        idx = create_hnsw_index(
            spark, grid, vec_col="vec", id_col="id", path=path, metric=metric,
            overwrite=True,
        )
        p.register_index("grid_metrics", "vec", idx)
        paths[metric] = (path, idx)
    try:
        for fn, metric in (
            ("array_negative_inner_product", "ip"),
            ("array_cosine_distance", "cosine"),
            ("array_distance", "l2sq"),
        ):
            df = p.sql(
                f"SELECT {fn}(vec, [1,2,3]::FLOAT[3]) as x FROM grid_metrics ORDER BY x LIMIT 3"
            )
            assert p.last_plan == "HNSW_INDEX_SCAN", (fn, p.last_plan)
            m = _plan_match(
                spark,
                f"SELECT id FROM grid_metrics ORDER BY {fn}(vec, array(1.0,2.0,3.0)) LIMIT 3",
                set(p._indexes),
            )
            routed = p._index_for(m.table, m.vec_col, m.metric, len(m.query_vec))
            assert routed is paths[metric][1]
            assert df.count() == 3
    finally:
        for path, _ in paths.values():
            drop_index(path)


def test_planner_where_post_filter(spark, grid, planner_with_index):
    """WHERE + index: filter pulls above the scan (k first, filter after,
    may under-return — the reference's documented trade). Without the
    index the same SQL filters first and returns the full k."""
    p = planner_with_index
    sql = (
        "SELECT id FROM grid_items WHERE id >= 400 "
        "ORDER BY vec <-> [1.0,1.0,1.0]::FLOAT[3] LIMIT 5"
    )
    got = p.sql(sql).collect()
    assert p.last_plan == "HNSW_INDEX_SCAN"
    # the 5 nearest to (1,1,1) all have small ids -> all filtered: under-return
    assert len(got) == 0
    p2 = VssPlanner(spark)
    rows = p2.sql(sql).collect()
    assert p2.last_plan == "SEQ_SCAN" and len(rows) == 5
    assert all(r["id"] >= 400 for r in rows)


def test_match_minby():
    m, select_list, a, b = match_minby_nested(
        "SELECT min_by(id, array_distance(vec, array(1.0, 2.0, 3.0)), 4) AS nbrs FROM items"
    )
    assert m.k == 4 and m.value_col == "id" and m.table == "items"
    assert select_list[:a] == "" and select_list[b:].strip() == "AS nbrs"
    # k bound 0 < k < 2048 (hnsw_optimize_topk.cpp:162-165)
    assert match_minby_nested("SELECT min_by(id, array_distance(v, array(1.0)), 0) FROM t") is None
    assert match_minby_nested("SELECT min_by(id, array_distance(v, array(1.0)), 5000) FROM t") is None


def test_match_maxby():
    # max_by over a similarity — the macro form for cosine/ip metrics
    # (hnsw_index_macros.cpp:24-29)
    m = match_minby_nested(
        "SELECT max_by(id, array_cosine_similarity(vec, array(1.0, 0.0)), 4) AS nbrs FROM items"
    )[0]
    assert m.descending and m.metric == "cosine" and m.k == 4
    m2 = match_minby_nested("SELECT max_by(id, array_inner_product(v, array(1.0)), 2) FROM t")[0]
    assert m2.descending and m2.metric == "ip"
    # mismatched pairings are not a nearest-k shape: max_by of a distance,
    # min_by of a similarity
    assert match_minby_nested("SELECT max_by(id, array_distance(v, array(1.0)), 2) FROM t") is None
    assert match_minby_nested("SELECT min_by(id, array_cosine_similarity(v, array(1.0)), 2) FROM t") is None


def test_planner_maxby_brute(spark, grid, planner_with_index):
    # grid index metric is l2sq, so the cosine max_by runs the SEQ path;
    # ranking by similarity DESC must return the same ids as ranking by
    # cosine distance ASC
    p = VssPlanner(spark)
    grid.createOrReplaceTempView("grid_items")
    got = p.sql(
        "SELECT max_by(id, array_cosine_similarity(vec, array(1.0, 2.0, 3.0)), 3) AS nbrs FROM grid_items"
    ).first()["nbrs"]
    assert p.last_plan == "SEQ_SCAN"
    from duckdb_vss_spark.functions.distance import array_cosine_distance

    want = [
        r["id"]
        for r in grid.select("id", array_cosine_distance("vec", [1.0, 2.0, 3.0]).alias("d"))
        .orderBy("d", "id")
        .limit(3)
        .collect()
    ]
    assert got == want


def test_match_lateral():
    m = match_lateral(
        "SELECT * FROM queries a, LATERAL (SELECT b.id FROM items b "
        "ORDER BY array_distance(a.qv, b.vec) LIMIT 3) nn"
    )
    assert m and m.outer == "queries" and m.inner == "items" and m.k == 3
    assert m.query_col == "qv" and m.item_col == "vec"
    # swapped argument order also matches (hnsw_index.cpp:632-662)
    m2 = match_lateral(
        "SELECT * FROM queries a, LATERAL (SELECT b.id FROM items b "
        "ORDER BY array_distance(b.vec, a.qv) LIMIT 3) nn"
    )
    assert m2 and m2.query_col == "qv" and m2.item_col == "vec"


def test_planner_minby_indexed_and_brute(spark, grid, planner_with_index):
    p = planner_with_index
    sql = "SELECT min_by(id, array_distance(vec, array(2.0, 2.0, 2.0)), 3) AS nbrs FROM grid_items"
    got = p.sql(sql).first()["nbrs"]
    assert p.last_plan == "HNSW_INDEX_SCAN"
    # brute-force path: planner without a registered index, same result
    p2 = VssPlanner(spark)
    want = p2.sql(sql).first()["nbrs"]
    assert p2.last_plan == "SEQ_SCAN"
    assert got == want
    # the grid has a unique nearest point at (2,2,2): id = 1*81+1*9+1 = 91
    assert got[0] == 91 and len(got) == 3


def test_planner_lateral_indexed(spark, grid, planner_with_index):
    p = planner_with_index
    queries = grid.where(F.col("id").isin([0, 400])).select(
        F.col("id").alias("qid"), F.col("vec").alias("qv")
    )
    queries.createOrReplaceTempView("grid_queries")
    df = p.sql(
        "SELECT qid, id, dist FROM grid_queries a, LATERAL (SELECT b.id FROM grid_items b "
        "ORDER BY array_distance(a.qv, b.vec) LIMIT 3) nn"
    )
    assert p.last_plan == "HNSW_INDEX_JOIN"
    rows = df.collect()
    assert len(rows) == 6
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r["id"])
    # each query's own point is its nearest neighbor (dist 0)
    assert 0 in by_q[0] and 400 in by_q[400]


def test_planner_lateral_ivf_fallback(spark, grid, tmp_path_factory):
    """With only an IVF index registered, the lateral top-k routes to
    the list-routed IVF join (marker IVF_INDEX_JOIN); full default
    probe makes it exact vs the brute crossjoin path."""
    from duckdb_vss_spark.index import create_ivf_index, drop_ivf_index

    grid.createOrReplaceTempView("grid_ivf_items")
    path = str(tmp_path_factory.mktemp("ivfjoin") / "grid_ivf")
    idx = create_ivf_index(
        spark, grid, vec_col="vec", id_col="id", path=path, nlist=8,
        default_nprobe=8, overwrite=True,
    )
    try:
        queries = grid.where(F.col("id").isin([0, 400])).select(
            F.col("id").alias("qid"), F.col("vec").alias("qv")
        )
        queries.createOrReplaceTempView("grid_ivf_queries")
        sql = (
            "SELECT qid, id, dist FROM grid_ivf_queries a, LATERAL "
            "(SELECT b.id FROM grid_ivf_items b "
            "ORDER BY array_distance(a.qv, b.vec) LIMIT 3) nn"
        )
        p = VssPlanner(spark)
        p.register_index("grid_ivf_items", "vec", idx)
        got = p.sql(sql)
        assert p.last_plan == "IVF_INDEX_JOIN"
        p2 = VssPlanner(spark)
        want = p2.sql(sql)
        assert p2.last_plan == "SEQ_SCAN"
        a = sorted((r["qid"], r["id"]) for r in got.collect())
        b = sorted((r["qid"], r["id"]) for r in want.collect())
        assert a == b and len(a) == 6
    finally:
        drop_ivf_index(path)


def test_planner_metric_mismatch_no_rewrite(spark, grid, planner_with_index):
    # l2sq index must not serve a cosine query (hnsw_metrics.test)
    p = planner_with_index
    p.sql("SELECT id FROM grid_items ORDER BY vec <=> [1.0,1.0,1.0]::FLOAT[3] LIMIT 2")
    assert p.last_plan == "SEQ_SCAN"


def test_native_lateral_sql_fallback(spark, grid, planner_with_index):
    # without an index on the inner table, reference-style LATERAL SQL
    # still runs through Spark's own correlated-subquery support
    p = planner_with_index
    grid.where(F.col("id") == 0).select(
        F.col("id").alias("qid"), F.col("vec").alias("qv")
    ).createOrReplaceTempView("one_query")
    grid.createOrReplaceTempView("grid_items_noidx")
    df = p.sql(
        "SELECT qid, nn.id FROM one_query a, LATERAL (SELECT b.id FROM grid_items_noidx b "
        "ORDER BY array_distance(a.qv, b.vec) LIMIT 3) nn"
    )
    assert p.last_plan == "SEQ_SCAN"
    ids = sorted(r["id"] for r in df.collect())
    want = sorted(
        r["id"]
        for r in knn_search(grid, "vec", [1.0, 1.0, 1.0], 3).select("id").collect()
    )
    assert ids == want


def test_pushable_where_gate(spark, shape_views):
    """Only scan-pushable conjunctions ride the index post-filter route
    (hnsw_optimize_scan.cpp:58-84: a residual filter BLOCKS the
    rewrite); everything else must fall through to SEQ_SCAN."""

    def match(where):
        return _plan_match(
            spark,
            f"SELECT id FROM sh_t WHERE {where} ORDER BY array_distance(v, array(1.0)) LIMIT 5",
            shape_views,
        )

    for ok in (
        "x > 1",
        "label < 3",
        "id >= 400",
        "name = 'a b c'",
        "x IS NOT NULL",
        "x IN (1, 2, 3)",
        "name NOT IN ('a', 'b')",
        "x BETWEEN 1 AND 15 AND y = 2",
        "d >= DATE '1996-01-01' AND d < DATE '1997-01-01'",
        "a = 1 AND b <> 'z' AND c IS NULL",
        "x NOT BETWEEN 1 AND 3",
        "name != 'q' AND CAST(x AS BIGINT) > 2",
    ):
        m = match(ok)
        assert m is not None and len(m.filters) == 1, ok
    for bad in (
        "x > 1 OR y > 2",
        "name LIKE 'a%'",
        "x + 1 > 2",
        "lower(name) = 'a'",
        "x IN (SELECT id FROM sh_t)",
        "NOT (x > 1)",
        "x > y",
        "CASE WHEN x > 1 THEN 1 ELSE 0 END = 1",
    ):
        assert match(bad) is None, bad


def test_planner_nonpushable_where_filters_first(spark, grid, planner_with_index):
    """LIKE predicate + ORDER BY dist LIMIT k: the planner must NOT use
    the index (which searches k first and under-returns) — it falls to
    SEQ_SCAN and returns the exact filter-first top-k."""
    p = planner_with_index
    got = p.sql(
        "SELECT id FROM grid_items WHERE CAST(id AS STRING) LIKE '4%' "
        "ORDER BY vec <-> [1.0,1.0,1.0]::FLOAT[3] LIMIT 5"
    )
    assert p.last_plan == "SEQ_SCAN"
    rows = got.collect()
    assert len(rows) == 5
    assert all(str(r["id"]).startswith("4") for r in rows)


def test_match_topk_qualified_column(spark, grid, planner_with_index, shape_views):
    """t.vec qualified refs rewrite when the qualifier names the scanned
    table; foreign qualifiers don't match."""
    m = _plan_match(
        spark,
        "SELECT id FROM sh_items ORDER BY sh_items.vec <-> [1.0,2.0,3.0]::FLOAT[3] LIMIT 5",
        shape_views,
    )
    assert m is not None and m.vec_col == "vec" and m.table == "sh_items"
    # a foreign qualifier does not resolve: the analyzer rejects it
    with pytest.raises(AnalysisException):
        _plan_match(
            spark,
            "SELECT id FROM sh_items ORDER BY other.vec <-> [1.0,2.0,3.0]::FLOAT[3] LIMIT 5",
            shape_views,
        )
    # end-to-end: the qualified form routes to the registered index
    p = planner_with_index
    df = p.sql(
        "SELECT id FROM grid_items "
        "ORDER BY grid_items.vec <-> [1.0,1.0,1.0]::FLOAT[3] LIMIT 3"
    )
    assert p.last_plan == "HNSW_INDEX_SCAN"
    assert df.count() == 3


def test_quantized_indexes_route_through_topk_rule(spark, tmp_path):
    """r12: any registered index family routes the TopN rule — the
    quantized artifacts (PQ/BQ) return (id, dist) and the planner
    late-materializes the projection's payload columns by broadcast
    id-join, preserving the scan's order. The routed result must equal
    the direct index call exactly (both run the same default
    signature), and the marker names the family."""
    from pyspark.sql import functions as F

    from duckdb_vss_spark.index import create_bq_index, create_pq_index
    from duckdb_vss_spark.plans import VssPlanner

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    emb.createOrReplaceTempView("emb_routed")
    nn = emb.where(F.col("embedding").isNotNull())
    qv = [float(x) for x in nn.where(F.col("vec_id") == 11).first()["embedding"]]
    lit = ",".join(repr(x) for x in qv)

    pq = create_pq_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "pq"), m=16, ksub=16
    )
    p = VssPlanner(spark)
    p.register_index("emb_routed", "embedding", pq)
    routed = p.sql(
        f"SELECT vec_id, label FROM emb_routed "
        f"ORDER BY array_distance(embedding, array({lit})) LIMIT 5"
    )
    assert p.last_plan == "PQ_INDEX_SCAN"
    direct = [r["vec_id"] for r in pq.knn_search(qv, 5).collect()]
    assert [r["vec_id"] for r in routed.collect()] == direct

    bq = create_bq_index(
        spark, emb.select("vec_id", "embedding"), "embedding", "vec_id",
        str(tmp_path / "bq"),
    )
    p2 = VssPlanner(spark)
    p2.register_index("emb_routed", "embedding", bq)
    routed2 = p2.sql(
        f"SELECT vec_id FROM emb_routed "
        f"ORDER BY array_distance(embedding, array({lit})) LIMIT 5"
    )
    assert p2.last_plan == "BQ_INDEX_SCAN"
    direct2 = [r["vec_id"] for r in bq.knn_search(qv, 5).collect()]
    assert [r["vec_id"] for r in routed2.collect()] == direct2


# -- SQL DDL surface (r13): CREATE INDEX / DROP INDEX / PRAGMAs ------------
# The statements every reference test file opens with (hnsw_basic.test:16,
# hnsw_options.test, hnsw_index_pragmas.cpp). Spark has no rowids, so the
# indexed table must carry an integral id column — the one documented
# deviation (WITH (id='col') overrides the inference).


def test_sql_create_index_routes_and_drop_reverts(spark, grid):
    grid.createOrReplaceTempView("ddl_items")
    p = VssPlanner(spark)
    r = p.sql("CREATE INDEX ddl_idx ON ddl_items USING HNSW (vec)")
    assert p.last_plan == "CREATE_HNSW_INDEX" and r.count() == 0
    q = "SELECT id FROM ddl_items ORDER BY vec <-> [2.0,2.0,2.0]::FLOAT[3] LIMIT 3"
    got = sorted(r["id"] for r in p.sql(q).collect())
    assert p.last_plan == "HNSW_INDEX_SCAN"
    want = sorted(
        r["id"]
        for r in knn_search(grid, "vec", [2.0, 2.0, 2.0], 3).select("id").collect()
    )
    assert got == want
    # duplicate name: reference errors; IF NOT EXISTS: no-op
    with pytest.raises(ValueError, match="already exists"):
        p.sql("CREATE INDEX ddl_idx ON ddl_items USING HNSW (vec)")
    p.sql("CREATE INDEX IF NOT EXISTS ddl_idx ON ddl_items USING HNSW (vec)")
    # info pragma: one row, live count, composable projection
    info = p.sql(
        "SELECT index_name, count FROM pragma_hnsw_index_info() ORDER BY index_name"
    )
    assert p.last_plan == "INDEX_INFO"
    assert [(r[0], r[1]) for r in info.collect()] == [("ddl_idx", grid.count())]
    # compact pragma: rebuild-from-snapshot, still routable after
    assert p.sql("PRAGMA hnsw_compact_index('ddl_idx')").count() == 0
    assert p.last_plan == "COMPACT_INDEX"
    assert sorted(r["id"] for r in p.sql(q).collect()) == want
    assert p.last_plan == "HNSW_INDEX_SCAN"
    # drop: seq-scan from then on, artifact gone, IF EXISTS tolerated
    p.sql("DROP INDEX ddl_idx")
    assert p.last_plan == "DROP_INDEX"
    p.sql(q)
    assert p.last_plan == "SEQ_SCAN"
    with pytest.raises(ValueError, match="does not exist"):
        p.sql("DROP INDEX ddl_idx")
    assert p.sql("DROP INDEX IF EXISTS ddl_idx").count() == 0
    assert p.sql("SELECT count(*) AS c FROM pragma_hnsw_index_info()").first()["c"] == 0


def test_sql_create_index_option_validation(spark, grid):
    """Binder-error wording parity with hnsw_options.test."""
    grid.createOrReplaceTempView("ddl_items2")
    p = VssPlanner(spark)
    cases = [
        ("M = 'foo'", "HNSW index 'M' must be an integer"),
        ("M = 0", "HNSW index 'M' must be at least 2"),
        ("M0 = 'foo'", "HNSW index 'M0' must be an integer"),
        ("M0 = 0", "HNSW index 'M0' must be at least 2"),
        ("ef_construction = 'foo'", "HNSW index 'ef_construction' must be an integer"),
        ("ef_construction = 0", "HNSW index 'ef_construction' must be at least 1"),
        ("ef_search = 'foo'", "HNSW index 'ef_search' must be an integer"),
        ("ef_search = 0", "HNSW index 'ef_search' must be at least 1"),
    ]
    for opt, msg in cases:
        with pytest.raises(ValueError, match=re.escape(msg)):
            p.sql(f"CREATE INDEX bad ON ddl_items2 USING HNSW (vec) WITH ({opt})")
    # metric validation flows through create_hnsw_index's gate
    with pytest.raises(ValueError, match="'metric' must be one of"):
        p.sql(
            "CREATE INDEX bad ON ddl_items2 USING HNSW (vec) WITH (metric = 'manhattan')"
        )


def test_sql_create_index_with_options_and_id_inference(spark, grid):
    """WITH options thread to the build; ef_search persists on the index
    and the routed scan honors it; lowercase using hnsw(col) parses
    (hnsw_basic.test uses both spellings); a table with NO integral id
    column errors with the documented deviation message."""
    grid.createOrReplaceTempView("ddl_items3")
    p = VssPlanner(spark)
    p.sql(
        "CREATE INDEX opt_idx ON ddl_items3 USING hnsw(vec) "
        "WITH (metric = 'cosine', M = 8, M0 = 16, ef_construction = 64, ef_search = 77)"
    )
    ix = p._named["opt_idx"]["index"]
    assert ix.metric == "cosine"
    assert ix.manifest["params"]["m"] == 8
    assert ix.manifest["params"]["m0"] == 16
    assert ix.manifest["params"]["ef_construction"] == 64
    assert ix._sql_ef_search == 77
    df = p.sql(
        "SELECT id FROM ddl_items3 ORDER BY "
        "array_cosine_distance(vec, [2.0,1.0,2.0]::FLOAT[3]) LIMIT 3"
    )
    assert p.last_plan == "HNSW_INDEX_SCAN" and df.count() == 3
    p.sql("DROP INDEX opt_idx")
    # no integral id column anywhere -> the documented rowid deviation
    spark.createDataFrame(
        [([1.0, 2.0, 3.0],)], "vec array<float>"
    ).createOrReplaceTempView("no_id_items")
    with pytest.raises(ValueError, match="no rowids"):
        p.sql("CREATE INDEX nid ON no_id_items USING HNSW (vec)")


def test_sql_create_index_quantized_families(spark, grid):
    """Engine extension beyond the reference's HNSW-only DDL: the
    quantized families are SQL-creatable too (USING IVF/PQ/IVFPQ/
    IVFSQ/BQ, IVFADC aliasing IVFPQ), route through the planner's
    exact-rescore quantized path, compact via the self-contained
    family compact(), and drop cleanly."""
    import os

    grid.createOrReplaceTempView("ddl_items4")
    p = VssPlanner(spark)
    q = (
        "SELECT id FROM ddl_items4 ORDER BY "
        "vec <-> [2.0,2.0,2.0]::FLOAT[3] LIMIT 3"
    )
    want = sorted(
        r["id"]
        for r in knn_search(grid, "vec", [2.0, 2.0, 2.0], 3).select("id").collect()
    )
    for family, marker, opts in [
        ("IVF", "IVF_INDEX_SCAN", " WITH (nlist = 4)"),
        ("PQ", "PQ_INDEX_SCAN", " WITH (m = 3)"),
        ("IVFADC", "IVF_PQ_INDEX_SCAN", " WITH (nlist = 4, m = 3)"),
        ("BQ", "BQ_INDEX_SCAN", ""),
    ]:
        nm = f"qidx_{family.lower()}"
        p.sql(f"CREATE INDEX {nm} ON ddl_items4 USING {family} (vec){opts}")
        assert p.last_plan.startswith("CREATE_"), p.last_plan
        path = p._named[nm]["index"].path
        df = p.sql(q)
        assert p.last_plan == marker, (family, p.last_plan)
        # the planner exact-rescores quantized shortlists against the
        # routed table, so full-probe/dense families are exact here
        got = sorted(r["id"] for r in df.collect())
        assert got == want, (family, got, want)
        assert p.sql(f"PRAGMA hnsw_compact_index('{nm}')").count() == 0
        p.sql(f"DROP INDEX {nm}")
        assert not os.path.exists(path)
    assert p.sql("SELECT count(*) AS c FROM pragma_hnsw_index_info()").first()["c"] == 0


def test_sql_set_reference_settings(spark, grid):
    """SET hnsw_ef_search / SET hnsw_enable_experimental_persistence —
    the reference's session settings as SQL (hnsw_experimental_
    persistence.test; settings registered in hnsw_index_physical_
    create.cpp) — translate to the spark.vss.* confs, with the gate
    actually blocking CREATE INDEX while persistence is off."""
    from duckdb_vss_spark.session import CONF_EF_SEARCH, get_ef_search

    grid.createOrReplaceTempView("set_items")
    p = VssPlanner(spark)
    try:
        p.sql("SET hnsw_ef_search = 333")
        assert get_ef_search(spark) == 333
        with pytest.raises(ValueError, match="must be an integer"):
            p.sql("SET hnsw_ef_search = 'foo'")
        with pytest.raises(ValueError, match="at least 1"):
            p.sql("SET hnsw_ef_search = 0")
        p.sql("SET hnsw_enable_experimental_persistence = false")
        with pytest.raises(ValueError, match="persistence. is set to true"):
            p.sql("CREATE INDEX blocked ON set_items USING HNSW (vec)")
        p.sql("SET hnsw_enable_experimental_persistence = true")
        p.sql("CREATE INDEX unblocked ON set_items USING HNSW (vec)")
        p.sql("DROP INDEX unblocked")
        p.sql("RESET hnsw_ef_search")
        assert get_ef_search(spark) != 333
    finally:
        for c in (CONF_EF_SEARCH, "spark.vss.enable_experimental_persistence"):
            try:
                spark.conf.unset(c)
            except Exception:
                pass


def test_planner_lateral_select_list_robust(spark, grid, planner_with_index):
    """Review r15: the explicit outer select list must survive (a) a
    subquery alias used inside a larger expression, (b) alias tokens
    inside string literals, and (c) dotted references inside calls."""
    p = planner_with_index
    queries = grid.where(F.col("id").isin([0, 400])).select(
        F.col("id").alias("qid"), F.col("vec").alias("qv")
    )
    queries.createOrReplaceTempView("grid_queries")
    df = p.sql(
        "SELECT abs(a.qid) AS aq, 'nbr=' || nbr AS tag, nbr + 1 AS nplus "
        "FROM grid_queries a, LATERAL (SELECT b.id as nbr FROM grid_items b "
        "ORDER BY array_distance(a.qv, b.vec) LIMIT 1) nn"
    )
    rows = {r["aq"]: r for r in df.collect()}
    assert rows[0]["tag"] == "nbr=0" and rows[0]["nplus"] == 1
    assert rows[400]["tag"] == "nbr=400" and rows[400]["nplus"] == 401
