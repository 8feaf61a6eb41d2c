"""One TopN route: ``VssPlanner.sql`` (DuckDB dialect), the hooked
``spark.sql`` (Spark dialect) and ``VssPlanner.optimize`` all reach the
Catalyst plan matcher (plans/catalyst.py ``match_topk_plan``) and agree,
shape by shape, on the plan marker and the rows.

The table is the reference's 9×9×9 grid (hnsw_basic.test:10-13) with a
``name`` column (the first coordinate, as text) for the string filters,
and an l2sq plus a cosine HNSW index on ``vec``. The query point is off
the lattice, so no two grid points tie on L2 distance. The expected ids
are the index's answers: for a filtered shape, the k nearest first and
the filter after (hnsw_optimize_scan.cpp:161-191); for a shape that
falls back to SEQ_SCAN, the exact filter-first top-k."""

import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark.index import create_hnsw_index, drop_index
from duckdb_vss_spark.plans import (
    VssPlanner,
    install_sql_extension,
    rewrite_operators,
    uninstall_sql_extension,
)

Q = "[2.13, 2.37, 2.61]::FLOAT[3]"
INDEX, SEQ = "HNSW_INDEX_SCAN", "SEQ_SCAN"
TOP = [92, 91, 101, 100, 173]  # the five nearest grid points to Q

# (name, DuckDB-dialect statement, marker, expected ids; None = raises)
SHAPES = [
    ("bare", f"SELECT id FROM g ORDER BY vec <-> {Q} LIMIT 3", INDEX, TOP[:3]),
    ("semicolon", f"SELECT id FROM g ORDER BY vec <-> {Q} LIMIT 3;", INDEX, TOP[:3]),
    ("asc", f"SELECT id FROM g ORDER BY vec <-> {Q} ASC LIMIT 3", INDEX, TOP[:3]),
    ("star", f"SELECT * FROM g ORDER BY vec <-> {Q} LIMIT 3", INDEX, TOP[:3]),
    ("alias_order", f"SELECT id, vec <-> {Q} AS d FROM g ORDER BY d LIMIT 3", INDEX, TOP[:3]),
    ("qualified_vec", f"SELECT id FROM g ORDER BY g.vec <-> {Q} LIMIT 3", INDEX, TOP[:3]),
    ("qualified_id", f"SELECT g.id FROM g ORDER BY vec <-> {Q} LIMIT 3", INDEX, TOP[:3]),
    ("eq", f"SELECT id FROM g WHERE name = '2' ORDER BY vec <-> {Q} LIMIT 5", INDEX, TOP[:4]),
    ("in", f"SELECT id FROM g WHERE id IN (91, 92, 100, 101, 7) ORDER BY vec <-> {Q} LIMIT 5",
     INDEX, TOP[:4]),
    ("not_in", f"SELECT id FROM g WHERE id NOT IN (92, 101) ORDER BY vec <-> {Q} LIMIT 5",
     INDEX, [91, 100, 173]),
    ("between", f"SELECT id FROM g WHERE id BETWEEN 90 AND 100 ORDER BY vec <-> {Q} LIMIT 5",
     INDEX, [92, 91, 100]),
    ("not_between", f"SELECT id FROM g WHERE id NOT BETWEEN 90 AND 95 ORDER BY vec <-> {Q} LIMIT 5",
     INDEX, [101, 100, 173]),
    ("ne", f"SELECT id FROM g WHERE name <> '3' ORDER BY vec <-> {Q} LIMIT 5", INDEX, TOP[:4]),
    ("bang_eq", f"SELECT id FROM g WHERE name != '3' ORDER BY vec <-> {Q} LIMIT 5", INDEX, TOP[:4]),
    ("is_not_null", f"SELECT id FROM g WHERE name IS NOT NULL ORDER BY vec <-> {Q} LIMIT 5",
     INDEX, TOP),
    ("and", f"SELECT id FROM g WHERE id > 91 AND name = '2' ORDER BY vec <-> {Q} LIMIT 5",
     INDEX, [92, 101, 100]),
    ("like", f"SELECT id FROM g WHERE name LIKE '3%' ORDER BY vec <-> {Q} LIMIT 5",
     SEQ, [173, 172, 182, 181, 164]),
    ("or", f"SELECT id FROM g WHERE id < 92 OR id > 100 ORDER BY vec <-> {Q} LIMIT 5",
     SEQ, [91, 101, 173, 172, 182]),
    ("not_gt", f"SELECT id FROM g WHERE NOT (id > 95) ORDER BY vec <-> {Q} LIMIT 5",
     SEQ, [92, 91, 11, 10, 20]),
    ("computed", f"SELECT id*2 AS i2 FROM g ORDER BY vec <-> {Q} LIMIT 3",
     INDEX, [2 * i for i in TOP[:3]]),
    ("computed_with_id", f"SELECT id, id + 1 AS nxt FROM g ORDER BY vec <-> {Q} LIMIT 3",
     INDEX, TOP[:3]),
    ("cosine_op", f"SELECT id FROM g ORDER BY vec <=> {Q} LIMIT 3", INDEX, [557, 466, 465]),
    ("cosine_sub", f"SELECT id FROM g ORDER BY 1.0 - array_cosine_similarity(vec, {Q}) LIMIT 3",
     INDEX, [557, 466, 465]),
    ("array_lit", "SELECT id FROM g ORDER BY array_distance(vec, array(2.13, 2.37, 2.61)) LIMIT 3",
     INDEX, TOP[:3]),
    ("cast_lit", "SELECT id FROM g ORDER BY "
     "array_distance(vec, cast(array(2.13, 2.37, 2.61) as array<float>)) LIMIT 3",
     INDEX, TOP[:3]),
    ("desc", f"SELECT id FROM g ORDER BY vec <-> {Q} DESC LIMIT 3", SEQ, [728, 727, 719]),
    ("limit_expr", f"SELECT id FROM g ORDER BY vec <-> {Q} LIMIT 3 + 2", INDEX, TOP),
    ("dims_mismatch", "SELECT id FROM g ORDER BY vec <-> [2.13, 2.37]::FLOAT[2] LIMIT 3",
     SEQ, None),
]


@pytest.fixture(scope="module")
def routed(spark, grid, tmp_path_factory):
    g = grid.withColumn(
        "name", (F.floor(F.col("id") / 81) + 1).cast("int").cast("string")
    ).cache()
    g.count()
    g.createOrReplaceTempView("g")
    p = VssPlanner(spark)
    paths = []
    for metric in ("l2sq", "cosine"):
        path = str(tmp_path_factory.mktemp("topn_route") / metric)
        p.register_index(
            "g", "vec",
            create_hnsw_index(spark, g, vec_col="vec", id_col="id", path=path,
                              metric=metric, overwrite=True),
        )
        paths.append(path)
    install_sql_extension(p)
    yield p
    uninstall_sql_extension(spark)
    for path in paths:
        drop_index(path)
    spark.catalog.dropTempView("g")
    g.unpersist()


def _ids(rows, name):
    col = "i2" if name == "computed" else "id"
    return [r[col] for r in rows]


@pytest.mark.parametrize("name,sql,marker,want", SHAPES, ids=[s[0] for s in SHAPES])
def test_topn_route_parity(spark, routed, count_jobs, name, sql, marker, want):
    p = routed
    # the Spark-dialect text: only the operators and the ::FLOAT[n]
    # literal Spark cannot parse are translated; 1.0 - cosine
    # similarity stays for the plan matcher to fold
    spark_sql = rewrite_operators(sql)
    if want is None:
        with pytest.raises(Exception):
            p.sql(sql).collect()
        assert p.last_plan == marker
        with pytest.raises(Exception):
            spark.sql(spark_sql).collect()
        assert p.last_plan == marker
        return
    duck = p.sql(sql)
    assert p.last_plan == marker
    duck_rows = duck.collect()
    assert _ids(duck_rows, name) == want
    hooked = spark.sql(spark_sql)
    assert p.last_plan == marker
    assert hooked.columns == duck.columns
    assert hooked.collect() == duck_rows
    if marker == INDEX:
        # a routed read runs only the fetch job: no job to evaluate the
        # query vector, on the hooked and the DataFrame-API entry alike
        rows, jobs = count_jobs(lambda: spark.sql(spark_sql).collect())
        assert (rows, jobs) == (duck_rows, 1)
        plain = spark._vss_sql_original(spark_sql)
        rows, jobs = count_jobs(lambda: p.optimize(plain).collect())
        assert p.last_plan == INDEX
        assert (rows, jobs) == (duck_rows, 1)


def test_scan_dist_column_is_not_a_select_item(spark, routed):
    """The scan's internal ``dist`` column is not addressable by name:
    ``SELECT id, dist … ORDER BY vec <-> …`` is rejected like DuckDB
    rejects it; the alias spelling reads the same values."""
    with pytest.raises(Exception, match="UNRESOLVED_COLUMN"):
        routed.sql(f"SELECT id, dist FROM g ORDER BY vec <-> {Q} LIMIT 3")
    rows = routed.sql(f"SELECT id, vec <-> {Q} AS dist FROM g ORDER BY dist LIMIT 3").collect()
    assert routed.last_plan == INDEX and [r["id"] for r in rows] == TOP[:3]


def test_float_literal_rounds_like_seq_scan(spark, tmp_path):
    """A ``::FLOAT[n]`` or ``cast(… as array<float>)`` query vector is
    rounded to float32 on the index route, as on SEQ_SCAN (and in
    DuckDB). The literal is picked so the rounding reorders the two
    nearest rows: as written (doubles) id 2 is nearer, rounded id 1."""
    t = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [10.0, 10.0]), (4, [-10.0, 5.0])],
        "id long, vec array<float>",
    )
    t.createOrReplaceTempView("fr")
    routed = VssPlanner(spark)
    routed.register_index(
        "fr", "vec",
        create_hnsw_index(spark, t, vec_col="vec", id_col="id",
                          path=str(tmp_path / "fr"), overwrite=True),
    )
    seq = VssPlanner(spark)
    qx, qy = repr(0.5 + 1.6 * 2**-24), repr(1.0 + 0.9 * 2**-24)
    cases = [
        (f"[{qx}, {qy}]::FLOAT[2]", [1, 2]),
        (f"cast(array({qx}, {qy}) as array<float>)", [1, 2]),
        (f"array({qx}, {qy})", [2, 1]),
    ]
    try:
        for lit, order in cases:
            sql = f"SELECT id, array_distance(vec, {lit}) AS d FROM fr ORDER BY d LIMIT 2"
            got = routed.sql(sql).collect()
            assert routed.last_plan == INDEX, lit
            want = seq.sql(sql).collect()
            assert seq.last_plan == SEQ, lit
            assert [r["id"] for r in got] == order, lit
            assert [(r["id"], r["d"].hex()) for r in got] == [
                (r["id"], r["d"].hex()) for r in want
            ], lit
    finally:
        spark.catalog.dropTempView("fr")
