"""CI gate for every registered query: the declared rows
(``queries()``, the 50-row slice an external driver reads) and the
extra rows (``extra_queries()``).

Whatever lives in either registry must match its DuckDB oracle at
sf0.001 with the same row-count + columns + order-insensitive
exact-value compare the driver applies (ADVICE r4: the checks must be
enforced, not best-effort)."""

import os
import sys

import duckdb
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
import slt  # noqa: E402
from check_correctness import rows_of  # noqa: E402

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _registered_items():
    from duckdb_vss_spark import queries as qmod
    import duckdb_vss_spark.queries_pipeline  # noqa: F401 — populates registries

    qs = {**qmod.queries(), **qmod.extra_queries()}
    oracles = {**qmod.oracle_sql(), **qmod.extra_oracle_sql()}
    return [(name, qs[name], oracles.get(name)) for name in qs]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name,fn,oracle", _registered_items(), ids=lambda p: p if isinstance(p, str) else "")
def test_extra_query_matches_oracle(spark, oracle_con, name, fn, oracle):
    if name == "q_reference_slt" and slt.missing_reference_scripts():
        pytest.skip(
            "q_reference_slt replays the reference extension's test/sql/** "
            "scripts, and no checkout of them is present"
        )
    spdf = fn(spark, SF).toPandas()
    if oracle is None:
        pytest.skip(f"{name}: no oracle (rows-only surface)")
    opdf = oracle_con.execute(oracle).fetch_df()
    assert len(spdf) == len(opdf), f"{name}: rowcount {len(spdf)} vs {len(opdf)}"
    assert sorted(spdf.columns) == sorted(opdf.columns), f"{name}: column mismatch"
    a, b = rows_of(spdf, 0.0), rows_of(opdf, 0.0)
    diff = [(x, y) for x, y in zip(a, b) if x != y][:1]
    assert a == b, f"{name}: first diff {diff}"
