import os
import sys

import pytest

# the checkout this conftest lives in, ahead of any installed copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from duckdb_vss_spark import get_spark

    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` → ``(fn(), Spark jobs fn ran)``, read from the
    status tracker (jobs outside any job group, as the tests run)."""
    st = spark.sparkContext.statusTracker()

    def run(fn):
        before = set(st.getJobIdsForGroup())
        out = fn()
        return out, len(set(st.getJobIdsForGroup()) - before)

    return run


@pytest.fixture(scope="session")
def grid(spark):
    """FIXTURES.md F1: the reference's canonical 9×9×9 grid
    (hnsw_basic.test:10-13)."""
    return spark.sql(
        """
        SELECT cast(array(a, b, c) as array<float>) AS vec,
               cast((a-1)*81 + (b-1)*9 + (c-1) AS long) AS id
        FROM (SELECT explode(sequence(1,9)) a),
             (SELECT explode(sequence(1,9)) b),
             (SELECT explode(sequence(1,9)) c)
        """
    ).cache()


@pytest.fixture(scope="session")
def lateral_ab(spark):
    """FIXTURES.md F3: tiny pair with VARCHAR payload and NULLs
    (hnsw_lateral_join.test:3-16,46,58)."""
    a = spark.createDataFrame(
        [([1.0, 2.0, 3.0], 1), ([4.0, 5.0, 6.0], 2), (None, 3)],
        "a_vec array<float>, a_id int",
    )
    b = spark.createDataFrame(
        [([4.0, 5.0, 6.0], "b"), ([1.0, 2.0, 3.0], "a"), (None, "none")],
        "b_vec array<float>, b_str string",
    )
    return a, b
