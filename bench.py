"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Covers each engine surface once: relational agg/join, window, brute-force
knn scan, HNSW build + indexed scan + indexed lateral join, the dedup
family, and text analysis. Timings are wall-clock per query (plan build +
execution to a count/collect action).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from duckdb_vss_spark import get_spark  # noqa: E402
from duckdb_vss_spark import queries as Q  # noqa: E402
import duckdb_vss_spark.queries_pipeline  # noqa: E402,F401
from duckdb_vss_spark.index import create_hnsw_index  # noqa: E402
from duckdb_vss_spark.operators import knn_search  # noqa: E402
from duckdb_vss_spark.pipeline import embedding_neardup_lsh  # noqa: E402
from duckdb_vss_spark.sources import load_table  # noqa: E402


_letters = "abcdefghijklmnopqrstuvwxyz"
_digits = "0123456789"
src_alpha = _letters + _digits
_mults26 = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
_mults10 = [1, 3, 7, 9]


def _replica_perm(alpha, mults, i):
    # affine permutation j -> m*j + s (mod |alpha|); identity at i=0.
    # Distinct (m, s) pairs give distinct permutations, and two
    # distinct affine maps agree on <= gcd(m1-m2, |alpha|) chars, so
    # cross-replica shingles essentially never collide — a plain
    # Caesar shift has period |alpha| and made replicas i and i+26
    # near-identical under letter-only shingles at reps=32.
    m = mults[i % len(mults)]
    s = i // len(mults)
    n = len(alpha)
    return "".join(alpha[(m * j + s) % n] for j in range(n))


def _replica_rot(i):
    if i >= 312:
        raise ValueError("replica mapping distinct only for reps < 312")
    return _replica_perm(_letters, _mults26, i) + _replica_perm(_digits, _mults10, i)


def scale_curves(
    spark,
    sf_dir: str,
    reps: int = 8,
    shapes: set[str] | None = None,
    errors: dict[str, str] | None = None,
) -> dict:
    """Cross-engine scaling curves at ``reps``x the base corpus.

    Replicas get a per-replica affine permutation of [a-z] and [0-9]
    (distinct for reps < 312, any two maps agree on <= 2 letters) so no
    two replicas share shingles: pair volume grows ~linearly (reps x),
    not quadratically, keeping the workload an honest reps x of the
    base. (r7 fix, twice: the old 6-letter vowel rotation had period 6,
    so at reps=8 replicas 0/6 and 1/7 were IDENTICAL text — ~10k of the
    13k recorded x8 minhash pairs were that artifact; a 26-letter Caesar
    shift then recreated it at reps=32 through letter-only shingles.
    Both engines always saw the same data, so the ratios were fair, but
    the "linear pair volume" claim wasn't.) The same union runs on
    DuckDB (same SQL as the declared oracles) for the single-node curve.

    ``shapes`` ⊆ {minhash, contamination, spans, semdedup, hnsw, q01,
    asof, q03}; None = all. Key suffix is ``_x{reps}``.
    """
    from functools import reduce

    import duckdb

    out: dict[str, float] = {}
    all_shapes = {"minhash", "contamination", "spans", "semdedup", "hnsw", "kmeans", "q01", "asof", "q03", "q18", "maintenance"}
    shapes = all_shapes if shapes is None else shapes & all_shapes
    sx = f"_x{reps}"
    threads = os.environ.get("SPARK_GRAFT_CPUS", "32")

    def timed8(key, fn, runs=3):
        """Steady-state timing: a single cold shot mixes JIT tiering +
        first-touch codegen into the curve (q_dup_spans x8 cold 8.8s vs
        warm 1.0s standalone); cold is kept under <key>_cold for
        transparency, the curve uses best-of-runs — the same convention
        as the 1x queries."""
        best = None
        res = None
        for i in range(runs):
            t0 = time.time()
            res = fn()
            dt = round(time.time() - t0, 3)
            if i == 0:
                out[f"{key}_cold"] = dt
            best = dt if best is None else min(best, dt)
        out[key] = best
        return res

    def guarded(name, body):
        try:
            body()
        except Exception as e:  # noqa: BLE001 — fault-isolate each shape
            if errors is not None:
                errors[f"scale{sx}_{name}"] = f"{type(e).__name__}: {e}"[:400]
            else:
                raise

    _rot = _replica_rot

    # ---- text corpus union (shared by minhash / contamination / spans)
    big = None
    if shapes & {"minhash", "contamination", "spans"}:
        docs = load_table(spark, sf_dir, "documents")
        big = reduce(
            lambda a, b: a.unionByName(b),
            [
                docs.select(
                    (F.col("doc_id") + i * 100_000_000).alias("doc_id"),
                    (
                        F.col("text")
                        if i == 0
                        else F.translate(F.col("text"), src_alpha, _rot(i))
                    ).alias("text"),
                )
                for i in range(reps)
            ],
        )

    def _minhash():
        from duckdb_vss_spark.pipeline import minhash_lsh_pairs

        n_pairs = timed8(f"minhash_lsh_spark{sx}", lambda: minhash_lsh_pairs(
            big, "text", "doc_id", num_hashes=8, bands=4, n=3, threshold=0.1
        ).count())
        out[f"minhash_lsh_pairs{sx}"] = n_pairs

    def _contamination():
        # inverted-index join shape; same eval split predicate as
        # q_contamination
        from duckdb_vss_spark.pipeline.contamination import ngram_contamination

        # auto broadcast gate (review r10): reps is the unbounded axis
        # here — a forced broadcast would bypass the size check exactly
        # where the eval side grows; the gate's doc-count probe degrades
        # to the shuffle join gracefully past 20k eval docs
        n_contam = timed8(f"contamination_spark{sx}", lambda: ngram_contamination(
            big, "text", "doc_id", F.col("doc_id") % 41 == 0, n=4,
        ).count())
        out[f"contamination_rows{sx}"] = n_contam

    def _spans():
        # span-level dedup (VERDICT r6 #9): rotated replicas share no
        # W-grams with each other, so the span population is an honest
        # reps x of the base corpus.
        from duckdb_vss_spark.pipeline.spandedup import duplicate_spans

        n_spans = timed8(f"dup_spans_spark{sx}", lambda: duplicate_spans(big, "text", "doc_id").count())
        out[f"dup_spans_rows{sx}"] = n_spans

    if "minhash" in shapes:
        guarded("minhash", _minhash)
    if "contamination" in shapes:
        guarded("contamination", _contamination)
    if "spans" in shapes:
        guarded("spans", _spans)

    # ---- embedding unions (semdedup / hnsw build)
    emb = None
    if shapes & {"semdedup", "hnsw", "kmeans", "maintenance"}:
        try:
            emb = load_table(spark, sf_dir, "embeddings")
        except Exception:  # noqa: BLE001 — table absent at this sf
            emb = None

    def _semdedup():
        # semdedup on a reps x embedding union: replica i rotates the
        # vector dimensions by i — rotation preserves within-replica
        # inner products (pairs = reps x base) while cross-replica
        # cosines stay ~random, so pair volume grows linearly, not
        # reps². Centroids are corpus-adaptive k-means with k scaled to
        # n (k grows with reps → n/k ≈ 500): random seeded centroids
        # collapse this corpus into 2 giant clusters at 8x, and the
        # within-cluster matmul goes quadratic in n — the exact
        # degenerate regime the SemDeDup recipe prescribes balanced
        # k-means to avoid. Both engines get identical centroid
        # literals. Dim-rotation period = dims (64) bounds reps here.
        from duckdb_vss_spark.pipeline.semdedup import (
            kmeans_centroids,
            semdedup_oracle_sql,
            semdedup_pairs,
        )

        dims = 64
        if reps > dims:
            raise ValueError(f"semdedup dim-rotation supports reps <= {dims}")

        def _rotvec(col, i):
            if i == 0:
                return col
            return F.concat(F.slice(col, i + 1, dims - i), F.slice(col, 1, i))

        emb8v = reduce(
            lambda a, b: a.unionByName(b),
            [
                emb.select(
                    (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                    _rotvec(F.col("embedding"), i).alias("embedding"),
                )
                for i in range(reps)
            ],
        )
        k = max(8, 4 * reps)
        cents = kmeans_centroids(emb8v, "embedding", k, seed=11)
        n_sem = timed8(f"semdedup_spark{sx}", lambda: semdedup_pairs(
            emb8v, "embedding", "vec_id", cents, 0.4,
        ).count())
        out[f"semdedup_pairs{sx}"] = n_sem

        sem_sql = semdedup_oracle_sql("embeddings", "embedding", "vec_id", cents, 0.4)
        con = duckdb.connect()
        con.execute(f"SET threads={threads}")
        emb_union = " UNION ALL ".join(
            f"SELECT vec_id + {i * 10_000_000} AS vec_id, "
            + (
                "embedding"
                if i == 0
                else f"list_concat(embedding[{i + 1}:{dims}], "
                f"embedding[1:{i}]) AS embedding"
            )
            + f" FROM read_parquet('{sf_dir}/embeddings.parquet')"
            for i in range(reps)
        )
        con.execute(f"CREATE VIEW embeddings AS {emb_union}")
        rows = timed8(f"semdedup_duckdb{sx}", lambda: con.execute(sem_sql).fetchall())
        out[f"semdedup_duckdb_pairs{sx}"] = len(rows)
        con.close()

    def _kmeans():
        # iterative-algorithm curve: 2 Lloyd iterations over the reps x
        # embedding union in BOTH engines (identical unrolled SQL = the
        # q_kmeans oracle against the union view). Spark's cost is
        # iters scans + skinny shuffles (floor-bound locally); DuckDB's
        # grows with data — the crossing shape for iterative ML.
        from duckdb_vss_spark.pipeline.kmeans import kmeans_summary

        dims = 64
        if reps > dims:
            raise ValueError(f"kmeans dim-rotation supports reps <= {dims}")

        def _rotvec(col, i):
            if i == 0:
                return col
            return F.concat(F.slice(col, i + 1, dims - i), F.slice(col, 1, i))

        embk = reduce(
            lambda a, b: a.unionByName(b),
            [
                emb.select(
                    (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                    _rotvec(F.col("embedding"), i).alias("embedding"),
                )
                for i in range(reps)
            ],
        )
        n_cl = timed8(f"kmeans_spark{sx}", lambda: kmeans_summary(
            embk, "embedding", "vec_id", k=4, iters=2, seed=5
        ).count())
        out[f"kmeans_clusters{sx}"] = n_cl

        # q_kmeans rotates between the declared window (oracle_sql) and
        # the local extra registry (extra_oracle_sql) across rounds —
        # look in both, like the text shapes do, so the DuckDB side of
        # the curve never silently disappears with a rotation.
        km_sql = {**Q.oracle_sql(), **Q.extra_oracle_sql()}.get("q_kmeans")
        if km_sql:
            con = duckdb.connect()
            con.execute(f"SET threads={threads}")
            emb_union = " UNION ALL ".join(
                f"SELECT vec_id + {i * 10_000_000} AS vec_id, "
                + (
                    "embedding"
                    if i == 0
                    else f"list_concat(embedding[{i + 1}:{dims}], "
                    f"embedding[1:{i}]) AS embedding"
                )
                + f" FROM read_parquet('{sf_dir}/embeddings.parquet')"
                for i in range(reps)
            )
            con.execute(f"CREATE VIEW embeddings AS {emb_union}")
            rows = timed8(f"kmeans_duckdb{sx}", lambda: con.execute(km_sql).fetchall())
            out[f"kmeans_duckdb_clusters{sx}"] = len(rows)
            con.close()

    def _hnsw():
        from duckdb_vss_spark.index import create_hnsw_index as _mk_hnsw

        emb8 = reduce(
            lambda a, b: a.unionByName(b),
            [
                emb.select(
                    (F.col("vec_id") + i * 10_000_000).alias("vec_id"), "embedding"
                )
                for i in range(reps)
            ],
        )
        t0 = time.time()
        _mk_hnsw(
            spark, emb8, "embedding", "vec_id", f"/tmp/bench_hnsw_idx{reps}",
            overwrite=True,
        )
        out[f"hnsw_build_spark{sx}"] = round(time.time() - t0, 3)

    def _maintenance():
        """r14 (VERDICT r13 #8): the index-maintenance family at
        reps× — bulk build half, add_batch the other half, mark-delete
        10%, auto-compact, search at every state. Mutating steps time
        one-shot (they're jobs, not repeated queries); searches get the
        steady-state convention. Shard counts, tombstone counts and
        the per-state search times make any superlinear row visible."""
        from duckdb_vss_spark.index import create_hnsw_index as _mk
        from duckdb_vss_spark.index.pq import create_pq_index as _mk_pq

        embN = reduce(
            lambda a, b: a.unionByName(b),
            [
                emb.select(
                    (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                    "embedding",
                )
                for i in range(reps)
            ],
        )
        half_a = embN.where(F.col("vec_id") % 2 == 0)
        half_b = embN.where(F.col("vec_id") % 2 == 1)
        path = f"/tmp/bench_maint_idx{reps}"
        qv = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
        ]
        t0 = time.time()
        ix = _mk(spark, half_a, "embedding", "vec_id", path, overwrite=True)
        out[f"maint_build{sx}"] = round(time.time() - t0, 3)
        t0 = time.time()
        ix = ix.add_batch(half_b, auto_compact_shards=8)
        out[f"maint_add_batch{sx}"] = round(time.time() - t0, 3)
        out[f"maint_shards{sx}"] = len(ix.manifest["partitions"])
        timed8(
            f"maint_search_clean{sx}",
            lambda: ix.knn_search(embN, qv, 10).collect(),
        )
        t0 = time.time()
        ix = ix.delete_batch(
            embN.where(F.col("vec_id") % 10 == 3).select("vec_id")
        )
        out[f"maint_delete{sx}"] = round(time.time() - t0, 3)
        out[f"maint_tombstones{sx}"] = int(
            ix.manifest.get("deleted_count", 0)
        )
        timed8(
            f"maint_search_tombstoned{sx}",
            lambda: ix.knn_search(embN, qv, 10).collect(),
        )
        t0 = time.time()
        ix = ix.compact_from_shards()
        out[f"maint_compact{sx}"] = round(time.time() - t0, 3)
        out[f"maint_shards_compacted{sx}"] = len(ix.manifest["partitions"])
        timed8(
            f"maint_search_compacted{sx}",
            lambda: ix.knn_search(embN, qv, 10).collect(),
        )
        # the quantized face: PQ build + O(batch) versioned upsert of
        # 1% of the corpus (the r14 merge-hook recipe) + stream join
        pq_path = f"/tmp/bench_maint_pq{reps}"
        t0 = time.time()
        pqx = _mk_pq(spark, embN, "embedding", "vec_id", pq_path, overwrite=True)
        out[f"maint_pq_build{sx}"] = round(time.time() - t0, 3)
        up = embN.where(F.col("vec_id") % 100 == 7).select(
            "vec_id", "embedding"
        )
        t0 = time.time()
        nxt = int(pqx.manifest.get("append_epoch", 0)) + 1
        pqx = pqx.delete_batch(up.select("vec_id"), epoch_lt=nxt)
        pqx = pqx.add_batch(up)
        out[f"maint_pq_upsert{sx}"] = round(time.time() - t0, 3)
        qdfN = embN.where(F.col("vec_id") % 1000 == 0).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        timed8(
            f"maint_pq_join_versioned{sx}",
            lambda: pqx.knn_join(qdfN, "qvec", 10, "qid", rerank=0).count(),
        )

    if "semdedup" in shapes and emb is not None:
        guarded("semdedup", _semdedup)
    if "kmeans" in shapes and emb is not None:
        guarded("kmeans", _kmeans)
    if "hnsw" in shapes and emb is not None:
        guarded("hnsw", _hnsw)
    if "maintenance" in shapes and emb is not None:
        guarded("maintenance", _maintenance)

    # ---- DuckDB single-node on the identical text union
    def _duck_text():
        oracles = {**Q.oracle_sql(), **Q.extra_oracle_sql()}
        con = duckdb.connect()
        con.execute(f"SET threads={threads}")
        union_sql = " UNION ALL ".join(
            "SELECT doc_id + {off} AS doc_id, {text} AS text "
            "FROM read_parquet('{p}')".format(
                off=i * 100_000_000,
                text=(
                    "text"
                    if i == 0
                    else f"translate(text, '{src_alpha}', '{_rot(i)}')"
                ),
                p=f"{sf_dir}/documents.parquet",
            )
            for i in range(reps)
        )
        con.execute(f"CREATE VIEW documents AS {union_sql}")
        if "minhash" in shapes and (lsh_sql := oracles.get("q_minhash_lsh")):
            rows = timed8(f"minhash_lsh_duckdb{sx}", lambda: con.execute(lsh_sql).fetchall())
            out[f"minhash_lsh_duckdb_pairs{sx}"] = len(rows)
        if "contamination" in shapes and (contam_sql := oracles.get("q_contamination")):
            rows = timed8(f"contamination_duckdb{sx}", lambda: con.execute(contam_sql).fetchall())
            out[f"contamination_duckdb_rows{sx}"] = len(rows)
        if "spans" in shapes and (spans_sql := oracles.get("q_dup_spans")):
            rows = timed8(f"dup_spans_duckdb{sx}", lambda: con.execute(spans_sql).fetchall())
            out[f"dup_spans_duckdb_rows{sx}"] = len(rows)
        con.close()

    if shapes & {"minhash", "contamination", "spans"}:
        guarded("duck_text", _duck_text)

    # ---- relational / temporal / join curves
    def _q01():
        # the q01 aggregation on reps x lineitem — both engines over the
        # identical union. The shape where whole-stage codegen + partial
        # aggs amortize the job floor.
        li = load_table(spark, sf_dir, "lineitem")
        # symmetric sources + steady-state timing (r10: the old form
        # timed ONE cold shot over a Spark .cache() while DuckDB read
        # parquet views and the text shapes used best-of-3 — the
        # recorded 5-9x "q01 gap" was mostly harness asymmetry; warm
        # uncached the same query runs ~1s at x32): both engines read
        # the parquet union per run, best-of-runs, cold kept per the
        # timed8 convention.
        li8 = reduce(
            lambda a, b: a.unionByName(b),
            [
                li.select(
                    (F.col("l_orderkey") + i * 100_000_000).alias("l_orderkey"),
                    *[c for c in li.columns if c != "l_orderkey"],
                )
                for i in range(reps)
            ],
        )
        qty = F.col("l_quantity").cast("decimal(12,2)")
        price = F.col("l_extendedprice").cast("decimal(12,2)")
        timed8(f"q01_agg_spark{sx}", lambda: (
            li8.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(qty), F.sum(price), F.count(F.lit(1)))
            .collect()
        ))
        con = duckdb.connect()
        con.execute(f"SET threads={threads}")
        li_union = " UNION ALL ".join(
            f"SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')"
            for _ in range(reps)
        )
        con.execute(f"CREATE VIEW lineitem8 AS {li_union}")
        timed8(f"q01_agg_duckdb{sx}", lambda: con.execute(
            """SELECT l_returnflag, l_linestatus,
                      sum(CAST(l_quantity AS DECIMAL(12,2))),
                      sum(CAST(l_extendedprice AS DECIMAL(12,2))), count(*)
               FROM lineitem8 WHERE l_shipdate <= DATE '1998-09-02'
               GROUP BY 1, 2"""
        ).fetchall())
        con.close()

    def _asof():
        # ASOF join on reps x events (shifted users so per-user series
        # stay realistic) — Spark union-merge idiom vs DuckDB's
        # dedicated ASOF JOIN operator on the identical union.
        from duckdb_vss_spark.operators.asof import asof_join

        ev = load_table(spark, sf_dir, "events")
        ev8 = reduce(
            lambda a, b: a.unionByName(b),
            [
                ev.select(
                    (F.col("event_id") + i * 100_000_000).alias("event_id"),
                    "ts",
                    (F.col("user_id") + i * 1_000_000).alias("user_id"),
                    "event_type",
                    "value",
                    "props",
                )
                for i in range(reps)
            ],
        )
        # same r10 convention change as _q01: symmetric parquet reads +
        # best-of-runs on both engines
        timed8(f"asof_spark{sx}", lambda: asof_join(
            ev8.where(F.col("event_type") == "click"),
            ev8.where(F.col("event_type") == "error"),
            on="ts",
            by="user_id",
            right_cols=["event_id"],
            suffix="_err",
        ).count())
        con = duckdb.connect()
        con.execute(f"SET threads={threads}")
        ev_union = " UNION ALL ".join(
            f"SELECT event_id + {i * 100_000_000} AS event_id, ts, "
            f"user_id + {i * 1_000_000} AS user_id, event_type, value, props "
            f"FROM read_parquet('{sf_dir}/events.parquet')"
            for i in range(reps)
        )
        con.execute(f"CREATE VIEW events8 AS {ev_union}")
        timed8(f"asof_duckdb{sx}", lambda: con.execute(
            """SELECT count(*) FROM
               (SELECT * FROM events8 WHERE event_type = 'click') l
               ASOF LEFT JOIN
               (SELECT * FROM events8 WHERE event_type = 'error') r
               ON l.user_id = r.user_id AND l.ts >= r.ts"""
        ).fetchall())
        con.close()

    def _q03():
        # the q03 3-table shipping-priority shape on reps x data —
        # per-replica key shifts keep foreign keys consistent, so the
        # join graph is reps disjoint copies (selectivity and per-key
        # fan-out identical to 1x; output = reps x candidate groups).
        li = load_table(spark, sf_dir, "lineitem")
        cu = load_table(spark, sf_dir, "customer")
        orr = load_table(spark, sf_dir, "orders")
        cu8 = reduce(
            lambda a, b: a.unionByName(b),
            [
                cu.select(
                    (F.col("c_custkey") + i * 10_000_000).alias("c_custkey"),
                    *[c for c in cu.columns if c != "c_custkey"],
                )
                for i in range(reps)
            ],
        )
        or8 = reduce(
            lambda a, b: a.unionByName(b),
            [
                orr.select(
                    (F.col("o_orderkey") + i * 100_000_000).alias("o_orderkey"),
                    (F.col("o_custkey") + i * 10_000_000).alias("o_custkey"),
                    *[c for c in orr.columns if c not in ("o_orderkey", "o_custkey")],
                )
                for i in range(reps)
            ],
        )
        li8j = reduce(
            lambda a, b: a.unionByName(b),
            [
                li.select(
                    (F.col("l_orderkey") + i * 100_000_000).alias("l_orderkey"),
                    *[c for c in li.columns if c != "l_orderkey"],
                )
                for i in range(reps)
            ],
        )
        rev = F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit("1.00").cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)"))
        ).cast("double")
        # r10 convention change (see _q01): best-of-runs on both engines
        timed8(f"q03_join_spark{sx}", lambda: (
            li8j.where(F.col("l_shipdate") > F.lit("1998-03-15").cast("date"))
            .join(
                or8.where(F.col("o_orderdate") < F.lit("1998-03-15").cast("date")),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .join(
                F.broadcast(cu8.where(F.col("c_mktsegment") == "BUILDING")),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(rev.alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
            .limit(10)
            .collect()
        ))
        con = duckdb.connect()
        con.execute(f"SET threads={threads}")
        cu_cols = [c for c in cu.columns if c != "c_custkey"]
        or_cols = [c for c in orr.columns if c not in ("o_orderkey", "o_custkey")]
        li_cols = [c for c in li.columns if c != "l_orderkey"]
        cu_union = " UNION ALL ".join(
            f"SELECT c_custkey + {i * 10_000_000} AS c_custkey, {', '.join(cu_cols)} "
            f"FROM read_parquet('{sf_dir}/customer.parquet')"
            for i in range(reps)
        )
        or_union = " UNION ALL ".join(
            f"SELECT o_orderkey + {i * 100_000_000} AS o_orderkey, "
            f"o_custkey + {i * 10_000_000} AS o_custkey, {', '.join(or_cols)} "
            f"FROM read_parquet('{sf_dir}/orders.parquet')"
            for i in range(reps)
        )
        li_union2 = " UNION ALL ".join(
            f"SELECT l_orderkey + {i * 100_000_000} AS l_orderkey, {', '.join(li_cols)} "
            f"FROM read_parquet('{sf_dir}/lineitem.parquet')"
            for i in range(reps)
        )
        con.execute(f"CREATE VIEW customer8 AS {cu_union}")
        con.execute(f"CREATE VIEW orders8 AS {or_union}")
        con.execute(f"CREATE VIEW lineitem8j AS {li_union2}")
        timed8(f"q03_join_duckdb{sx}", lambda: con.execute(
            """SELECT l_orderkey, o_orderdate, o_orderpriority,
                      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                               * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
               FROM lineitem8j
               JOIN orders8 ON l_orderkey = o_orderkey
               JOIN customer8 ON o_custkey = c_custkey
               WHERE l_shipdate > DATE '1998-03-15'
                 AND o_orderdate < DATE '1998-03-15'
                 AND c_mktsegment = 'BUILDING'
               GROUP BY 1, 2, 3
               ORDER BY revenue DESC, l_orderkey LIMIT 10"""
        ).fetchall())
        con.close()

    def _q18():
        # the q18 HAVING-semi-join shape on reps x data (r10: extends
        # the crossing curve to another judge-basket query) — same
        # per-replica key shifts as _q03, both engines identical unions
        li = load_table(spark, sf_dir, "lineitem")
        orr = load_table(spark, sf_dir, "orders")
        li8 = reduce(
            lambda a, b: a.unionByName(b),
            [
                li.select(
                    (F.col("l_orderkey") + i * 100_000_000).alias("l_orderkey"),
                    *[c for c in li.columns if c != "l_orderkey"],
                )
                for i in range(reps)
            ],
        )
        or8 = reduce(
            lambda a, b: a.unionByName(b),
            [
                orr.select(
                    (F.col("o_orderkey") + i * 100_000_000).alias("o_orderkey"),
                    *[c for c in orr.columns if c != "o_orderkey"],
                )
                for i in range(reps)
            ],
        )

        def run_spark():
            # single-pass form (see queries.q18_large_orders): the
            # output sum IS the HAVING sum — one lineitem agg + one join
            big = (
                li8.groupBy("l_orderkey")
                .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("q"))
                .where(F.col("q") > 150)
            )
            return (
                big.join(or8, big.l_orderkey == or8.o_orderkey)
                .select("o_orderkey", "o_orderdate", "o_totalprice", "q")
                .count()
            )

        # key renamed from q18_semi_spark when the implementation moved
        # to the single-pass plan — the old key's recorded points
        # (14-20 s) measure the retired semi-join formulation
        timed8(f"q18_single_spark{sx}", run_spark)
        con = duckdb.connect()
        con.execute(f"SET threads={threads}")
        li_cols = [c for c in li.columns if c != "l_orderkey"]
        or_cols = [c for c in orr.columns if c != "o_orderkey"]
        li_u = " UNION ALL ".join(
            f"SELECT l_orderkey + {i * 100_000_000} AS l_orderkey, {', '.join(li_cols)} "
            f"FROM read_parquet('{sf_dir}/lineitem.parquet')"
            for i in range(reps)
        )
        or_u = " UNION ALL ".join(
            f"SELECT o_orderkey + {i * 100_000_000} AS o_orderkey, {', '.join(or_cols)} "
            f"FROM read_parquet('{sf_dir}/orders.parquet')"
            for i in range(reps)
        )
        con.execute(f"CREATE VIEW li18 AS {li_u}")
        con.execute(f"CREATE VIEW or18 AS {or_u}")
        timed8(f"q18_semi_duckdb{sx}", lambda: con.execute(
            """SELECT count(*) FROM (
                 SELECT o_orderkey, o_orderdate, o_totalprice,
                        sum(CAST(l_quantity AS DECIMAL(12,2))) AS s
                 FROM li18 JOIN or18 ON l_orderkey = o_orderkey
                 WHERE l_orderkey IN (
                   SELECT l_orderkey FROM li18 GROUP BY l_orderkey
                   HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150)
                 GROUP BY 1, 2, 3)"""
        ).fetchall())
        # symmetry: DuckDB also gets the single-pass formulation Spark
        # runs (HAVING sum = output sum), so both "own-best-plan" and
        # "same-logical-plan" ratios are on record
        timed8(f"q18_single_duckdb{sx}", lambda: con.execute(
            """SELECT count(*) FROM (
                 SELECT o_orderkey, o_orderdate, o_totalprice, q
                 FROM (SELECT l_orderkey,
                              sum(CAST(l_quantity AS DECIMAL(12,2))) AS q
                       FROM li18 GROUP BY l_orderkey HAVING q > 150) big
                 JOIN or18 ON l_orderkey = o_orderkey)"""
        ).fetchall())
        con.close()

    if "q01" in shapes:
        guarded("q01", _q01)
    if "q18" in shapes:
        guarded("q18", _q18)
    if "asof" in shapes:
        guarded("asof", _asof)
    if "q03" in shapes:
        guarded("q03", _q03)

    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")

    # extra registry = locally-checked queries not in the driver's
    # 50-row declared window (q06, q_simhash, q_lang_id live there)
    qfns = {**Q.queries(), **Q.extra_queries()}
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    errors: dict[str, str] = {}

    def timed(name, fn, runs=3):
        """Steady-state timing: cold run recorded separately, best of
        ``runs`` reported (JIT/codegen/python-worker spin-up amortizes
        on a long-lived cluster; the steady state is the honest number;
        best-of-3 because this container's CPU throughput is noisy —
        identical runs vary up to 3×). Fault-isolated: one broken query
        records an error entry instead of aborting the whole suite —
        the JSON line always prints (round 4 lost ALL bench evidence to
        a single AnalysisException)."""
        best = None
        for i in range(runs):
            t0 = time.time()
            try:
                fn()
            except Exception as e:  # noqa: BLE001 — isolate any query fault
                msg = f"{type(e).__name__}: {e}"
                errors[name] = msg[:400]
                return
            dt = round(time.time() - t0, 3)
            if i == 0:
                cold[name] = dt
            best = dt if best is None else min(best, dt)
        timings[name] = best

    # warm up the session (codegen, python workers, parquet footer cache)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def section(name, body):
        """Setup code between timed() calls (table loads, index builds)
        must not abort the suite either; a failed section records one
        error and its dependent queries simply don't appear."""
        try:
            body()
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:400]

    # relational layer
    for name in (
        "q01_pricing_summary",
        "q03_shipping_priority",
        "q04_priority_semi",
        "q05_local_supplier_volume",
        "q06_forecast_revenue",
        "q07_volume_shipping",
        "q08_market_share",
        "q09_profit_by_nation",
        "q10_returned_items",
        "q12_late_priority",
        "q14_type_revenue_share",
        "q16_parts_supplier",
        "q18_large_orders",
        "q19_discounted_revenue",
        "q21_waiting_suppliers",
        "q22_inactive_customers",
        "q_json_event_stats",
        "q_window_top_events",
        "q_sessionize_events",
        # r6c: the three remaining TPC-H subquery shapes
        "q02_min_cost_supplier",
        "q11_important_parts",
        "q20_promotion_suppliers",
        # r6c: range-frame rolling window + time-spine gap fill
        "q_moving_window_sum",
        "q_time_gapfill",
        # r6b: temporal joins + OLAP grouping + product analytics
        "q_asof_join",
        "q_interval_join",
        "q_rollup_revenue",
        "q_pivot_events",
        "q_event_percentiles",
        "q_funnel",
        "q_cohort_retention",
    ):
        timed(name, lambda n=name: qfns[n](spark, sf_dir).count())

    # vector: brute force scan + macro join
    env: dict[str, object] = {}

    def _load_emb():
        emb = load_table(spark, sf_dir, "embeddings").cache()
        emb.count()
        env["emb"] = emb
        env["qv"] = [
            float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
        ]
        env["qdf"] = emb.where(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )

    section("embeddings_setup", _load_emb)
    emb, qv, qdf = env.get("emb"), env.get("qv"), env.get("qdf")
    if emb is not None:
        timed("knn_bruteforce", lambda: knn_search(emb, "embedding", qv, 10).collect())
    timed("q_vss_join", lambda: qfns["q_vss_join"](spark, sf_dir).count())
    timed("q_knn_join_lateral", lambda: qfns["q_knn_join_lateral"](spark, sf_dir).count())
    # r11: MMR diversified re-selection, the DataFrame-API index route,
    # and binary-quantization search (1-bit Hamming shortlist + rescore)
    timed("q_mmr_rerank", lambda: qfns["q_mmr_rerank"](spark, sf_dir).count())
    timed("q_df_api_topk", lambda: qfns["q_df_api_topk"](spark, sf_dir).count())
    timed("q_bq_knn", lambda: qfns["q_bq_knn"](spark, sf_dir).count())

    # vector: index build + indexed paths
    idx_path = "/tmp/bench_hnsw_idx"
    idx = {}
    if emb is not None:
        timed(
            "hnsw_build",
            lambda: idx.__setitem__(
                "i",
                create_hnsw_index(
                    spark, emb, "embedding", "vec_id", idx_path, overwrite=True
                ),
            ),
            runs=1,  # a build is a job, not a repeated query
        )
        timed("hnsw_search", lambda: idx["i"].knn_search(emb, qv, 10).collect())
        timed(
            "hnsw_knn_join",
            lambda: idx["i"]
            .knn_join(qdf, emb.select("vec_id", "embedding"), "qvec", 5, "qid")
            .count(),
        )
        # r12: offline incremental maintenance — build over half, time
        # the shard-merge of the other half (its own artifact path so
        # the mutation never contaminates the rows above)
        ab_path = "/tmp/bench_hnsw_add"
        ab: dict[str, object] = {}
        section(
            "hnsw_add_setup",
            lambda: ab.__setitem__(
                "i",
                create_hnsw_index(
                    spark, emb.where(F.col("vec_id") % 2 == 0),
                    "embedding", "vec_id", ab_path, overwrite=True,
                ),
            ),
        )
        if "i" in ab:
            timed(
                "hnsw_add_batch",
                lambda: ab["i"].add_batch(emb.where(F.col("vec_id") % 2 == 1)),
                runs=1,  # a merge is a job, not a repeated query (and it mutates)
            )
            # r13: mark-delete cost (tombstone write, O(|ids|)) and the
            # per-query overhead a tombstoned artifact pays (over-fetch
            # + broadcast anti-join) — compare against hnsw_search
            timed(
                "hnsw_delete_batch",
                lambda: ab["i"].delete_batch(
                    emb.where(F.col("vec_id") % 10 == 3).select("vec_id")
                ),
                runs=1,  # mutates
            )
            timed(
                "hnsw_search_tombstoned",
                lambda: ab["i"].knn_search(emb, qv, 10).collect(),
            )

    # vector: IVF build + partition-pruned search (the scale path)
    from duckdb_vss_spark.index import create_ivf_index

    ivf_path = "/tmp/bench_ivf_idx"
    ivf = {}
    if emb is not None:
        timed(
            "ivf_build",
            lambda: ivf.__setitem__(
                "i",
                create_ivf_index(spark, emb, "embedding", "vec_id", ivf_path, overwrite=True),
            ),
            runs=1,
        )
        timed(
            "ivf_search",
            lambda: ivf["i"].knn_search(qv, 10).collect(),
        )
        timed(
            "ivf_knn_join",
            lambda: ivf["i"].knn_join(qdf, "qvec", 5, "qid").count(),
        )

    # vector: PQ build + ADC scan (the byte-compression scale path —
    # composes with IVF: lists prune rows, codes shrink bytes/row)
    from duckdb_vss_spark.index import create_pq_index

    pq_path = "/tmp/bench_pq_idx"
    pq = {}
    if emb is not None:
        n_emb = emb.count()
        timed(
            "pq_build",
            lambda: pq.__setitem__(
                "i",
                create_pq_index(
                    spark, emb, "embedding", "vec_id", pq_path,
                    m=32, ksub=min(64, max(4, n_emb // 4)), overwrite=True,
                ),
            ),
            runs=1,
        )
        timed("pq_search_adc", lambda: pq["i"].knn_search(qv, 10, rerank=0).collect())
        # DEFAULT signature = auto-rerank (10*k shortlist, manifest source)
        timed("pq_search_default", lambda: pq["i"].knn_search(qv, 10).collect())
        timed(
            "pq_search_rerank",
            lambda: pq["i"]
            .knn_search(qv, 10, rerank=max(250, n_emb // 4), source=emb)
            .collect(),
        )
        # r14 (VERDICT r13 #3): the multi-query ADC stream's tombstone
        # mask now ships as a broadcast variable — pair a clean join
        # with a 30%-tombstoned one to price the mask per query batch
        pqd = {}
        section(
            "pq_tombstoned_setup",
            lambda: pqd.__setitem__(
                "i",
                create_pq_index(
                    spark, emb, "embedding", "vec_id",
                    "/tmp/bench_pq_tomb_idx",
                    m=32, ksub=min(64, max(4, n_emb // 4)), overwrite=True,
                ),
            ),
        )
        if "i" in pqd:
            timed(
                "pq_knn_join_adc",
                lambda: pqd["i"].knn_join(qdf, "qvec", 10, "qid", rerank=0).count(),
            )
            section(
                "pq_tombstone_30pct",
                lambda: pqd["i"].delete_batch(
                    emb.where(F.col("vec_id") % 10 < 3).select("vec_id")
                ),
            )
            timed(
                "pq_knn_join_tombstoned30",
                lambda: pqd["i"].knn_join(qdf, "qvec", 10, "qid", rerank=0).count(),
            )

    # vector: persisted BQ artifact (r12 — 1 bit/dim, signatures written
    # once, manifest-calibrated default rescore)
    from duckdb_vss_spark.index import create_bq_index

    bq_path = "/tmp/bench_bq_idx"
    bqi = {}
    if emb is not None:
        timed(
            "bq_build",
            lambda: bqi.__setitem__(
                "i",
                create_bq_index(
                    spark, emb.select("vec_id", "embedding"), "embedding",
                    "vec_id", bq_path, overwrite=True,
                ),
            ),
            runs=1,
        )
        timed("bq_search_default", lambda: bqi["i"].knn_search(qv, 10).collect())

    # vector: IVFADC — both scale levers composed (pruned lists ×
    # residual-PQ bytes)
    from duckdb_vss_spark.index import create_ivfpq_index

    ivfpq_path = "/tmp/bench_ivfpq_idx"
    ivfpq = {}
    if emb is not None:
        timed(
            "ivfpq_build",
            lambda: ivfpq.__setitem__(
                "i",
                create_ivfpq_index(
                    spark, emb, "embedding", "vec_id", ivfpq_path,
                    nlist=16, m=32, ksub=min(64, max(4, n_emb // 4)),
                    overwrite=True,
                ),
            ),
            runs=1,
        )
        timed("ivfpq_search_adc", lambda: ivfpq["i"].knn_search(qv, 10, rerank=0).collect())
        # DEFAULT signature = auto-rerank (10*k shortlist, manifest source)
        timed("ivfpq_search_default", lambda: ivfpq["i"].knn_search(qv, 10).collect())

    # pipeline: dedup family + text analysis. Each LSH query persists a
    # fresh signature base; drop those caches after each query so the
    # session doesn't accumulate dead cached RDDs across the suite.
    for name in (
        "q_exact_dedup",
        "q_ngram_jaccard",
        "q_minhash_lsh",
        "q_simhash",
        "q_text_stats",
        "q_lang_id",
        # r6 curation surface
        "q_repetition_stats",
        "q_pii_scrub",
        "q_vocab_topk",
        "q_doc_oov_rate",
        "q_contamination",
        "q_stratified_sample",
        "q_pack_sequences",
        "q_kmv_distinct",
        "q_hash_embed",
        "q_pca_power",
        "q_media_mjpeg_frames",
        "q_video_neardup",
        # r6b: chunking, caps, lexical retrieval, semantic dedup
        "q_chunk_docs",
        "q_source_cap",
        "q_bm25_topk",
        "q_semdedup",
        "q_hybrid_rrf",
        "q_mix_budget",
        "q_dup_spans",
        "q_image_phash_dedup",
        # r7: incremental dedup, snapshot diff, weighted draw, label
        # propagation, clustering
        "q_incremental_dedup",
        "q_ivfsq_knn",
        "q_corpus_diff",
        "q_weighted_sample",
        "q_knn_classify",
        "q_kmeans",
    ):
        # the python-heavy dedup queries are the most sensitive to
        # external CPU contention in this container (observed 3-17x
        # swings between identical runs); widen to best-of-5
        runs = 5 if name in ("q_ngram_jaccard", "q_minhash_lsh") else 3
        timed(name, lambda n=name: qfns[n](spark, sf_dir).count(), runs=runs)
    if emb is not None:
        timed(
            "embedding_neardup_lsh",
            lambda: embedding_neardup_lsh(emb, "embedding", "vec_id", 0.4).count(),
        )

    # the quantized recall@10 table lives in tests/test_quantized_recall.py

    # -- multi-row-group scale point (VERDICT r16 #3) ----------------------
    # Every sf0.1 base table is ONE parquet file with ONE row group, so
    # every scan in the 90-row suite is a 1-task stage and the driver's
    # 8c-vs-32c ratios read ~1 by DATA SHAPE, not engine posture. Worse,
    # the per-copy compute at sf0.1 is milliseconds once vectorized, so
    # even a 32-file copy of the 1x table stays scheduling-bound. This
    # section therefore writes x8-REPLICATED 32-file copies of the heavy
    # rows' inputs under /tmp — bench-time data prep from the SAME
    # parquet inputs (no result reuse: every timed row still computes
    # its full query from the written parquet) — and times the
    # UNCHANGED query functions against the copy dir. Replication
    # honesty: documents get the scale8 affine alphabet permutation so
    # pair volume grows ~linearly (the r7 lesson); lineitem/embeddings
    # replicate as-is because their shapes here (aggregate, kmeans,
    # bm25+topk fusion) are linear in rows — no pair semantics.
    # embedding_neardup_lsh is deliberately NOT given an mrg row:
    # identical replicated vectors pair quadratically across replicas
    # and no cheap jitter preserves cosine structure honestly.
    # Recorded in a separate "scale_mrg" payload section (not
    # "queries") so the headline total stays comparable round-over-
    # round. spark.sql.files.minPartitionNum is pinned to the file
    # count for this section only and restored: at 100 TB the files are
    # >=128 MB each and the DEFAULT split config yields the same
    # per-file parallelism this emulates at toy scale.
    mrg: dict[str, float] = {}

    def _mrg_section():
        import shutil as _sh
        from functools import reduce as _reduce

        mrg_dir = "/tmp/bench_mrg32"
        n_files = 32
        reps = int(os.environ.get("SPARK_GRAFT_MRG_REPS", "8"))
        _sh.rmtree(mrg_dir, ignore_errors=True)
        li = load_table(spark, sf_dir, "lineitem")
        _reduce(lambda a, b: a.unionByName(b), [li] * reps).repartition(
            n_files
        ).write.parquet(os.path.join(mrg_dir, "lineitem.parquet"))
        docs = load_table(spark, sf_dir, "documents")
        _reduce(
            lambda a, b: a.unionByName(b),
            [
                docs.select(
                    (F.col("doc_id") + i * 100_000_000).alias("doc_id"),
                    (
                        F.col("text")
                        if i == 0
                        else F.translate(F.col("text"), src_alpha, _replica_rot(i))
                    ).alias("text"),
                    *[c for c in docs.columns if c not in ("doc_id", "text")],
                )
                for i in range(reps)
            ],
        ).repartition(n_files).write.parquet(os.path.join(mrg_dir, "documents.parquet"))
        emb_base = load_table(spark, sf_dir, "embeddings")
        _reduce(
            lambda a, b: a.unionByName(b),
            [
                emb_base.select(
                    (F.col("vec_id") + i * 100_000_000).alias("vec_id"),
                    *[c for c in emb_base.columns if c != "vec_id"],
                )
                for i in range(reps)
            ],
        ).repartition(n_files).write.parquet(os.path.join(mrg_dir, "embeddings.parquet"))
        saved = {
            k: spark.conf.get(k, None)
            for k in ("spark.sql.files.minPartitionNum",)
        }
        spark.conf.set("spark.sql.files.minPartitionNum", str(n_files))
        try:
            def timedm(name, fn, runs=3):
                key = f"{name}_mrg{n_files}x{reps}"
                best = None
                for i in range(runs):
                    t0 = time.time()
                    try:
                        fn()
                    except Exception as e:  # noqa: BLE001 — isolate faults
                        errors[key] = f"{type(e).__name__}: {e}"[:400]
                        return
                    dt = round(time.time() - t0, 3)
                    if i == 0:
                        mrg[f"{key}_cold"] = dt
                    best = dt if best is None else min(best, dt)
                mrg[key] = best

            for name in (
                "q01_pricing_summary",
                "q_minhash_lsh",
                "q_kmeans",
                "q_hybrid_rrf",
            ):
                timedm(name, lambda n=name: qfns[n](spark, mrg_dir).count())
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            _sh.rmtree(mrg_dir, ignore_errors=True)

    section("scale_mrg", _mrg_section)

    # -- scaleN: heavy shapes at N x the data (VERDICT r5 #6) --------------
    # Shows the scaling curve as the workload outgrows Spark's ~0.3-1.0s
    # local job floor. Default reps=8 (driver path); set
    # SPARK_GRAFT_SCALE_REPS / SPARK_GRAFT_SCALE_SHAPES for ad-hoc larger
    # points (tools/scale_curve.py wraps this).
    scale8: dict[str, float] = {}
    section(
        "scale8",
        lambda: scale8.update(
            scale_curves(
                spark,
                sf_dir,
                reps=int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "8")),
                shapes=set(
                    s
                    for s in os.environ.get("SPARK_GRAFT_SCALE_SHAPES", "").split(",")
                    if s
                )
                or None,
                errors=errors,
            )
        ),
    )

    # measured per-job floor: the fastest possible Spark action in this
    # session (scheduler + stage + task round-trip). Nearly every query
    # above differs from DuckDB by a near-constant multiple of this
    # floor; it is the denominator for reading small-sf ratios honestly.
    floor = 1e9
    for _ in range(5):
        t0 = time.time()
        spark.range(1).count()
        floor = min(floor, time.time() - t0)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold": cold,
        "job_floor": round(floor, 3),
        "sf": sf,
    }
    if mrg:
        out["scale_mrg"] = mrg
    if scale8:
        out["scale8"] = scale8
    if errors:
        out["errors"] = errors

    # VERDICT r6 #8: the driver keeps only the tail of stdout, and the
    # full 121-query line is >2000 chars — r6's headline total never
    # reached BENCH_r06.json. So: (a) persist the COMPLETE payload to a
    # round-stamped file the judge can read; (b) print the full line for
    # humans; (c) print LAST a compact line guaranteed <1900 chars that
    # parses as complete JSON on its own, headline first.
    import glob
    import re

    def _max_round(prefix: str) -> int:
        return max(
            (
                int(m.group(1))
                for f in glob.glob(os.path.join(os.path.dirname(__file__), f"{prefix}_r*.json"))
                if (m := re.search(r"_r(\d+)\.json$", f))
            ),
            default=0,
        )

    # The RUNNING round (VERDICT r16 #7 — the old `max(CORRECTNESS)+1`
    # was right mid-round but off by one at the driver's end-of-round
    # bench, which runs AFTER CORRECTNESS_r<current> is written: the
    # r16 driver bench landed its payload as BENCH_LOCAL_r17.json.
    # BENCH_r<n> is only ever written by the driver at the END of round
    # n, so the running round is max(CORRECTNESS) when correctness has
    # already rolled past the last driver bench, else max(BENCH)+1.
    rnd = max(_max_round("CORRECTNESS"), _max_round("BENCH") + 1)
    local_path = os.path.join(os.path.dirname(__file__), f"BENCH_LOCAL_r{rnd:02d}.json")
    with open(local_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))

    compact = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "job_floor": round(floor, 3),
        "n_queries": len(timings),
        "n_errors": len(errors),
        "full": os.path.basename(local_path),
    }
    # The driver parses this LAST line and its contract requires a populated
    # "queries" dict — so queries get the budget FIRST. The old order added
    # recall+scale8 up front and trimmed queries afterwards; once scale8 grew
    # past 1900 chars on its own (r12), the trim loop emptied "queries" and the
    # line still overflowed the driver's tail window (BENCH_r12..r15 all read
    # "parsed": null). Optional sections now only ride along if they fit,
    # otherwise they collapse to a count (the full payload always has them).
    headline = [
        "q01_pricing_summary",
        "q_knn_l2",
        "q_hnsw_knn",
        "q_hnsw_knn_join",
        "q_minhash_lsh",
        "q_simhash_pairs",
        "q_contamination",
        "q_dup_spans",
        "q_semdedup",
        "q_asof_join",
        "q_bm25_topk",
        "q_pack_sequences",
        "q_image_phash_dedup",
        "q_stream_knn_serve",
    ]
    budget = 1900
    compact["queries"] = {k: timings[k] for k in headline if k in timings}
    while len(json.dumps(compact)) > budget and compact["queries"]:
        compact["queries"].popitem()
    for key, extra in (("scale_mrg", mrg), ("scale8", scale8)):
        if not extra:
            continue
        if len(json.dumps({**compact, key: extra})) <= budget:
            compact[key] = extra
        else:
            compact["n_" + key] = len(extra)
    # pad with the remaining (slowest-first) queries while the line fits
    for k in sorted(set(timings) - set(compact["queries"]), key=lambda k: -timings[k]):
        trial = json.dumps({**compact, "queries": {**compact["queries"], k: timings[k]}})
        if len(trial) > budget:
            break
        compact["queries"][k] = timings[k]
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
