"""The reference extension's OWN sqllogictest scripts, replayed
verbatim through VssPlanner (r14, tools/slt.py): 15 of the 16
test/sql/**.test files run statement-for-statement — CREATE TABLE
without id columns (auto-rowid), INSERT ... SELECT over range() cross
products, CREATE INDEX / EXPLAIN-marker asserts / pragmas / SET /
restarts / error-wording asserts, lateral joins with NULL semantics,
the vss_join/vss_match macros, and the slow suite's storage-reclaim
loop (CTAS + pragma_database_size() + loop/endloop).

Excluded: hnsw_lateral_join_group.test (its data generation is
``setseed()`` + DuckDB's seeded ``random()`` — the expected values are
that engine's PRNG stream, unreproducible by specification).

Deviations (skipped-and-counted, never silent): two assertions whose
expected values encode the reference engine's tie order among EQUAL
distances (usearch heap order / DuckDB scan order) rather than
specified semantics — any tie-break is a correct k-NN answer there.

The replays read the scripts from a checkout of the reference
extension. Without one they skip, and the SLT parity claim cannot be
checked; the runner's own unit tests still run.
"""

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import slt  # noqa: E402

FILES = slt.REFERENCE_FILES


def _require_script(name: str) -> str:
    path = slt.reference_script(name)
    if path is None:
        pytest.skip(
            f"reference script {name!r} is absent: the reference extension's "
            "test/sql/** checkout is not present, so SLT parity cannot be checked"
        )
    return path


@pytest.mark.parametrize("name", sorted(FILES))
def test_reference_script_verbatim(spark, tmp_path, name):
    _require_script(name)
    want_n, deviations = FILES[name]
    r = slt.run_reference_test(spark, name, str(tmp_path), deviations=deviations)
    # exact counts: a silently-skipped assertion (or an extra deviation)
    # must fail the replay, not shrink it
    assert r.n_ok == want_n, (name, r.n_ok)
    assert len(r.deviated) == len(deviations), (name, r.deviated)


def test_reclaim_storage_script(spark, tmp_path):
    """test/sql/slow/hnsw_reclaim_storage.test_slow: DROP INDEX
    physically releases the artifact's blocks and five drop/create
    cycles return to the script's own recorded baselines — storage
    does not leak. Default replay applies the ONE recorded scale
    substitution (slt.RECLAIM_SCALE_SUBS: 1M -> 10k rows + the
    matching probe id) — every assertion keeps its semantics because
    the reclaim checks are relative to baselines the script itself
    records via CTAS over pragma_database_size(). VSS_SLT_SLOW=1 runs
    the file verbatim at 1M rows (~35 min)."""
    name, want_n, deviations = slt.RECLAIM_FILE
    _require_script(name)
    subs = None if os.environ.get("VSS_SLT_SLOW") else slt.RECLAIM_SCALE_SUBS
    r = slt.run_reference_test(
        spark, name, str(tmp_path), deviations=deviations, subs=subs
    )
    assert r.n_ok == want_n, (name, r.n_ok)
    assert len(r.deviated) == len(deviations), (name, r.deviated)


def test_expand_loops_nested_and_unsupported():
    """Loop expansion: substitution happens before the recursive
    expansion (an inner loop may use the outer variable as a bound),
    and an unsupported block directive fails loudly at its own line
    instead of stealing the outer endloop."""
    out = slt._expand_loops(
        ["loop i 1 3", "loop j 0 ${i}", "s ${i}.${j}", "endloop", "endloop"]
    )
    assert out == ["s 1.0", "s 2.0", "s 2.1"]
    with pytest.raises(slt.SltUnsupported, match="foreach"):
        slt._expand_loops(["loop i 0 2", "foreach x a b", "s", "endloop", "endloop"])
    with pytest.raises(slt.SltUnsupported, match="unterminated"):
        slt._expand_loops(["loop i 0 2", "s"])
    with pytest.raises(FileNotFoundError, match="unknown reference script"):
        slt.run_reference_test(None, "no_such_script", "/tmp")


def test_expand_loops_ignores_expected_block_rows():
    """ADVICE r14: lines inside a ``----``-delimited expected block are
    data — an expected cell starting with ``loop``/``foreach`` or an
    ``endloop`` row must not parse as a directive."""
    lines = [
        "query T",
        "SELECT s FROM t",
        "----",
        "foreach is just a string here",
        "endloop",
        "loop the loop",
        "",
        "statement ok",
        "SELECT 1",
    ]
    assert slt._expand_loops(lines) == lines
    # and a real loop AROUND an expected block still expands its body
    out = slt._expand_loops(
        [
            "loop i 0 2",
            "query T",
            "SELECT ${i}",
            "----",
            "endloop",
            "",
            "endloop",
        ]
    )
    assert out == [
        "query T", "SELECT 0", "----", "endloop", "",
        "query T", "SELECT 1", "----", "endloop", "",
    ]


def test_scale_subs_counts_audited(spark, tmp_path):
    """ADVICE r14: a recorded substitution pair carries its audited
    occurrence count; upstream drift fails loudly instead of silently
    corrupting the replay."""
    p = tmp_path / "toy.test"
    p.write_text("statement ok\nSELECT 500000\n")
    r = slt.SltRunner(spark, str(tmp_path))
    with pytest.raises(slt.SltUnsupported, match="recorded for 15"):
        r.run_file(str(p), subs=[("500000", "5000", 15)])
    # the audited counts still hold against the upstream file
    with open(_require_script(slt.RECLAIM_FILE[0])) as f:
        text = f.read()
    for old, _new, n in slt.RECLAIM_SCALE_SUBS:
        assert text.count(old) == n, (old, n)


def test_same_label_with_blocks_must_agree(spark, tmp_path):
    """Review r15 (duckdb slt semantics): a labeled query that carries
    its OWN expected block is still cross-compared against the stored
    label result — two same-label queries with differing blocks fail
    like they do under duckdb's runner."""
    p = tmp_path / "lbl.test"
    p.write_text(
        "query I lbl\nSELECT 1\n----\n1\n\n"
        "query I lbl\nSELECT 2\n----\n2\n"
    )
    r = slt.SltRunner(spark, str(tmp_path))
    with pytest.raises(slt.SltFailure, match="label lbl"):
        r.run_file(str(p))
    # agreeing blocks still pass
    p2 = tmp_path / "lbl_ok.test"
    p2.write_text(
        "query I lbl\nSELECT 1\n----\n1\n\n"
        "query I lbl\nSELECT 1\n----\n1\n"
    )
    r2 = slt.SltRunner(spark, str(tmp_path))
    assert r2.run_file(str(p2)) >= 2
