"""Every registered slug vs its DuckDB oracle at sf0.001 — the local
mirror of the driver's CORRECTNESS gate (see tools/check_queries.py for
the sf0.01 run)."""

from __future__ import annotations

import duckdb
import pytest

import tools.check_queries as chk
from resotodatalink_spark import registry
from tests.conftest import SF_DIR

registry.load_all()


def test_harness_rejects_list_typed_frames():
    """The driver's canonicalizer cannot sort list-valued columns (the
    round-7 ``regex_extract_all`` red row); the local harness must flag
    such frames so they can never pass locally and fail the driver."""
    import pandas as pd

    ok = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    assert chk.complex_columns(ok) == []
    bad = pd.DataFrame({"a": [1, 2], "arr": [["x"], ["y", "z"]]})
    assert chk.complex_columns(bad) == ["arr"]
    import numpy as np

    nparr = pd.DataFrame({"v": [np.array([1.0, 2.0]), np.array([3.0])]})
    assert chk.complex_columns(nparr) == ["v"]
    mapcol = pd.DataFrame({"m": [{"k": 1}, {"k": 2}]})
    assert chk.complex_columns(mapcol) == ["m"]


# Slugs whose oracle check runs in the default tier.  dedup_incremental
# is the only Spark-vs-DuckDB check of operators.dedup's
# minhash_pairs_between (the batch-vs-corpus band join).
FAST_ORACLE_SLUGS = {"dedup_incremental"}


# The rest of the sweep is slow (~500s): redundant with
# tools/check_queries.py's tri-SF value-hash sweep (run every round) and
# the driver's own CORRECTNESS gate; default-skipped so `pytest tests/
# -x -q` fits the driver's verify window (r13 verdict item 2).
# SPARK_GRAFT_FULL_TESTS=1 runs it.
@pytest.mark.parametrize(
    "name",
    [
        n if n in FAST_ORACLE_SLUGS else pytest.param(n, marks=pytest.mark.slow)
        for n in sorted(registry.QUERIES)
    ],
)
def test_query_matches_oracle(name, spark, duck):
    sdf = registry.QUERIES[name](spark, SF_DIR).toPandas()
    assert chk.complex_columns(sdf) == [], (
        "driver-uncanonicalizable (list/map-typed) output columns — "
        "emit array_join/to_json scalars instead"
    )
    if name not in registry.ORACLES:
        assert len(sdf) >= 0  # rows-only contract; schema must materialize
        return
    try:
        odf = duck.execute(registry.ORACLES[name]).df()
    except duckdb.Error:
        # observed rare transient duckdb errors on this sandbox (page-
        # cache churn; twice an allocator failure late in the 150-oracle
        # session).  Retry on a FRESH connection — the long-lived one's
        # buffer pool may be exhausted/fragmented, so retrying on it
        # reproduces the failure (it did, r8).  A real oracle failure
        # recurs deterministically on the fresh connection and still
        # fails the test.
        from tests.conftest import make_duck

        odf = make_duck().execute(registry.ORACLES[name]).df()
    assert len(sdf) == len(odf), f"row count {len(sdf)} != {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)
    cs, co = chk.canon_frame(sdf), chk.canon_frame(odf)
    if not cs.equals(co):
        neq = (cs != co).any(axis=1)
        bad = neq[neq].index[:3].tolist()
        detail = "\n".join(
            f"spark={cs.loc[i].to_dict()}\nduck ={co.loc[i].to_dict()}" for i in bad
        )
        pytest.fail(f"{int(neq.sum())} differing rows, e.g.\n{detail}")


def test_attest_window_consistency():
    """The driver attests the FIRST 50 queries() entries: every name in
    the ordering list must be a registered slug (a typo would silently
    burn a window slot), with no duplicates, and the dict must contain
    every registered slug exactly once."""
    import __spark_entry__ as entry

    names = list(entry.queries())
    assert sorted(names) == sorted(registry.QUERIES)
    af = entry._ATTEST_FIRST
    assert len(af) == len(set(af)), "duplicate slug in _ATTEST_FIRST"
    unknown = set(af) - set(registry.QUERIES)
    assert not unknown, f"unknown slugs in _ATTEST_FIRST: {unknown}"
    # the never-attested backlog and this round's changed slugs must
    # sit inside the 50-slot window (round-9 policy: no driver row
    # ever / changed this round => head of window, unconditionally)
    window = set(names[:50])
    assert set(entry._R14_HEAD) <= window
    assert set(entry._R13B_WAVE) <= window
    # the rest of the r14 window is the r9 staleness drain: 39 of the
    # 40 remaining r9-tier slugs fit, the last spills to the r15 head
    head = entry._R14_HEAD + entry._R13B_WAVE
    assert window == set(head + entry._R9_REST[: 50 - len(head)])
    # the r15 cohort is exactly the slugs the r14 window spills
    # (r9-spill + r10/r11/r12/r13-fresh slugs rotate later)
    assert set(entry._R15_COHORT) == set(entry._ATTEST_FIRST) - window
    assert not set(entry._R15_COHORT) & window


def test_bench_names_registered():
    """Every slug bench.py times must exist in the registry — a typo'd
    name would silently drop a section entry (the _run loop indexes
    registry.QUERIES directly)."""
    import bench

    known = set(registry.QUERIES) | set(bench.BENCH_VARIANTS)
    for group in (bench.HEADLINE, bench.EXTENDED, bench.SF1_SUBSET):
        unknown = set(group) - known
        assert not unknown, f"bench names not in registry: {unknown}"
        assert len(group) == len(set(group)), "duplicate bench entry"
    assert not set(bench.HEADLINE) & set(bench.EXTENDED)
    # bench-only variants must never shadow a registered slug (the
    # _run lookup prefers BENCH_VARIANTS)
    assert not set(bench.BENCH_VARIANTS) & set(registry.QUERIES)


def test_bench_variants_build_and_run(spark):
    """Every bench-only variant must build a plan and return rows on
    the tiny SF — a broken variant would otherwise only fail inside a
    30-minute bench session."""
    import bench

    for name, fn in bench.BENCH_VARIANTS.items():
        df = fn(spark, "/root/testdata/sf0.001")
        rows = df.collect()
        assert isinstance(rows, list), name


def test_t80_variant_finds_planted_twins(spark, tmp_path):
    """Value sanity for the t80 variant on a corpus KNOWN to contain
    near-twins (r10 ADVICE: the driver sf0.001 testdata has none, so
    the old ``all(cosine >= 0.8)`` assertion was vacuously true on an
    empty result).  Replays the make_scaled_data planting recipe —
    every even vector 2j+1 is vector 2j scaled per-coordinate by
    U[0.97, 1.03], cosine ~0.99985 — and asserts the production
    threshold/band shape recovers EXACTLY the planted pairs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import bench

    rng = np.random.default_rng(7)
    n, dim, n_plant = 200, 64, 20
    mat = rng.standard_normal((n, dim)).astype(np.float32)
    for j in range(n_plant):
        scale = rng.uniform(0.97, 1.03, size=dim).astype(np.float32)
        mat[2 * j + 1] = mat[2 * j] * scale
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in mat], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    rows = bench.BENCH_VARIANTS["dedup_embedding_t80_pairs"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == n_plant
    assert all(r["cosine"] >= 0.8 for r in rows)
    assert {(r["vec_a"], r["vec_b"]) for r in rows} == {
        (2 * j, 2 * j + 1) for j in range(n_plant)
    }
    # the registered keep-shape slug marks exactly the odd twins
    from resotodatalink_spark import registry as reg

    keep = {
        r.vec_id: r.keep
        for r in reg.QUERIES["dedup_embedding"](spark, str(tmp_path)).collect()
    }
    assert len(keep) == n
    assert {v for v, k in keep.items() if not k} == {
        2 * j + 1 for j in range(n_plant)
    }
