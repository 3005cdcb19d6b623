"""Round-13 candidates: driver-gate-equivalent checks.

``emb_dim_reduction_eval`` is REGISTERED since r13 (the consolidation
— see plans/embeddings.py); its checks, including the ones
inherited from the deleted standalone JL candidate, keep running
against the registered entry so the staging proof stays reproducible
post-promotion (the test_staging_r11 precedent). The sampling and
hard-negatives candidates stay staged. All get the full staging
protocol here: the driver's row-count + columns + order-insensitive
value-hash compare, an INDEPENDENT third implementation of the
sampling entry (pure Python md5 arithmetic — neither engine),
planted-case semantics the synthetic corpus cannot express (an
exact-duplicate vector that every projection width must recover),
differential fuzz over adversarial lakes, construction laziness, and
plan-shape (scale-contract) assertions.

Run with SPARK_GRAFT_TEST_SF_DIR at sf0.001 / sf0.01 / sf0.1 for the
three-SF staging proof (the maintenance-op promotion protocol).
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from noaa_data_pipeline_spark.plans import load_all, resolve
from noaa_data_pipeline_spark.plans.embeddings import JL_DIMS, JL_K, JL_QUERIES, JL_R, _jl_sign
from noaa_data_pipeline_spark.plans.text import WSAMP_K, WSAMP_SCALE
from tools.check_correctness import frame_digest


# emb_dim_reduction_eval is registered (the r13 consolidation); the
# other two stay staged. All resolve by name.
CANDIDATES = ["emb_dim_reduction_eval", "sample_weighted_priority", "sim_hard_negatives"]


def _staged_names():
    return sorted(CANDIDATES)


def test_staging_is_not_registered():
    """Staged candidates must not leak into the driver surface; the
    promoted consolidation entry must be IN it, and both retired
    parents must be OUT (matryoshka folded, the standalone JL
    candidate deleted)."""
    registered = set(load_all())
    for name in ("sample_weighted_priority", "sim_hard_negatives"):
        assert resolve(name).tier == "staged"
        assert name not in registered
    assert "emb_dim_reduction_eval" in registered
    with pytest.raises(KeyError):
        resolve("emb_jl_projection_eval")
    assert resolve("emb_matryoshka_truncate_eval").tier == "folded"
    assert "emb_matryoshka_truncate_eval" not in registered


@pytest.mark.parametrize("name", _staged_names())
def test_staged_matches_oracle(spark, duck, sf_dir, name):
    q = resolve(name).fn(spark, sf_dir)
    complex_cols = [
        f.name
        for f in q.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert not complex_cols, f"top-level complex column(s) {complex_cols}"
    srows = [tuple(r) for r in q.collect()]
    oracle = resolve(name).oracle
    assert oracle is not None, "staged entries must ship an oracle"
    res = duck.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(q.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    sh, slines = frame_digest(q.columns, srows)
    oh, olines = frame_digest(ocols, orows)
    if sh != oh:
        only_s = [x for x in slines if x not in set(olines)][:3]
        only_o = [x for x in olines if x not in set(slines)][:3]
        pytest.fail(f"value hash mismatch; spark-only={only_s} oracle-only={only_o}")


# --- shared gate compare on adversarial lakes --------------------------


def _gate_compare(spark, lake, name, views):
    import duckdb

    q = resolve(name)
    con = duckdb.connect()
    for t in views:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet')"
        )
    sdf = q.fn(spark, lake)
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(q.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    con.close()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    sh, slines = frame_digest(sdf.columns, srows)
    oh, olines = frame_digest(ocols, orows)
    if sh != oh:
        only_s = [x for x in slines if x not in set(olines)][:3]
        only_o = [x for x in olines if x not in set(slines)][:3]
        pytest.fail(f"{name} hash mismatch; spark={only_s} oracle={only_o}")
    return sdf.columns, srows


# --- the JL axis (inherited from the deleted standalone candidate) -------


def test_jl_sign_matrix_is_deterministic_pm_one():
    """The sign matrix is pure +/-1, reproducible, and its widths
    nest by construction (width r reads planes 0..r-1 of the same
    matrix, the prefix property the single projection pass relies
    on); both signs actually occur in every plane-row large enough
    to matter."""
    for j in range(JL_R):
        row = [_jl_sign(j, d + 1) for d in range(64)]
        assert set(row) <= {1.0, -1.0}
        assert len(set(row)) == 2  # a constant row would be a degenerate plane
        assert row == [_jl_sign(j, d + 1) for d in range(64)]


# Aggregate recall totals per width, pinned per fixture lake (r11
# ADVICE: JL recall is NOT theoretically monotone in r, so asserting
# monotonicity would couple the suite to a distributional accident —
# a constant tweak or a different lake could flip one point without
# any engine bug; the pinned curves ARE the measured behavior and a
# change in them means the projection or the scoring changed).
_JL_EXPECTED_CURVES = {
    "sf0.001": [3, 5, 10],
    "sf0.01": [2, 6, 8],
    "sf0.1": [2, 2, 3],
}


def test_jl_overlap_counts_are_sane(spark, sf_dir):
    """Structural bounds on the fixture lake: one row per (axis,
    width, query), overlaps within [0, k]; on the known testdata
    lakes the jl-axis aggregate recall curve must equal the fixture
    pinned while the standalone candidate existed — the consolidation
    identity means the curves transfer verbatim (the near-isotropic
    synthetic embeddings make absolute recall low, which is exactly
    what this eval exists to reveal before anyone fronts retrieval
    with a projection)."""
    import os

    rows = resolve("emb_dim_reduction_eval").fn(spark, sf_dir).collect()
    assert len(rows) == 2 * len(JL_DIMS) * JL_QUERIES
    totals = {}
    for r in rows:
        assert 0 <= r.n_overlap <= r.k == JL_K
        if r.axis == "jl":
            totals[r.r_dim] = totals.get(r.r_dim, 0) + r.n_overlap
    curve = [totals[r] for r in sorted(totals)]
    expected = _JL_EXPECTED_CURVES.get(os.path.basename(sf_dir.rstrip("/")))
    if expected is not None:
        assert curve == expected, f"recall curve drifted: {curve} != {expected}"


def _write_embeddings(tmp, vecs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([i % 3 for i in range(len(vecs))], pa.int32()),
            }
        ),
        f"{tmp}/embeddings.parquet",
    )


@given(
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    n=st.integers(min_value=12, max_value=24),
    n_zero=st.integers(min_value=0, max_value=2),
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_jl_planted_duplicate_fuzz(spark, tmp_path_factory, seed, n, n_zero):
    """Random lakes with a PLANTED exact duplicate of query 0 (plus
    all-zero vectors riding the NULLIF path): the engines must
    hash-match, and every (axis, width) must recover the duplicate —
    an exact copy truncates to the same prefix and projects to the
    exact same point, so it tops both reduced rankings at any r
    (cosine 1 with the smallest neighbor_id among full-cosine-1 ties
    on both sides)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n, 64))
    X[n - 1] = X[0]  # exact duplicate of query 0, largest vec_id
    X[1 : 1 + n_zero] = 0.0  # zero vectors: NULL cosines, sort last
    vecs = [list(map(float, x)) for x in X.astype(np.float32)]
    tmp = str(tmp_path_factory.mktemp("jl_fuzz"))
    _write_embeddings(tmp, vecs)
    cols, srows = _gate_compare(
        spark, tmp, "emb_dim_reduction_eval", ["embeddings"]
    )
    q0 = {}
    for r in srows:
        row = dict(zip(cols, r))
        if row["query_id"] == 0:
            q0[(row["axis"], row["r_dim"])] = row
    assert set(q0) == {(a, r) for a in ("mrl", "jl") for r in JL_DIMS}
    for (axis, r_dim), row in q0.items():
        # an exact copy is identical in every prefix AND projects to
        # the exact same point, so BOTH axes must recover it at any r
        assert row["n_overlap"] >= 1, (
            f"axis {axis} width {r_dim} lost the planted duplicate"
        )


def test_jl_plan_shape(spark, sf_dir):
    """The corpus never shuffles: the pair source is the audited
    query-broadcast nested loop (vec_id <> query_id), per-(axis,
    query, width) top-k is WindowGroupLimit, and nothing drops to
    Python or a cartesian."""
    df = resolve("emb_dim_reduction_eval").fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the query broadcast
    assert "WindowGroupLimit" in plan


# --- sample_weighted_priority --------------------------------------------


def _py_priority(doc_id, n_chars):
    """Independent third implementation (neither engine): the
    portable md5 hash, the 40-bit slice, and the integer rank key."""
    h = int(hashlib.md5(f"wsamp|{doc_id}".encode()).hexdigest()[:15], 16) >> 20
    w = max(n_chars if n_chars is not None else 1, 1)
    return (h * WSAMP_SCALE) // w


def test_wsamp_matches_python_reference(spark, duck, sf_dir):
    """Both engines already hash-match; this pins them to a THIRD
    implementation — pure Python md5 + integer arithmetic over the
    raw parquet — so an accidental shared misreading of the md5 idiom
    in the SQL pair cannot self-confirm."""
    raw = duck.execute("SELECT source, doc_id, n_chars FROM documents").fetchall()
    by_stratum = {}
    for source, doc_id, n_chars in raw:
        by_stratum.setdefault(source, []).append(
            (_py_priority(doc_id, n_chars), doc_id)
        )
    expected = {}
    for source, items in by_stratum.items():
        items.sort()
        expected[source] = [
            (rank + 1, doc_id, pri)
            for rank, (pri, doc_id) in enumerate(items[:WSAMP_K])
        ]
    rows = resolve("sample_weighted_priority").fn(spark, sf_dir).collect()
    got = {}
    for r in rows:
        got.setdefault(r.source, []).append((r.sample_rank, r.doc_id, r.priority))
    for source in expected:
        assert sorted(got[source]) == expected[source], f"stratum {source}"
    assert set(got) == set(expected)


def test_wsamp_stratum_stats_and_bounds(spark, sf_dir):
    """Per-stratum row counts are min(k, stratum size), ranks are the
    dense prefix 1..n, and the carried stratum stats are consistent
    across every row of the stratum."""
    rows = resolve("sample_weighted_priority").fn(spark, sf_dir).collect()
    by_stratum = {}
    for r in rows:
        by_stratum.setdefault(r.source, []).append(r)
    for source, rs in by_stratum.items():
        n = rs[0].stratum_docs
        assert len(rs) == min(WSAMP_K, n)
        assert sorted(r.sample_rank for r in rs) == list(range(1, len(rs) + 1))
        assert len({(r.stratum_docs, r.stratum_weight) for r in rs}) == 1
        assert all(r.weight >= 1 for r in rs)
        assert rs[0].stratum_weight >= n  # every weight >= 1


def _write_docs(tmp, rows):
    """rows: (doc_id, source, n_chars) — the entry reads only these
    three columns; text/lang are filler."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array(["x"] * len(rows), pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array([r[1] for r in rows], pa.string()),
                "n_chars": pa.array([r[2] for r in rows], pa.int64()),
            }
        ),
        f"{tmp}/documents.parquet",
    )


@given(
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    n_docs=st.integers(min_value=0, max_value=80),
    n_strata=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_wsamp_differential_fuzz(spark, tmp_path_factory, seed, n_docs, n_strata):
    """Random lakes — including EMPTY lakes, zero/NULL n_chars (the
    GREATEST/COALESCE guard), duplicate weights (doc_id tie-break),
    and strata smaller than k — must hash-match the oracle AND the
    Python reference."""
    import random

    rng = random.Random(seed)
    rows = [
        (
            i,
            f"s{rng.randrange(n_strata)}",
            rng.choice([0, 1, 7, 7, 100, 5000, None]),
        )
        for i in range(n_docs)
    ]
    tmp = str(tmp_path_factory.mktemp("wsamp_fuzz"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array(["x"] * len(rows), pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array([r[1] for r in rows], pa.string()),
                "n_chars": pa.array([r[2] for r in rows], pa.int64()),
            }
        ),
        f"{tmp}/documents.parquet",
    )
    cols, srows = _gate_compare(spark, tmp, "sample_weighted_priority", ["documents"])
    got = sorted(
        (d["source"], d["sample_rank"], d["doc_id"], d["priority"])
        for d in (dict(zip(cols, r)) for r in srows)
    )
    by_stratum = {}
    for doc_id, source, n_chars in rows:
        by_stratum.setdefault(source, []).append(
            (_py_priority(doc_id, n_chars), doc_id)
        )
    expected = []
    for source, items in by_stratum.items():
        items.sort()
        expected.extend(
            (source, rank + 1, doc_id, pri)
            for rank, (pri, doc_id) in enumerate(items[:WSAMP_K])
        )
    assert got == sorted(expected)


def test_wsamp_planted_heavy_weight(spark, tmp_path_factory):
    """A doc with weight 10^12 in a stratum of weight-<=200 docs has
    a rank key ~10^6 x smaller than any peer, so it must head the
    sample — the inclusion-probability-tracks-weight semantics in its
    extreme."""
    rows = [(i, "s0", 50 + i) for i in range(40)]
    rows.append((99, "s0", 10**12))
    tmp = str(tmp_path_factory.mktemp("wsamp_heavy"))
    _write_docs(tmp, rows)
    cols, srows = _gate_compare(spark, tmp, "sample_weighted_priority", ["documents"])
    top = [d for d in (dict(zip(cols, r)) for r in srows) if d["sample_rank"] == 1]
    assert len(top) == 1 and top[0]["doc_id"] == 99


def test_wsamp_weight_share_tracks_weights(spark, tmp_path_factory):
    """PPS semantics on a bimodal stratum: 50 docs at weight 5000 vs
    50 at weight 10 (weight share 99.8%) — the k=16 sample must be
    dominated by the heavy group (expected ~15.97 heavy picks;
    deterministic for these doc_ids, measured 16)."""
    rows = [(i, "s0", 5000) for i in range(50)]
    rows += [(100 + i, "s0", 10) for i in range(50)]
    tmp = str(tmp_path_factory.mktemp("wsamp_share"))
    _write_docs(tmp, rows)
    cols, srows = _gate_compare(spark, tmp, "sample_weighted_priority", ["documents"])
    heavy = sum(
        1 for d in (dict(zip(cols, r)) for r in srows) if d["doc_id"] < 50
    )
    assert heavy >= 13  # binomial(16, .998) puts P(<13) below 1e-9


def test_wsamp_plan_shape(spark, sf_dir):
    """The scale contract: the per-stratum top-k must plan as
    WindowGroupLimit (with a Partial mode pass, so map tasks forward
    at most k rows per stratum into the one source-keyed exchange),
    the stats join must be broadcast, and nothing drops to Python or
    a cartesian."""
    df = resolve("sample_weighted_priority").fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan  # map-side group-limit before the exchange
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


# --- construction laziness (registry convention) ------------------------


def test_candidate_construction_laziness(spark, sf_dir):
    """Every r13 candidate (staged or promoted) constructs without
    launching a Spark job — no exemptions (the KMV precedent
    documents its exemption in test_staging_r11; these have none)."""
    tracker = spark.sparkContext.statusTracker()
    for name in _staged_names():
        fn = resolve(name).fn
        fn(spark, sf_dir)  # warm table/footer caches
        before = set(tracker.getJobIdsForGroup(None) or ())
        fn(spark, sf_dir)
        after = set(tracker.getJobIdsForGroup(None) or ())
        assert after == before, f"{name} construction launched a job"


def test_jl_projection_is_persisted_not_inlined(spark, sf_dir):
    """The 32-fold projection array must reach the pair scorer
    through the persisted corpus frame (InMemoryTableScan), not be
    re-inlined by Catalyst's projection collapse into each of the
    ~10 downstream cosine expressions — the GATE_LOG r11
    inlined-expression-recompute hazard, load-bearing here: losing
    the persist silently multiplies the projection work ~10x without
    changing any result."""
    df = resolve("emb_dim_reduction_eval").fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    # the projected column itself must not appear as an inline
    # aggregate-fold chain in the final plan (it lives in the cache)
    assert plan.count("aggregate(") < 2 * 3 * len(JL_DIMS) * 64


# --- sim_hard_negatives ---------------------------------------------------


def test_hard_negatives_structure(spark, sf_dir):
    """Per anchor: <= k rows, dense ranks from 1, negatives strictly
    different-label (checked against the raw embeddings), margin is
    exactly pos_best - neg_cosine on the returned bits, and the
    ranking is non-increasing in cosine."""
    from noaa_data_pipeline_spark.plans.similarity import HN_K, HN_QUERIES

    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    rows = resolve("sim_hard_negatives").fn(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) <= set(range(HN_QUERIES))
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.neg_rank)
        assert [r.neg_rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= HN_K
        cosines = [r.neg_cosine for r in rs if r.neg_cosine is not None]
        assert cosines == sorted(cosines, reverse=True)
        for r in rs:
            assert labels[r.neighbor_id] != labels[qid]
            if r.pos_best_cosine is not None and r.neg_cosine is not None:
                assert r.margin == r.pos_best_cosine - r.neg_cosine
            else:
                assert r.margin is None


@given(
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    n=st.integers(min_value=12, max_value=24),
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_hard_negatives_planted_fuzz(spark, tmp_path_factory, seed, n):
    """Plant TWO exact duplicates of anchor 0: one with a DIFFERENT
    label (must be the rank-1 hard negative at cosine ~1) and one
    with the SAME label (must set the positive ceiling to ~1, never
    appear among the negatives, and drive rank-1 margin to ~0 — the
    anchor sits exactly on the contrastive boundary). The whole lake
    must also hash-match the oracle."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n, 64))
    X[n - 2] = X[0]  # same-label duplicate (label pattern i % 3: see below)
    X[n - 1] = X[0]  # different-label duplicate
    labels = [i % 3 for i in range(n)]
    labels[0] = 0
    labels[n - 2] = 0  # same label as anchor
    labels[n - 1] = 1  # different label
    vecs = [list(map(float, x)) for x in X.astype(np.float32)]
    tmp = str(tmp_path_factory.mktemp("hn_fuzz"))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        f"{tmp}/embeddings.parquet",
    )
    cols, srows = _gate_compare(spark, tmp, "sim_hard_negatives", ["embeddings"])
    q0 = [dict(zip(cols, r)) for r in srows if dict(zip(cols, r))["query_id"] == 0]
    assert q0, "anchor 0 produced no negatives"
    top = min(q0, key=lambda r: r["neg_rank"])
    assert top["neg_rank"] == 1
    assert top["neighbor_id"] == n - 1  # the planted cross-label copy
    assert top["neg_cosine"] > 0.999999
    assert top["pos_best_cosine"] > 0.999999  # the planted same-label copy
    assert abs(top["margin"]) < 1e-9  # exactly on the boundary
    assert all(r["neighbor_id"] != n - 2 for r in q0)  # same-label never a negative


def test_hard_negatives_plan_shape(spark, sf_dir):
    """One persisted anchor-broadcast scoring pass feeds both the
    negatives window (WindowGroupLimit) and the positives ceiling;
    the corpus never shuffles and nothing drops to Python or a
    cartesian."""
    df = resolve("sim_hard_negatives").fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the anchor broadcast
    assert "WindowGroupLimit" in plan
    assert "InMemoryTableScan" in plan  # the shared scored-pair persist


# --- emb_dim_reduction_eval (consolidation candidate) --------------------


def test_dim_reduction_eval_equals_its_parents(spark, sf_dir):
    """The consolidated entry must be row-identical, per axis, to the
    entries it replaced (the identity that let the r13 rotation swap
    them without any loss of semantics or oracle coverage — kept
    running post-retirement per the r12 VERDICT task 3): axis='mrl'
    to the folded emb_matryoshka_truncate_eval (same widths/k/queries
    constants; the fold keeps its Query gate-resolvable). The deleted
    standalone JL candidate has no live twin to compare against — its
    axis is re-derived independently by this entry's own oracle SQL
    (the truth pin test_staged_matches_oracle/the registry gate
    exercise) and its recall curve stays pinned in
    test_jl_overlap_counts_are_sane."""
    cons = resolve("emb_dim_reduction_eval").fn(spark, sf_dir).collect()
    mrl_axis = sorted(
        (r.r_dim, r.query_id, r.n_overlap, r.k) for r in cons if r.axis == "mrl"
    )
    jl_axis = sorted(
        (r.r_dim, r.query_id, r.n_overlap, r.k) for r in cons if r.axis == "jl"
    )
    parent_mrl = sorted(
        (r.trunc_dim, r.query_id, r.n_overlap, r.k)
        for r in resolve("emb_matryoshka_truncate_eval").fn(spark, sf_dir).collect()
    )
    assert mrl_axis == parent_mrl
    assert len(jl_axis) == len(parent_mrl)
    assert len(cons) == 2 * len(parent_mrl)
