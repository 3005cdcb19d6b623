"""Non-degeneracy, plan-shape, and differential-fuzz checks for the
round-10 promoted graph/eval operators (plans/graph_eval.py).

The staged-vs-oracle hash compare these entries carried while staged
(rounds 9, as tests/test_staging_r10.py) retired into the registry
oracle gate (tests/test_registry_oracle.py) at promotion; what stays
here is everything the hash gate can't see — shape invariants a
tuning regression could silently violate, physical-plan scale
contracts, and adversarial-lake fuzz.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from noaa_data_pipeline_spark.plans import load_all, resolve
from noaa_data_pipeline_spark.plans.graph_eval import (
    COVERAGE_VS,
    KNN_K,
    MRL_DIMS,
    MRL_K,
)
from tools.check_correctness import frame_digest


# --- non-degeneracy ----------------------------------------------------


def test_knn_graph_shape(spark, sf_dir):
    """Every vector emits at most K contiguous ranks; at least one
    vector has a full neighbor list; edges never self-loop; cosines
    are non-increasing within a vector's list."""
    rows = load_all()["sim_knn_graph"].fn(spark, sf_dir).collect()
    assert rows
    by_vec = {}
    for r in rows:
        assert r.vec_id != r.neighbor_id
        by_vec.setdefault(r.vec_id, []).append(r)
    assert any(len(v) == KNN_K for v in by_vec.values())
    for v in by_vec.values():
        v.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in v] == list(range(1, len(v) + 1))
        cosines = [r.cosine for r in v if r.cosine is not None]
        assert cosines == sorted(cosines, reverse=True)


def test_matryoshka_wider_prefix_recovers_more(spark, sf_dir):
    """Overlap with the full-dim top-k must be within [0, K], cover
    every (query, width) pair, and be non-decreasing in the prefix
    width ON AVERAGE (the Matryoshka premise; per-query noise is
    allowed, a flat-zero or saturated curve is not)."""
    rows = resolve("emb_matryoshka_truncate_eval").fn(spark, sf_dir).collect()
    by_dim = {}
    queries = set()
    for r in rows:
        assert 0 <= r.n_overlap <= MRL_K and r.k == MRL_K
        by_dim.setdefault(r.trunc_dim, []).append(r.n_overlap)
        queries.add(r.query_id)
    assert set(by_dim) == set(MRL_DIMS)
    assert all(len(v) == len(queries) for v in by_dim.values())
    means = [sum(by_dim[d]) / len(by_dim[d]) for d in sorted(by_dim)]
    assert means == sorted(means), f"overlap not monotone in width: {means}"
    assert means[-1] > 0  # the widest prefix recovers something


def test_token_coverage_curve_monotone(spark, sf_dir):
    """Per language: covered_occ is strictly positive, non-decreasing
    in v, never exceeds total_occ, and equals total_occ once v >=
    n_distinct (the curve saturates exactly at the vocabulary)."""
    rows = load_all()["corpus_token_coverage"].fn(spark, sf_dir).collect()
    assert rows
    langs = {}
    for r in rows:
        assert 0 < r.covered_occ <= r.total_occ
        langs.setdefault(r.lang, {})[r.v] = r
    for lang, by_v in langs.items():
        assert set(by_v) == set(COVERAGE_VS)
        cov = [by_v[v].covered_occ for v in sorted(by_v)]
        assert cov == sorted(cov)
        for v, r in by_v.items():
            if v >= r.n_distinct:
                assert r.covered_occ == r.total_occ
    # the smallest cut must NOT already cover everything somewhere,
    # or the curve is degenerate at this SF
    assert any(
        by_v[min(COVERAGE_VS)].covered_occ < by_v[min(COVERAGE_VS)].total_occ
        for by_v in langs.values()
    )


# --- plan shapes --------------------------------------------------------


def _plan(spark, sf_dir, name: str) -> str:
    df = resolve(name).fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_coverage_plan_aggregate_exchanges_only(spark, sf_dir):
    """The doc_id compute-spreading repartition + one (lang, tok)
    count exchange + one lang exchange the window AND the final
    aggregate both reuse; no join anywhere — the corpus is scanned
    once and nothing bigger than the document rows shuffles."""
    plan = _plan(spark, sf_dir, "corpus_token_coverage")
    assert plan.count("Exchange") == 3
    assert "Join" not in plan


def test_knn_graph_plan_no_cartesian(spark, sf_dir):
    """Candidates come from the bucket equi-join (size-adaptive:
    broadcast at toy SF, shuffle at scale) — never a cartesian; the
    per-vector top-k must be a WindowGroupLimit, not a full sort."""
    plan = _plan(spark, sf_dir, "sim_knn_graph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_matryoshka_plan_shares_one_scored_pass(spark, sf_dir):
    """All four rankings (full + every prefix width) must read the
    ONE persisted query-broadcast score pass — four InMemoryTableScan
    references, not four recomputed corpus joins. The only
    nested-loop join is the broadcast != pairing against the
    bounded query frame (8 rows at any corpus size)."""
    plan = _plan(spark, sf_dir, "emb_matryoshka_truncate_eval")
    assert plan.count("InMemoryTableScan") == 1 + len(MRL_DIMS)
    assert "CartesianProduct" not in plan


def test_promoted_entries_swap_persisted_frames(spark, sf_dir):
    """r10 ADVICE: repeated invocations must not accumulate cached
    blocks — the second call unpersists the first call's frames, so
    at most ONE invocation's worth of RDDs stays registered per
    entry. storageLevel can't prove this: a repeat invocation
    re-persists the identical logical plan, so the OLD DataFrame
    object reports the NEW cache entry. CacheManager lookup can't
    either, for the same plan-keyed reason. So the assertion is
    scoped to the persistent-RDD IDs this entry's own calls ADD over
    a pre-loop snapshot (r10 ADVICE: a global size() comparison is
    order-dependent — any other fixture persisting in the shared
    session would shift it)."""
    from noaa_data_pipeline_spark.plans import graph_eval as ge

    def cached_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    for name, slot in (
        ("sim_knn_graph", ge._KNN_PERSISTED),
        ("emb_matryoshka_truncate_eval", ge._MRL_PERSISTED),
    ):
        before = cached_ids()
        resolve(name).fn(spark, sf_dir).collect()
        first = list(slot)
        assert len(first) == 1
        for _ in range(3):
            resolve(name).fn(spark, sf_dir).collect()
            assert len(slot) == 1
            assert slot[0] is not first[0]
            # only the LATEST invocation's frame may remain of
            # everything this loop added to the cache registry
            added = cached_ids() - before
            assert len(added) <= 1, (
                f"{name} accumulated cached RDDs across invocations: "
                f"{sorted(added)}"
            )


# --- differential fuzz (driver-gate compare on adversarial lakes) -----


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


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_characters="\x00"
            ),
            max_size=80,
        ),
        min_size=1,
        max_size=12,
    ),
    st.lists(st.sampled_from(["en", "de", "zh", None]), min_size=1, max_size=12),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_coverage_differential_fuzz(spark, tmp_path_factory, texts, langs):
    """Arbitrary unicode text and NULL-able lang labels must
    hash-match the coverage oracle — catches tokenization,
    NULL-grouping, and tie-break drift."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(texts)
    langs = (langs * n)[:n]
    tmp = str(tmp_path_factory.mktemp("cov_fuzz"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, n + 1), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array(["s"] * n, pa.string()),
                "n_chars": pa.array([0] * n, pa.int64()),
            }
        ),
        f"{tmp}/documents.parquet",
    )
    _gate_compare(spark, tmp, "corpus_token_coverage", ["documents"])


@given(
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    n=st.integers(min_value=10, max_value=24),
    n_zero=st.integers(min_value=0, max_value=3),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_embedding_evals_differential_fuzz(spark, tmp_path_factory, seed, n, n_zero):
    """Random fixed-width embedding lakes (including all-zero vectors
    -> NULL cosines via the NULLIF guard) must hash-match both
    ranking oracles — tie-breaks, NULLS LAST ordering, and the
    decimal-dot hop under arbitrary values. Vectors are synthesized
    from a drawn numpy seed (a 64-wide float list strategy overran
    hypothesis's example-size budget); fixed 64-dim width matches the
    embeddings schema contract (ragged vectors are a loader-level
    rejection, not a ranking concern)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vecs = (rng.standard_normal((n, 64)) * 4).astype(np.float32)
    vecs[:n_zero] = 0.0  # exercise the zero-norm NULLIF path
    vecs = [list(map(float, v)) for v in vecs]

    tmp = str(tmp_path_factory.mktemp("emb_fuzz"))
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
    for name in ("sim_knn_graph", "emb_matryoshka_truncate_eval"):
        _gate_compare(spark, tmp, name, ["embeddings"])
