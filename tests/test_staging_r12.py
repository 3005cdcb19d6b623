"""Round-12 candidates: driver-gate-equivalent checks.

The PCA pair is REGISTERED since r13 (see plans/embeddings.py) — its checks keep running against the registered entries
so the three-SF staging proof stays reproducible post-promotion (the
test_staging_r11 precedent); the containment/bloom candidates stay
staged. All get the full staging protocol here: the driver's row-count + columns
+ order-insensitive value-hash compare, semantic assertions the
corpus can't express (the synthetic documents contain only SYMMETRIC
duplicates, so the containment entry's asymmetric branch is proven on
planted-superset lakes), Bloom structural invariants, differential
fuzz over adversarial lakes, construction laziness, and plan-shape
(scale-contract) assertions.

Run with SPARK_GRAFT_TEST_SF_DIR at sf0.001 / sf0.01 / sf0.1 for the
three-SF staging proof (the maintenance-op promotion protocol).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from noaa_data_pipeline_spark.plans import load_all, resolve
from noaa_data_pipeline_spark.plans.dedup import CONTAINMENT_PPM, NEAR_DUP_J_PPM
from noaa_data_pipeline_spark.plans.scale import BLOOM_K, BLOOM_M
from tools.check_correctness import frame_digest


# Promoted at r13 into the capacity the consolidation freed (r12
# VERDICT task 3), plus the r15 rotation promotion (r14 VERDICT task
# 1 standing order); lake_bloom_semijoin_prune stays staged. All
# resolve by name.
CANDIDATES = [
    "emb_pca_power_iteration",
    "emb_pca_project_scores",
    "dedup_containment_ngram",
    "lake_bloom_semijoin_prune",  # staged
]


def _staged_names():
    return sorted(CANDIDATES)


def test_staging_is_not_registered():
    """The staged candidate must not leak into the driver surface;
    the promoted PCA pair and containment entry must be IN it."""
    registered = set(load_all())
    assert resolve("lake_bloom_semijoin_prune").tier == "staged"
    assert "lake_bloom_semijoin_prune" not in registered
    for name in CANDIDATES:
        if name != "lake_bloom_semijoin_prune":
            assert name in registered, f"{name} lost in promotion"


@pytest.mark.parametrize("name", _staged_names())
def test_staged_matches_oracle(spark, duck, sf_dir, name):
    q = resolve(name)
    sdf = q.fn(spark, sf_dir)
    complex_cols = [
        f.name
        for f in sdf.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert not complex_cols, f"top-level complex column(s) {complex_cols}"
    srows = [tuple(r) for r in sdf.collect()]
    assert q.oracle is not None, "staged entries must ship an oracle"
    res = duck.execute(q.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    sh, slines = frame_digest(sdf.columns, srows)
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


# --- dedup_containment_ngram --------------------------------------------

WORDS = [
    "spark", "merge", "filter", "window", "batch", "join", "vector",
    "table", "stream", "group", "sort", "value", "query", "hash",
]


def _write_docs(tmp, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["fuzz"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        f"{tmp}/documents.parquet",
    )


@given(
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    n_docs=st.integers(min_value=4, max_value=12),
    extra_factor=st.integers(min_value=3, max_value=8),
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_containment_planted_superset_fuzz(
    spark, tmp_path_factory, seed, n_docs, extra_factor
):
    """Plant doc 0 VERBATIM inside a much larger doc (id n_docs):
    containment must be ~1 while Jaccard is pushed under the near-dup
    bar by the superset's extra text — the asymmetric case Jaccard
    structurally misses — and the whole lake must hash-match the
    oracle (the random filler docs exercise the no-pair and
    partial-overlap paths)."""
    import random

    rng = random.Random(seed)
    rows = []
    for d in range(n_docs):
        rows.append((d, " ".join(rng.choice(WORDS) for _ in range(rng.randint(20, 60)))))
    base = rows[0][1]
    filler = " ".join(rng.choice(WORDS) for _ in range(len(base.split()) * extra_factor))
    rows.append((n_docs, base + " " + filler))

    tmp = str(tmp_path_factory.mktemp("containment_fuzz"))
    _write_docs(tmp, rows)
    cols, srows = _gate_compare(spark, tmp, "dedup_containment_ngram", ["documents"])
    byname = [dict(zip(cols, r)) for r in srows]
    planted = [
        r for r in byname if r["doc_a"] == 0 and r["doc_b"] == n_docs
    ]
    assert planted, "planted superset pair not detected"
    p = planted[0]
    assert p["containment_ppm"] >= CONTAINMENT_PPM
    assert p["contained_doc_id"] == 0
    # the superset's filler must actually dilute Jaccard; with >=3x
    # extra tokens J <= 1/(1+extra) is far below the near-dup bar
    assert p["jaccard_ppm"] < NEAR_DUP_J_PPM
    assert p["relation"] == "containment"


def test_containment_agrees_with_jaccard_family(spark, duck, sf_dir):
    """Cross-entry consistency: every registered dedup_ngram_jaccard
    pair at J >= 0.8 must also appear here (containment >= Jaccard
    always), flagged near_dup."""
    got = {
        (r.doc_a, r.doc_b): r
        for r in resolve("dedup_containment_ngram").fn(spark, sf_dir).collect()
    }
    jacc = load_all()["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    for r in jacc:
        if r.jaccard >= NEAR_DUP_J_PPM / 1e6:
            assert (r.doc_a, r.doc_b) in got
            assert got[(r.doc_a, r.doc_b)].relation == "near_dup"


# --- lake_bloom_semijoin_prune ------------------------------------------


def test_bloom_structural_invariants(spark, sf_dir):
    """No false negatives ever (Bloom's one guarantee), the pass set
    decomposes exactly into true matches + false positives, and the
    filter occupancy is bounded by k x build keys and by m."""
    r = resolve("lake_bloom_semijoin_prune").fn(spark, sf_dir).collect()[0]
    assert r.n_false_neg == 0
    assert r.n_pass_bloom == r.n_true_match + r.n_false_pos
    assert 0 < r.bits_set <= min(r.m_bits, r.k_hashes * r.n_build_keys)
    assert r.m_bits == BLOOM_M and r.k_hashes == BLOOM_K
    assert r.n_pass_bloom <= r.n_probe


@given(
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    n_cust=st.integers(min_value=0, max_value=60),
    n_orders=st.integers(min_value=0, max_value=300),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_bloom_differential_fuzz(spark, tmp_path_factory, seed, n_cust, n_orders):
    """Random customer/orders lakes — including EMPTY build sides and
    EMPTY probe sides — must hash-match the oracle, and the no-false-
    negative invariant must hold on every lake."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    segs = ["BUILDING", "MACHINERY", "AUTOMOBILE"]
    custkeys = list(range(1, n_cust + 1))
    tmp = str(tmp_path_factory.mktemp("bloom_fuzz"))
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(custkeys, pa.int64()),
                "c_name": pa.array([f"c{k}" for k in custkeys], pa.string()),
                "c_nationkey": pa.array([k % 5 for k in custkeys], pa.int32()),
                "c_acctbal": pa.array([float(k) for k in custkeys], pa.float64()),
                "c_mktsegment": pa.array(
                    [rng.choice(segs) for _ in custkeys], pa.string()
                ),
            }
        ),
        f"{tmp}/customer.parquet",
    )
    okeys = list(range(1, n_orders + 1))
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(okeys, pa.int64()),
                # probe keys beyond the customer range exercise the
                # never-a-member path
                "o_custkey": pa.array(
                    [rng.randint(1, max(1, n_cust * 2)) for _ in okeys], pa.int64()
                ),
                "o_orderstatus": pa.array(["O"] * n_orders, pa.string()),
                "o_totalprice": pa.array([1.0] * n_orders, pa.float64()),
            }
        ),
        f"{tmp}/orders.parquet",
    )
    cols, srows = _gate_compare(
        spark, tmp, "lake_bloom_semijoin_prune", ["customer", "orders"]
    )
    r = dict(zip(cols, srows[0]))
    if r["n_probe"]:
        assert r["n_false_neg"] == 0
        assert r["n_pass_bloom"] == r["n_true_match"] + r["n_false_pos"]


# --- construction laziness (registry convention) ------------------------


def test_candidate_construction_laziness(spark, sf_dir):
    """Every r12 candidate (staged or promoted) constructs without launching a Spark job —
    no exemptions (the KMV precedent documents its exemption in
    test_staging_r11; these two have none)."""
    tracker = spark.sparkContext.statusTracker()
    for name in _staged_names():
        fn = resolve(name).fn
        fn(spark, sf_dir)  # warm table/footer caches
        before = set(tracker.getJobIdsForGroup(None) or ())
        fn(spark, sf_dir)
        after = set(tracker.getJobIdsForGroup(None) or ())
        assert after == before, f"{name} construction launched a job"


# --- plan shape (the scale contract) ------------------------------------


def _plan(spark, sf_dir, name):
    df = resolve(name).fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_bloom_probe_side_never_shuffle_joins(spark, sf_dir):
    """The probe corpus must reach its membership verdict without a
    shuffle join: the bit array arrives as a 1-row broadcast (the
    audited BroadcastNestedLoopJoin pattern) and the exact-truth
    compare is a broadcast hash join — no SortMergeJoin, no
    CartesianProduct, no Python UDF anywhere."""
    plan = _plan(spark, sf_dir, "lake_bloom_semijoin_prune")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # the exact-truth compare


def test_containment_no_cartesian_no_udf(spark, sf_dir):
    """The pair generator is the shingle equi-join (shuffle on the
    shingle key) — never a cartesian of the corpus, never Python."""
    plan = _plan(spark, sf_dir, "dedup_containment_ngram")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


# --- emb_pca_power_iteration ---------------------------------------------


def _pca_rows(spark, sf_dir):
    return resolve("emb_pca_power_iteration").fn(spark, sf_dir).collect()


def test_pca_tracks_numpy_eigh(spark, duck, sf_dir):
    """The quantized loadings must be a unit vector whose Rayleigh
    quotient reaches >= 0.9 of numpy's exact lambda_max (measured
    0.981 at k=24 on this corpus' near-flat spectrum) without ever
    exceeding it, and explained variance must be a sane fraction."""
    import numpy as np

    rows = _pca_rows(spark, sf_dir)
    assert len(rows) == 64
    v = np.array([r.loading_q for r in sorted(rows, key=lambda r: r.dim)]) / 1e9
    lam = rows[0].eigenvalue_q / 1e9
    evr = rows[0].evr_ppm / 1e6
    assert abs(float(np.dot(v, v)) - 1.0) < 1e-6  # unit norm survives quantization
    X = np.stack(
        [
            np.array(e, dtype=np.float64)
            for (e,) in duck.execute(
                "SELECT CAST(embedding AS DOUBLE[]) FROM embeddings"
            ).fetchall()
        ]
    )
    C = np.cov(X.T, bias=True)
    lam_max = float(np.linalg.eigh(C)[0][-1])
    assert lam <= lam_max * (1 + 1e-6)  # Rayleigh quotient upper bound
    assert lam >= 0.9 * lam_max  # k=24 convergence floor on this spectrum
    assert 0 < evr < 1


@given(
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    n=st.integers(min_value=10, max_value=24),
    n_zero=st.integers(min_value=0, max_value=3),
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_pca_spiked_fuzz(spark, tmp_path_factory, seed, n, n_zero):
    """Random lakes with a PLANTED dominant direction (a rank-1 spike
    over small isotropic noise, plus all-zero vectors): the engines
    must hash-match, and on the spiked spectrum 24 iterations must
    actually converge — cosine vs numpy's exact top eigenvector
    > 0.99."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    u = rng.standard_normal(64)
    u /= np.linalg.norm(u)
    X = rng.standard_normal((n, 64)) * 0.05 + np.outer(rng.standard_normal(n) * 2.0, u)
    X[:n_zero] = 0.0
    vecs = [list(map(float, x)) for x in X.astype(np.float32)]
    tmp = str(tmp_path_factory.mktemp("pca_fuzz"))
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
    cols, srows = _gate_compare(spark, tmp, "emb_pca_power_iteration", ["embeddings"])
    v = np.array(
        [r[1] for r in sorted(srows, key=lambda r: r[0])], dtype=np.float64
    ) / 1e9
    Xd = np.stack([np.array(x, dtype=np.float64) for x in vecs])
    C = np.cov(Xd.T, bias=True)
    w_np, V_np = np.linalg.eigh(C)
    assert abs(float(np.dot(v, V_np[:, -1]))) > 0.99


def test_pca_no_cartesian_no_udf(spark, sf_dir):
    """The covariance shuffle is the only corpus-sized exchange
    (d^2 keys after map-side combine); the iteration is 1-row work.
    No cartesian, no Python, and the only nested-loop joins are the
    audited 1-row/dim-range broadcasts."""
    plan = _plan(spark, sf_dir, "emb_pca_power_iteration")
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_bloom_fp_rich_regime_small_m(spark, sf_dir):
    """The oracle-compared default (m=16384) only produces false
    positives at corpus scale, so drive the FP-RICH regime directly
    through the parameterized core with m=64: the saturated filter
    must still never produce a false negative, must pass nearly
    everything (occupancy ~1), and the accounting identity must
    hold."""
    from noaa_data_pipeline_spark.plans.scale import bloom_semijoin_report

    r = bloom_semijoin_report(spark, sf_dir, m=64).collect()[0]
    assert r.m_bits == 64
    assert r.n_false_neg == 0
    assert r.n_pass_bloom == r.n_true_match + r.n_false_pos
    assert r.n_false_pos > 0  # saturation must actually produce FPs
    assert r.bits_set <= 64


def test_pca_projection_moments_match_eigenvalue(spark, sf_dir):
    """Projections onto the mean-centered top component must have
    ~zero mean (centering) and variance equal to the sibling entry's
    Rayleigh eigenvalue — var(v . (x - mu)) = v' C v = lambda, the
    identity that ties the two entries together."""
    import numpy as np

    projs = resolve("emb_pca_project_scores").fn(spark, sf_dir).collect()
    pca = resolve("emb_pca_power_iteration").fn(spark, sf_dir).collect()
    lam = pca[0].eigenvalue_q / 1e9
    p = np.array([r.proj_q for r in projs], dtype=np.float64) / 1e9
    assert abs(float(p.mean())) < 1e-6  # quantization-level centering
    assert abs(float(p.var()) - lam) < max(1e-6, 0.01 * lam)


def test_containment_edge_lakes(spark, tmp_path_factory):
    """Unicode text, empty strings, punctuation-only docs, and docs
    shorter than the shingle width must flow through both engines
    identically (sub-shingle docs simply produce no shingles and can
    never pair), including an exact-duplicate unicode pair that must
    surface as near_dup."""
    uni = "naïve café résumé über größe 東京 データ 処理 空間 分散"
    rows = [
        (0, uni + " " + uni),            # unicode, long enough to shingle
        (1, uni + " " + uni),            # exact unicode duplicate of 0
        (2, ""),                          # empty
        (3, "!!! ??? ..."),              # punctuation-only -> empty after norm
        (4, "one two three"),            # sub-shingle length (3 < 5 tokens)
        (5, "alpha beta gamma delta epsilon zeta eta theta"),  # unrelated
    ]
    tmp = str(tmp_path_factory.mktemp("containment_edge"))
    _write_docs(tmp, rows)
    cols, srows = _gate_compare(spark, tmp, "dedup_containment_ngram", ["documents"])
    byname = [dict(zip(c, r)) for c, r in ((cols, r) for r in srows)]
    pair = [r for r in byname if r["doc_a"] == 0 and r["doc_b"] == 1]
    assert pair and pair[0]["relation"] == "near_dup"
    assert pair[0]["containment_ppm"] == 1_000_000
    docs_in_pairs = {r["doc_a"] for r in byname} | {r["doc_b"] for r in byname}
    assert not ({2, 3, 4} & docs_in_pairs)  # shingle-less docs never pair
