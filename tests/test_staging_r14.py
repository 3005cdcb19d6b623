"""Round-14 candidates: driver-gate-equivalent checks.

``docs_token_drift_tvd`` and ``emb_pca_top2_deflation`` stay staged
(see plans/text.py and plans/embeddings.py) and get the full staging
protocol here: the driver's
row-count + columns + order-insensitive value-hash compare, an
INDEPENDENT third implementation (pure Python token counting and
integer arithmetic over the raw parquet — neither engine), a
planted-drift case the synthetic corpus cannot express (a source
with a fully disjoint vocabulary must read ~1e6 ppm with its token
on top), differential fuzz over adversarial lakes (nulls, empty
texts, single-source corner), construction laziness, and plan-shape
(scale-contract) assertions.

Run with SPARK_GRAFT_TEST_SF_DIR at sf0.001 / sf0.01 / sf0.1 for the
three-SF staging proof (the maintenance-op promotion protocol).
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from noaa_data_pipeline_spark.plans import load_all, resolve
from noaa_data_pipeline_spark.plans.text import TVD_SCALE
from tools.check_correctness import frame_digest


CANDIDATES = [
    "docs_token_drift_tvd",
    "emb_pca_top2_deflation",
    "sim_ivf_pq_adc_prebuilt",
    "sim_ivf_pq_residual_prebuilt",
]


def test_staging_is_not_registered():
    """Staged candidates must not leak into the driver surface."""
    registered = set(load_all())
    for name in CANDIDATES:
        assert resolve(name).tier == "staged"
        assert name not in registered


@pytest.mark.parametrize("name", CANDIDATES)
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


# --- independent third implementation -----------------------------------


def _py_tvd(raw_rows):
    """Pure-Python reference: the same normalization regex, token
    counts, ppm quantization, and tie-breaks — computed with dicts
    and ints, no SQL engine anywhere."""
    counts: dict[tuple[str, str], int] = {}
    for source, text in raw_rows:
        if text is None:
            continue
        norm = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
        for tok in norm.split(" "):
            counts[(source, tok)] = counts.get((source, tok), 0) + 1
    tok_tot: dict[str, int] = {}
    src_tot: dict[str, int] = {}
    for (source, tok), c in counts.items():
        tok_tot[tok] = tok_tot.get(tok, 0) + c
        src_tot[source] = src_tot.get(source, 0) + c
    n = sum(tok_tot.values())
    out = {}
    for source, t_s in src_tot.items():
        t_r = n - t_s
        total_gap, top = 0, None
        for tok, c_t in tok_tot.items():
            c_st = counts.get((source, tok), 0)
            share_s = (TVD_SCALE * c_st) // t_s
            share_r = (TVD_SCALE * (c_t - c_st)) // max(t_r, 1)
            gap = abs(share_s - share_r)
            total_gap += gap
            if top is None or (-gap, tok) < top:
                top = (-gap, tok)
        out[source] = (t_s, t_r, total_gap // 2, top[1], -top[0])
    return out


def test_tvd_matches_python_reference(spark, duck, sf_dir):
    """Both engines already hash-match; this pins them to a THIRD
    implementation so a shared misreading of the estimator definition
    cannot self-confirm."""
    raw = duck.execute("SELECT source, text FROM documents").fetchall()
    expected = _py_tvd(raw)
    rows = resolve("docs_token_drift_tvd").fn(spark, sf_dir).collect()
    assert len(rows) == len(expected)
    for r in rows:
        t_s, t_r, tvd, top_tok, top_gap = expected[r.source]
        assert (r.src_tokens, r.rest_tokens, r.tvd_ppm) == (t_s, t_r, tvd), r.source
        assert (r.top_token, r.top_gap_ppm) == (top_tok, top_gap), r.source


# --- planted drift + adversarial lakes -----------------------------------


def _write_docs(tmp, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(rows)), pa.int64()),
                "text": pa.array([t for _, t in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array([s for s, _ in rows], pa.string()),
                "n_chars": pa.array(
                    [len(t) if t else 0 for _, t in rows], pa.int64()
                ),
            }
        ),
        f"{tmp}/documents.parquet",
    )


def _gate_compare(spark, lake, name):
    import duckdb

    q = resolve(name)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{lake}/documents.parquet')"
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


def test_tvd_planted_disjoint_source(spark, tmp_path_factory):
    """A source whose vocabulary is fully disjoint from the rest of
    the corpus must read near-total drift (~1e6 ppm, exact up to the
    per-token quantization) with one of its own tokens on top; the
    engines must hash-match on the same lake."""
    tmp = str(tmp_path_factory.mktemp("tvd_planted"))
    rows = [("common", "alpha beta gamma delta")] * 6 + [
        ("drifted", "zulu zulu yankee xray"),
        ("drifted", "zulu yankee xray xray"),
    ]
    _write_docs(tmp, rows)
    cols, srows = _gate_compare(spark, tmp, "docs_token_drift_tvd")
    by_src = {dict(zip(cols, r))["source"]: dict(zip(cols, r)) for r in srows}
    d = by_src["drifted"]
    # disjoint vocab: sum of gaps = (sum of own shares) + (sum of
    # rest shares) ~ 2e6 -> tvd ~ 1e6 minus quantization
    assert d["tvd_ppm"] > 990_000
    assert d["top_token"] in {"zulu", "xray", "yankee"}
    assert by_src["common"]["tvd_ppm"] > 990_000  # complement view is symmetric here


def test_tvd_single_source_corpus(spark, tmp_path_factory):
    """The degenerate one-source lake exercises the GREATEST(t_r, 1)
    clamp identically in both engines (rest is empty: every token's
    rest-share is 0, so tvd = sum(share_s)/2 ~ 5e5)."""
    tmp = str(tmp_path_factory.mktemp("tvd_single"))
    _write_docs(tmp, [("only", "a b c d"), ("only", "a b")])
    cols, srows = _gate_compare(spark, tmp, "docs_token_drift_tvd")
    row = dict(zip(cols, srows[0]))
    assert row["rest_tokens"] == 0
    assert 490_000 <= row["tvd_ppm"] <= 500_000


@given(
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    n_docs=st.integers(min_value=1, max_value=40),
    n_srcs=st.integers(min_value=1, max_value=5),
    n_null=st.integers(min_value=0, max_value=3),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_tvd_differential_fuzz(spark, tmp_path_factory, seed, n_docs, n_srcs, n_null):
    """Random lakes — skewed source sizes, shared and private vocab,
    NULL and empty texts, punctuation-only docs — must hash-match the
    oracle (the normalization idiom, the ppm integer division, the
    empty-complement clamp, and the argmax tie-break)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vocab = ["spark", "merge", "zz9", "a", "row", "fast", "key", "0x"]
    rows = []
    for i in range(n_docs):
        src = f"s{rng.integers(n_srcs)}"
        k = int(rng.integers(0, 9))
        words = [vocab[int(rng.integers(len(vocab)))] for _ in range(k)]
        text = " ".join(words) if k else ("..." if rng.integers(2) else "")
        rows.append((src, text))
    for i in range(min(n_null, len(rows))):
        rows[i] = (rows[i][0], None)
    tmp = str(tmp_path_factory.mktemp("tvd_fuzz"))
    _write_docs(tmp, rows)
    _gate_compare(spark, tmp, "docs_token_drift_tvd")


# --- laziness + plan shape ------------------------------------------------


def test_candidate_construction_laziness(spark, sf_dir):
    """The r14 candidate constructs without launching a Spark job —
    no exemptions."""
    tracker = spark.sparkContext.statusTracker()
    for name in CANDIDATES:
        fn = resolve(name).fn
        fn(spark, sf_dir)  # warm table/footer caches
        before = set(tracker.getJobIdsForGroup(None) or ())
        fn(spark, sf_dir)
        after = set(tracker.getJobIdsForGroup(None) or ())
        assert after == before, f"{name} construction launched a job"


def test_tvd_plan_shape(spark, sf_dir):
    """Scale contract: the corpus is tokenized and counted ONCE —
    every consumer (vocabulary/source/grand totals, the join probe
    side) reads the persisted (source, tok) frame, so the plan shows
    InMemoryTableScans and NO second tokenize+count subtree; the
    comparison grid is assembled by broadcast (never a corpus-sized
    cartesian), and nothing drops to Python."""
    df = resolve("docs_token_drift_tvd").fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    # four cache reads (source totals, vocab totals, grand total,
    # join probe side) of ONE cached build: every rendered copy of
    # the tokenize+count subtree under the scans carries the same
    # plan_id, i.e. the corpus exchange is physically built once
    assert plan.count("InMemoryTableScan") == 4
    corpus_builds = set(re.findall(r"REPARTITION_BY_NUM, \[plan_id=(\d+)\]", plan))
    assert len(corpus_builds) == 1, corpus_builds
    assert "BroadcastNestedLoopJoin" in plan  # the tiny comparison grid


# --- emb_pca_top2_deflation -------------------------------------------------


def test_pca2_comp1_equals_registered_parent(spark, sf_dir):
    """Comp-1 rows must be row-identical (minus the comp column) to
    the registered emb_pca_power_iteration — same state frame, same
    quantization — the identity that makes this a pure extension."""
    rows = resolve("emb_pca_top2_deflation").fn(spark, sf_dir).collect()
    comp1 = sorted(
        (r.dim, r.loading_q, r.eigenvalue_q, r.evr_ppm) for r in rows if r.comp == 1
    )
    parent = sorted(
        (r.dim, r.loading_q, r.eigenvalue_q, r.evr_ppm)
        for r in load_all()["emb_pca_power_iteration"].fn(spark, sf_dir).collect()
    )
    assert comp1 == parent
    assert len(rows) == 2 * len(parent)


def test_pca2_orthogonality_and_spectrum(spark, duck, sf_dir):
    """Deflation semantics on the fixture lake: v2 is near-orthogonal
    to v1 — exact orthogonality would require v1 to be an exact
    eigenvector, and the synthetic corpus' near-flat spectrum
    (lambda2/lambda1 ~ 0.95) leaves v1 at a ~0.98 Rayleigh ratio
    after 24 steps (the parent entry's own pinned convergence), so
    the deflated matrix annihilates v1 only approximately; the
    spiked-fuzz test below asserts the tight bound where convergence
    is fast. Eigenvalue estimates stay ordered lambda1 >= lambda2 >=
    0, with lambda2 within deflation error of numpy's true second
    eigenvalue of the same quantized covariance."""
    import numpy as np

    rows = resolve("emb_pca_top2_deflation").fn(spark, sf_dir).collect()
    v = {c: [0.0] * len([r for r in rows if r.comp == c]) for c in (1, 2)}
    lam = {}
    for r in rows:
        v[r.comp][r.dim] = r.loading_q / 1e9
        lam[r.comp] = r.eigenvalue_q / 1e9
    v1, v2 = np.array(v[1]), np.array(v[2])
    assert abs(float(v1 @ v2)) < 0.05
    assert lam[1] >= lam[2] >= 0
    # numpy reference on the SAME quantized covariance
    emb = np.array(
        [
            e[0]
            for e in duck.execute(
                "SELECT CAST(embedding AS DOUBLE[]) FROM embeddings"
            ).fetchall()
        ]
    )
    s2 = np.floor(emb[:, :, None] * emb[:, None, :] * 1e9).sum(axis=0) / 1e9
    n = emb.shape[0]
    mu = (np.floor(emb * 1e9).sum(axis=0)) / 1e9 / n
    cov = s2 / n - np.outer(mu, mu)
    w = np.linalg.eigvalsh(cov)
    true1, true2 = float(np.sort(w)[-1]), float(np.sort(w)[-2])
    # approximate deflation with an imperfect v1 can report lam2
    # slightly ABOVE the true lambda2 — the leakage is bounded by the
    # eigengap times sin^2(angle), so the rigorous Rayleigh bound is
    # the TOP of the spectrum: x'C2x = x'Cx - lam1(x'v1)^2 <= lambda1.
    # (Measured on this lake: lam2 = true2 + 1.0e-4 with a 2.0e-3
    # gap.) The spiked-fuzz test pins the tight recovery where the
    # gap is wide.
    # (a within-eigengap closeness bound was tried and dropped: on a
    # near-flat spectrum the 24-step Rayleigh can also UNDERSHOOT
    # true2 by more than the tiny gap — convergence shortfall, not
    # deflation error — e.g. sf0.01: lam2 = true2 - 3.7e-4 with a
    # 3.5e-4 gap. Tightness is pinned where it is provable: the
    # spiked lake below.)
    assert lam[2] <= true1 + 1e-9
    assert lam[2] >= 0.5 * true2


def test_pca2_spiked_two_directions(spark, tmp_path_factory):
    """A corpus with TWO planted dominant directions must recover
    both: |cos(v_k, planted_k)| > 0.99 and the eigenvalue order
    matches the planted magnitudes (the deflation actually removes
    direction 1 rather than re-finding it)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    d, n = 64, 400
    u1 = np.zeros(d); u1[0] = 1.0
    u2 = np.zeros(d); u2[1] = 1.0
    X = (
        rng.standard_normal((n, 1)) * 6.0 * u1
        + rng.standard_normal((n, 1)) * 3.0 * u2
        + rng.standard_normal((n, d)) * 0.05
    ).astype(np.float32)
    tmp = str(tmp_path_factory.mktemp("pca2_spiked"))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array([list(map(float, x)) for x in X], pa.list_(pa.float32())),
                "label": pa.array([i % 3 for i in range(n)], pa.int32()),
            }
        ),
        f"{tmp}/embeddings.parquet",
    )
    rows = resolve("emb_pca_top2_deflation").fn(spark, tmp).collect()
    import numpy as np

    v = {1: np.zeros(64), 2: np.zeros(64)}
    lam = {}
    for r in rows:
        v[r.comp][r.dim] = r.loading_q / 1e9
        lam[r.comp] = r.eigenvalue_q / 1e9
    assert abs(v[1][0]) > 0.99 and abs(v[2][1]) > 0.99
    assert abs(float(v[1] @ v[2])) < 1e-4  # fast convergence -> tight
    assert lam[1] > lam[2] > 0


def test_pca2_plan_shape(spark, sf_dir):
    """Same scale contract as the registered parents: the covariance
    exchange is the only corpus-sized shuffle, the recurrences are
    1-row work behind repartition barriers, no cartesian of anything
    corpus-sized, no Python."""
    df = resolve("emb_pca_top2_deflation").fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "REPARTITION_BY_NUM" in plan  # the 1-row barriers


@pytest.mark.parametrize(
    "name,parent",
    [
        ("sim_ivf_pq_adc_prebuilt", "sim_ivf_pq_adc_search"),
        ("sim_ivf_pq_residual_prebuilt", "sim_ivf_pq_residual_search"),
    ],
)
def test_prebuilt_identical_to_parent_and_prunes_cells(
    spark, sf_dir, name, parent, monkeypatch
):
    """Index-as-data contract (r13 VERDICT task 6): the prebuilt
    search must return the registered in-session entry's rows
    bit-identically (doubles round-trip parquet exactly), and its
    candidate scan must read the inverted-list layout with the
    probed-cell restriction pushed to STORAGE — dynamic partition
    pruning on the label partition column, so unprobed cells' files
    are never read. In-session the same restriction is a broadcast
    semi-filter after the scan; file-level pruning is what the
    materialized layout buys."""
    from noaa_data_pipeline_spark.plans import load_all

    # r15: the parent is ROUTED through this very layout when a
    # declared index exists — pin its in-session leg so this compare
    # keeps covering build-in-session vs read-from-parquet
    monkeypatch.setenv("SPARK_GRAFT_PQ_INDEX", "0")
    q = resolve(name)
    df = q.fn(spark, sf_dir)
    pdf = load_all()[parent].fn(spark, sf_dir)
    sh, _ = frame_digest(df.columns, [tuple(r) for r in df.collect()])
    ph, _ = frame_digest(pdf.columns, [tuple(r) for r in pdf.collect()])
    assert sh == ph, "prebuilt search diverged from the in-session entry"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "probed-cell restriction not pushed to partition pruning:\n"
        + "\n".join(
            l.strip()[:140] for l in plan.splitlines() if "FileScan" in l
        )
    )
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(20, 120),
    n_zero=st.integers(0, 8),
)
def test_prebuilt_ivfpq_differential_fuzz(spark, tmp_path_factory, seed, n, n_zero):
    """The materialized-index searches must hash-match their oracles
    on the same adversarial lakes the in-session IVFPQ fuzz covers
    (random fixed-width embeddings, all-zero vectors): this exercises
    the build/publish path per lake — the content tag isolates every
    tmp lake into its own published dir — plus codebook training,
    residual subtraction, and the ADC sums THROUGH the parquet
    round-trip."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vecs = (rng.standard_normal((n, 64)) * 4).astype(np.float32)
    vecs[:n_zero] = 0.0
    vecs = [list(map(float, v)) for v in vecs]

    tmp = str(tmp_path_factory.mktemp("prebuilt_fuzz"))
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
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp}/embeddings.parquet')"
    )
    for name in ("sim_ivf_pq_adc_prebuilt", "sim_ivf_pq_residual_prebuilt"):
        q = resolve(name)
        sdf = q.fn(spark, tmp)
        srows = [tuple(r) for r in sdf.collect()]
        res = con.execute(q.oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        assert sorted(sdf.columns) == sorted(ocols)
        assert len(srows) == len(orows), name
        sh, _ = frame_digest(sdf.columns, srows)
        oh, _ = frame_digest(ocols, orows)
        assert sh == oh, f"{name} value-hash mismatch on fuzz lake"
    con.close()


# --- materialized-index lifecycle + routing (r15, r14 VERDICT t2/t5) ----


def _isolated_root(monkeypatch, tmp_path):
    """Point the index machinery at a private root and clear the
    per-process caches that key on the published path."""
    from noaa_data_pipeline_spark.plans import ivf_pq as ivf

    monkeypatch.setenv(ivf._PQ_ROOT_ENV, str(tmp_path / "pqroot"))
    monkeypatch.delenv("SPARK_GRAFT_PQ_INDEX", raising=False)
    return ivf


def test_pq_root_env_override_and_mode(spark, sf_dir, monkeypatch, tmp_path):
    """SPARK_GRAFT_PQ_INDEX_ROOT relocates the root (lake-adjacent
    deployments); the default is per-user under tempdir, created
    0o700 — not the r14 fixed world-predictable /tmp path."""
    import os
    import tempfile

    ivf = _isolated_root(monkeypatch, tmp_path)
    root = ivf._pq_index_root()
    assert root == str(tmp_path / "pqroot")
    assert os.path.isdir(root)
    monkeypatch.delenv(ivf._PQ_ROOT_ENV)
    default = ivf._pq_index_root()
    assert default.startswith(tempfile.gettempdir())
    assert str(os.getuid()) in os.path.basename(default)
    assert (os.stat(default).st_mode & 0o777) == 0o700


def test_pq_incidental_build_does_not_flip_routing(
    spark, sf_dir, monkeypatch, tmp_path
):
    """An undeclared publish (fuzz run, staged one-off) must not
    change which physical plan a later env-unset session executes —
    the bucketed warehouse:false rule."""
    ivf = _isolated_root(monkeypatch, tmp_path)
    assert not ivf.pq_index_available(spark, sf_dir)
    ivf.build_pq_index(spark, sf_dir)  # undeclared
    assert not ivf.pq_index_available(spark, sf_dir)
    m = ivf._read_pq_manifest(ivf._pq_index_tag(sf_dir))
    assert m is not None and m["declared"] is False


def test_pq_declared_index_routes_registered_entries_with_dpp(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The task-2 close: after declare_pq_index, the REGISTERED
    searches serve the materialized layout — executed plan shows
    dynamic partition pruning on the inverted-list scan — and their
    rows hash-match the pinned in-session leg bit-for-bit."""
    from noaa_data_pipeline_spark.plans import load_all

    ivf = _isolated_root(monkeypatch, tmp_path)
    ivf.declare_pq_index(spark, sf_dir)
    assert ivf.pq_index_available(spark, sf_dir)
    # declaring again is an idempotent no-rebuild attach
    assert ivf.declare_pq_index(spark, sf_dir) == ivf.build_pq_index(spark, sf_dir)
    registry = load_all()
    for name in ("sim_ivf_pq_adc_search", "sim_ivf_pq_residual_search"):
        routed = registry[name].fn(spark, sf_dir)
        plan = routed._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), f"{name}: no DPP on routed scan"
        monkeypatch.setenv("SPARK_GRAFT_PQ_INDEX", "0")
        insession = registry[name].fn(spark, sf_dir)
        monkeypatch.delenv("SPARK_GRAFT_PQ_INDEX")
        rh, _ = frame_digest(routed.columns, [tuple(r) for r in routed.collect()])
        ih, _ = frame_digest(
            insession.columns, [tuple(r) for r in insession.collect()]
        )
        assert rh == ih, f"{name}: routed leg diverged from in-session leg"


def test_pq_env_pins_beat_declared_manifest(spark, sf_dir, monkeypatch, tmp_path):
    """Gate determinism: =0 pins in-session even when declared
    (tools/check_correctness default); =1 forces routing even when
    nothing is published yet (warehouse profile, builds on demand)."""
    ivf = _isolated_root(monkeypatch, tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_PQ_INDEX", "1")
    assert ivf.pq_index_available(spark, sf_dir)
    ivf.declare_pq_index(spark, sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_PQ_INDEX", "0")
    assert not ivf.pq_index_available(spark, sf_dir)


def test_pq_gc_prunes_orphans_keeps_live(spark, sf_dir, monkeypatch, tmp_path):
    """Publish-time GC: stale-version layouts, code-drift layouts,
    vanished-lake layouts, and hour-old abandoned staging dirs go;
    the just-published tag and other lakes' current layouts stay."""
    import json
    import os
    import time

    ivf = _isolated_root(monkeypatch, tmp_path)
    root = ivf._pq_index_root()

    def plant(name, manifest):
        os.makedirs(os.path.join(root, name), exist_ok=True)
        if manifest is not None:
            with open(os.path.join(root, name, "manifest.json"), "w") as fh:
                json.dump(manifest, fh)

    live_other = {
        "sf_dir": sf_dir,  # exists
        "tag": "otherlake_aaaaaaaaaaaa",
        "version": ivf._PQ_INDEX_VERSION,
        "code_digest": ivf._pq_index_code_digest(),
        "declared": True,
    }
    plant("otherlake_aaaaaaaaaaaa", live_other)
    plant(
        "stale_version_dir",
        {**live_other, "tag": "stale_version_dir", "version": -1},
    )
    plant(
        "code_drift_dir",
        {**live_other, "tag": "code_drift_dir", "code_digest": "0" * 12},
    )
    plant(
        "vanished_lake_dir",
        {**live_other, "tag": "vanished_lake_dir", "sf_dir": str(tmp_path / "gone")},
    )
    plant("no_manifest_dir", None)
    old_staging = os.path.join(root, ".build_dead_123")
    os.makedirs(old_staging)
    past = time.time() - 7200
    os.utime(old_staging, (past, past))
    fresh_staging = os.path.join(root, ".build_alive_456")
    os.makedirs(fresh_staging)
    # a stale same-lake fingerprint (regenerated lake): valid manifest,
    # current code, but its tag prefix matches the lake being built
    base = ivf._pq_lake_base(sf_dir)
    stale_same_lake = f"{base}_{'f' * 12}"
    plant(stale_same_lake, {**live_other, "tag": stale_same_lake})

    ivf.build_pq_index(spark, sf_dir)

    kept = set(os.listdir(root))
    assert ivf._pq_index_tag(sf_dir) in kept
    assert "otherlake_aaaaaaaaaaaa" in kept
    assert ".build_alive_456" in kept
    for gone in (
        "stale_version_dir",
        "code_drift_dir",
        "vanished_lake_dir",
        "no_manifest_dir",
        ".build_dead_123",
        stale_same_lake,
    ):
        assert gone not in kept, f"orphan {gone} survived GC"


def test_pq_code_digest_needs_no_tools_package(monkeypatch):
    """The index's construction-source key is the full same-module
    closure digest whether or not the repo's tools/ package is
    importable: a deployment without it must not fall back to a
    weaker key that misses helper and constant edits."""
    import sys

    from noaa_data_pipeline_spark.plans import ivf_pq as ivf

    monkeypatch.setattr(ivf, "_PQ_CODE_DIGEST", [])
    with_tools = ivf._pq_index_code_digest()
    monkeypatch.setattr(ivf, "_PQ_CODE_DIGEST", [])
    monkeypatch.setitem(sys.modules, "tools", None)
    monkeypatch.setitem(sys.modules, "tools.plan_ledger", None)
    assert ivf._pq_index_code_digest() == with_tools


def test_pq_tag_folds_construction_source(monkeypatch, tmp_path):
    """The r14 ADVICE close: the tag must change when the build code
    changes (not only on a manual version bump), so a drifted
    algorithm can never read a stale published index."""
    ivf = _isolated_root(monkeypatch, tmp_path)
    sf = "/root/testdata/sf0.001"
    t0 = ivf._pq_index_tag(sf)
    assert ivf._pq_index_code_digest() in ("", ivf._PQ_CODE_DIGEST[0])
    monkeypatch.setattr(ivf, "_PQ_CODE_DIGEST", ["simulated_code_drift"])
    assert ivf._pq_index_tag(sf) != t0
