"""Embedding eigen and dimension-reduction operators.

- ``emb_pca_power_iteration`` — the eigen primitive the embedding
  family was missing (OPQ rotations, whitening, and dim reduction
  all start from the top principal components): exact scaled-long
  covariance, then an unrolled in-plan power iteration whose floats
  stay bit-identical across engines because both sides apply the
  same IEEE ops in the same fold order. Zero driver state.
- ``emb_pca_project_scores`` — train -> apply: project every
  embedding onto the learned component.
- ``emb_dim_reduction_eval`` — both dimension-reduction axes
  (matryoshka raw prefix + JL sign projection) in ONE corpus pass.
  The JL sign projection (Achlioptas 2003's database-friendly +/-1
  variant) projects every embedding through a deterministic
  {+1,-1}^(r x d) matrix; the sign matrices nest (width r is a
  prefix of width r'), so ONE r_max-wide projection pass serves
  every width via slices.
- ``emb_pca_top2_deflation`` (staged) — the top TWO principal
  components via Hotelling deflation over the same power-iteration
  machinery: deflate the exact quantized covariance by the first
  component and run the same unrolled recurrence again; comp-1 rows
  are definitionally the registered entry's output, pytest-pinned.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import register
from .common import _swap_persisted
from .similarity import DIM, _SQL_DEC, _SQL_EMB, _dot, _embeddings, _sql_dot


# --- emb_pca_power_iteration --------------------------------------------

PCA_ITERS = 24  # unrolled power-iteration steps (see convergence note)
_PCA_S = "1000000000.0"  # 1e-9 fixed-point moment/loading resolution


def _pca_matvec_sql(v: str, dim: int) -> str:
    """DuckDB C·v with an explicit 0.0-seeded left fold in index
    order, the same association Spark's ``aggregate`` uses — IEEE
    doubles summed in the same order are bit-identical, which is what
    lets the hash gate check a 24-step float recurrence at all."""
    return (
        f"list_transform(range(0, {dim}), i -> "
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(0, {dim}), j -> rows[i + 1][j + 1] * {v}[j + 1])), "
        "(a, b) -> a + b))"
    )


def _pca_ctes(dim: int = DIM, iters: int = PCA_ITERS) -> str:
    """Shared WITH-body (through the ``sc`` CTE) for the two PCA
    oracles; ``muv`` and ``emb`` stay in scope for the projection
    entry's final select."""
    its = []
    for k in range(1, iters + 1):
        its.append(f"""
    itw{k} AS MATERIALIZED (
        SELECT rows, {_pca_matvec_sql('v', dim)} AS w, v FROM it{k - 1}
    ),
    it{k} AS MATERIALIZED (
        SELECT rows,
               CASE WHEN nrm = 0.0 THEN v
                    ELSE list_transform(w, x -> x / nrm) END AS v
        FROM (SELECT rows, w, v,
                     sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                          list_transform(w, x -> x * x)), (a, b) -> a + b)) AS nrm
              FROM itw{k}) t
    )""")
    return f"""
    WITH emb AS ({_SQL_EMB}),
    lvl1 AS (
        SELECT generate_subscripts(emb, 1) - 1 AS i, unnest(emb) AS xi, emb FROM emb
    ),
    pairs AS (
        SELECT i, xi, generate_subscripts(emb, 1) - 1 AS j, unnest(emb) AS xj FROM lvl1
    ),
    m2q AS (
        SELECT i, j, SUM(CAST(FLOOR(xi * xj * {_PCA_S}) AS BIGINT)) AS s2q
        FROM pairs GROUP BY i, j
    ),
    m1q AS (
        SELECT i, SUM(CAST(FLOOR(xi * {_PCA_S}) AS BIGINT)) AS s1q,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lvl1 GROUP BY i
    ),
    muv AS (
        SELECT list(CAST(s1q AS DOUBLE) / {_PCA_S} / n ORDER BY i) AS mu,
               MAX(n) AS n_vecs
        FROM m1q
    ),
    m2rows AS (
        SELECT i, list(CAST(s2q AS DOUBLE) / {_PCA_S} ORDER BY j) AS mrow
        FROM m2q GROUP BY i
    ),
    m2m AS (SELECT list(mrow ORDER BY i) AS m2 FROM m2rows),
    it0 AS MATERIALIZED (
        SELECT list_transform(range(0, {dim}), i ->
                 list_transform(range(0, {dim}), j ->
                   m2m.m2[i + 1][j + 1] / CAST(muv.n_vecs AS DOUBLE)
                   - muv.mu[i + 1] * muv.mu[j + 1])) AS rows,
               list_transform(range(0, {dim}), i -> CAST(0.125 AS DOUBLE)) AS v
        FROM m2m, muv
    ),{','.join(its)},
    fin AS (
        SELECT rows, v, {_pca_matvec_sql('v', dim)} AS wf FROM it{iters}
    ),
    sc AS (
        SELECT v,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(0, {dim}), i -> v[i + 1] * wf[i + 1])), (a, b) -> a + b) AS lam,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(0, {dim}), i -> rows[i + 1][i + 1])), (a, b) -> a + b) AS trc
        FROM fin
    )"""


def _pca_oracle_sql(dim: int = DIM, iters: int = PCA_ITERS) -> str:
    return f"""
    {_pca_ctes(dim, iters)}
    SELECT CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS dim,
           CAST(FLOOR(unnest(v) * {_PCA_S}) AS BIGINT) AS loading_q,
           CAST(FLOOR(lam * {_PCA_S}) AS BIGINT) AS eigenvalue_q,
           CASE WHEN trc > 0 THEN CAST(FLOOR(lam / trc * 1000000.0) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS evr_ppm
    FROM sc
    """


def _pca_project_oracle_sql(dim: int = DIM, iters: int = PCA_ITERS) -> str:
    return f"""
    {_pca_ctes(dim, iters)}
    SELECT e.vec_id,
           CAST(FLOOR(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(range(0, {dim}), i ->
                    sc.v[i + 1] * (e.emb[i + 1] - muv.mu[i + 1]))),
                (a, b) -> a + b) * {_PCA_S}) AS BIGINT) AS proj_q
    FROM emb e, sc, muv
    """


@register("emb_pca_power_iteration", oracle=_pca_oracle_sql())
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus: exact
    mean-centered covariance, then PCA_ITERS unrolled power-iteration
    steps run ENTIRELY in-plan — zero driver state (contrast
    kmeans_embeddings' k x dim Lloyd partials), completing the
    embedding-ops family with the eigen primitive OPQ rotation /
    whitening / dim-reduction pipelines are built on.

    Cross-engine exactness for a float recurrence: second moments and
    means accumulate as FLOOR-scaled longs (order-independent, exact;
    |x| <= 30 at 100M rows stays inside int64); every double after
    that derives from IEEE ops applied in the SAME association and
    fold order on both engines (Spark ``aggregate`` and DuckDB
    ``list_reduce`` both left-fold, both seeded 0.0 via list_prepend;
    sqrt/divide are correctly rounded per IEEE 754), so 24 iterations
    stay bit-identical and the gate hashes quantized loadings.
    Convergence is the honest power-iteration story: (lambda2/
    lambda1)^k — the synthetic corpus' near-flat spectrum reaches a
    0.98 Rayleigh ratio at k=24 (asserted), while a spiked spectrum
    (the planted-fuzz case, and real embedding corpora with dominant
    directions) converges to >0.99 cosine.

    Scale: the covariance explode is N x d^2 rows but shuffles only
    d^2 = 4096 keys after map-side combine — one bounded exchange; at
    100 TB the production path computes per-partition numpy partials
    via mapInPandas and merges d^2 scalars (float partials, outside
    the hash gate — the documented trade), or samples vectors. The
    iteration is 1-row work in a single unbarriered Project chain:
    each step's intermediates (w_k, n_k) are referenced more than
    once, so CollapseProject's multi-reference guard keeps the
    per-step Projects separate operators and each value is computed
    once per step (r15 A/B: the former per-step repartition(1)
    barriers cost 25 one-row exchange stages of pure scheduling —
    1.42 s vs 0.90 s at sf0.1, bit-identical output; the historical
    unbounded-inlining hazard belonged to the old posexplode output
    shape, whose Generate-inferred size()>0 filter carried the whole
    recurrence — hence the range(d) x 1-row broadcast below, which
    stays). The deflation sibling (emb_pca_top2_deflation) keeps its own 1-row
    barriers: its lam1 IS single-referenced inside a d^2-cell lambda,
    the exact shape the guard does not protect.

    Reference anchor (spec, not code): extends SURVEY.md's
    embedding/similarity lifecycle family (kmeans_embeddings,
    emb_pq_codes precedents) beyond the reference's own surface."""
    vN = f"v{PCA_ITERS}"
    cur = _pca_state(spark, sf_dir)
    dims = spark.range(DIM).select(F.col("id").cast("long").alias("dim"))
    return dims.crossJoin(F.broadcast(cur.select(vN, "lam", "trace"))).select(
        "dim",
        F.floor(
            F.expr(f"element_at({vN}, CAST(dim AS INT) + 1)") * F.lit(1e9)
        )
        .cast("long")
        .alias("loading_q"),
        F.floor(F.col("lam") * F.lit(1e9)).cast("long").alias("eigenvalue_q"),
        F.when(
            F.col("trace") > 0, F.floor(F.col("lam") / F.col("trace") * F.lit(1e6))
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("evr_ppm"),
    )


def _pca_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row frame (rows, mu, v{PCA_ITERS}, lam, trace): the learned
    component plus the statistics both PCA entries read. See
    emb_pca_power_iteration's docstring for why the recurrence needs
    no 1-row barriers (and which sibling shape still does)."""
    emb = _embeddings(spark, sf_dir)
    lvl1 = emb.select(F.posexplode("emb").alias("i", "xi"), "emb")
    pairs = lvl1.select("i", "xi", F.posexplode("emb").alias("j", "xj"))
    m2q = pairs.groupBy("i", "j").agg(
        F.sum(F.floor(F.col("xi") * F.col("xj") * F.lit(1e9)).cast("long")).alias(
            "s2q"
        )
    )
    m1q = lvl1.groupBy("i").agg(
        F.sum(F.floor(F.col("xi") * F.lit(1e9)).cast("long")).alias("s1q"),
        F.count("*").cast("long").alias("n"),
    )
    mu_row = m1q.agg(
        F.expr(
            f"transform(sort_array(collect_list(struct(i, s1q, n))), "
            f"x -> CAST(x.s1q AS DOUBLE) / {_PCA_S} / x.n)"
        ).alias("mu"),
        F.max("n").alias("n_vecs"),
    )
    m2rows = m2q.groupBy("i").agg(
        F.expr(
            f"transform(sort_array(collect_list(struct(j, s2q))), "
            f"x -> CAST(x.s2q AS DOUBLE) / {_PCA_S})"
        ).alias("mrow")
    )
    m2_row = m2rows.agg(
        F.expr("transform(sort_array(collect_list(struct(i, mrow))), x -> x.mrow)").alias(
            "m2"
        )
    )
    base = (
        m2_row.crossJoin(F.broadcast(mu_row))
        .withColumn(
            "rows",
            F.expr(
                f"transform(sequence(0, {DIM - 1}), i -> transform(sequence(0, {DIM - 1}), j -> "
                "element_at(element_at(m2, i + 1), j + 1) / CAST(n_vecs AS DOUBLE) "
                "- element_at(mu, i + 1) * element_at(mu, j + 1)))"
            ),
        )
        .select("rows", "mu")
    )
    matvec = (
        f"transform(sequence(0, {DIM - 1}), i -> aggregate(sequence(0, {DIM - 1}), "
        "CAST(0.0 AS DOUBLE), "
        "(acc, j) -> acc + element_at(element_at(rows, i + 1), j + 1) * element_at({v}, j + 1)))"
    )
    cur = base.withColumn(
        "v0", F.expr(f"transform(sequence(0, {DIM - 1}), i -> CAST(0.125 AS DOUBLE))")
    )
    for k in range(1, PCA_ITERS + 1):
        cur = (
            cur.withColumn(f"w{k}", F.expr(matvec.format(v=f"v{k - 1}")))
            .withColumn(
                f"n{k}",
                F.expr(
                    f"sqrt(aggregate(w{k}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"
                ),
            )
            .withColumn(
                f"v{k}",
                F.expr(
                    f"CASE WHEN n{k} = 0.0 THEN v{k - 1} ELSE transform(w{k}, x -> x / n{k}) END"
                ),
            )
            .select("rows", "mu", f"v{k}")
        )
    vN = f"v{PCA_ITERS}"
    cur = (
        cur.withColumn("wf", F.expr(matvec.format(v=vN)))
        .withColumn(
            "lam",
            F.expr(
                f"aggregate(sequence(0, {DIM - 1}), CAST(0.0 AS DOUBLE), "
                f"(acc, i) -> acc + element_at({vN}, i + 1) * element_at(wf, i + 1))"
            ),
        )
        .withColumn(
            "trace",
            F.expr(
                f"aggregate(sequence(0, {DIM - 1}), CAST(0.0 AS DOUBLE), "
                "(acc, i) -> acc + element_at(element_at(rows, i + 1), i + 1))"
            ),
        )
    )
    return cur


@register("emb_pca_project_scores", oracle=_pca_project_oracle_sql())
def emb_pca_project_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train -> apply: project every embedding onto the corpus' own
    learned top component, proj = v . (x - mu) — the downstream shape
    a curation pipeline actually runs (dominant-direction outlier
    pruning, 1-d binning for stratified sampling, whitening's first
    step). One row per vector, fixed-point scores.

    Scale: this is THE broadcast-apply pattern — the learned state
    (one 64-float vector + mean) crosses onto the corpus as a 1-row
    broadcast and every score is a map-side fixed-order fold; the
    corpus never shuffles. Training cost is emb_pca_power_iteration's
    (shared plan subtree, same barrier-free chain); apply cost is linear and
    embarrassingly parallel. Cross-engine exactness inherits the
    power-iteration argument (same IEEE ops, same fold order; see
    emb_pca_power_iteration)."""
    cur = _pca_state(spark, sf_dir)
    vN = f"v{PCA_ITERS}"
    emb = _embeddings(spark, sf_dir)
    state = cur.select(F.col(vN).alias("pc"), "mu")
    return emb.crossJoin(F.broadcast(state)).select(
        "vec_id",
        F.floor(
            F.expr(
                f"aggregate(sequence(0, {DIM - 1}), CAST(0.0 AS DOUBLE), "
                "(acc, i) -> acc + element_at(pc, i + 1) * "
                "(element_at(emb, i + 1) - element_at(mu, i + 1)))"
            )
            * F.lit(1e9)
        )
        .cast("long")
        .alias("proj_q"),
    )


# --- JL sign projection (emb_dim_reduction_eval's 'jl' axis) ----------

JL_DIMS = (8, 16, 32)  # projected widths to evaluate (nested prefixes)
JL_R = max(JL_DIMS)  # one projection pass at the widest width
JL_QUERIES = 8  # vec_id < 8 are the query vectors (sim_* idiom)
JL_K = 5  # top-k overlap window (matryoshka idiom)


def _jl_sign(plane: int, dim: int) -> float:
    """One +/-1 sign-matrix entry, derived from the repo's portable
    md5 idiom (Python md5 == JVM md5 == DuckDB md5) so the Spark-side
    literals and the oracle's in-SQL derivation are the same matrix.
    The 'jl|' salt decorrelates it from the LSH hyperplane family,
    which hashes the un-salted 'plane|dim' string."""
    h = hashlib.md5(f"jl|{plane}|{dim}".encode()).hexdigest()[:8]
    return 1.0 if int(h, 16) % 2 == 0 else -1.0


def _jl_project() -> Column:
    """The full r_max-wide projection of the ``emb`` column: an array
    of {JL_R} exact decimal-fold dots against literal sign vectors.
    Inlined literals keep the pass entirely map-side (zip_with +
    aggregate per plane, like the LSH sign bits)."""
    return F.array(
        *[
            _dot(
                F.col("emb"),
                F.array(*[F.lit(_jl_sign(j, d + 1)) for d in range(DIM)]),
            )
            for j in range(JL_R)
        ]
    )


_SQL_JL_SIGNS = f"""
        SELECT p.range AS plane, d.range + 1 AS dim,
               CASE WHEN CAST(('0x' || substr(md5('jl|' || p.range || '|' || (d.range + 1)), 1, 8)) AS BIGINT) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS comp
        FROM range({JL_R}) p, range({DIM}) d
"""


def _sql_jl_cosine(r: int, q: str, c: str) -> str:
    qs, cs = f"{q}.pemb[1:{r}]", f"{c}.pemb[1:{r}]"
    return (
        f"{_sql_dot(qs, cs)} / NULLIF("
        f"sqrt({_sql_dot(qs, qs)}) * sqrt({_sql_dot(cs, cs)}), 0)"
    )


# RETIRED at r13 (the consolidation the r12 VERDICT task 3 ordered):
# the standalone emb_jl_projection_eval candidate's entire surface is
# the 'jl' axis of the registered emb_dim_reduction_eval below — same
# helpers (_jl_sign/_jl_project/_sql_jl_cosine/_SQL_JL_SIGNS), same
# constants, and the consolidated entry's own oracle re-derives the
# axis independently in SQL, so nothing lost its truth pin. Its r11
# scale record (x100 0.25x; x200: Spark 41.3 s while the DuckDB
# oracle OOMs on its ~800M-row unnest-join intermediate) stays in
# BENCH_SCALE/GATE_LOG under the old name.


# --- emb_dim_reduction_eval ---------------------------------------------

# One corpus pass serves BOTH dimension-reduction axes: 'mrl' slices
# the raw embedding prefix (matryoshka), 'jl' slices the persisted
# sign-projection array. Same widths/k/queries as the two entries it
# consolidates (MRL_DIMS == JL_DIMS, MRL_K == JL_K, MRL_QUERIES ==
# JL_QUERIES), so its per-axis output must equal theirs row for row —
# the cross-entry identity tests/test_staging_r13.py pins.
_DRE_PAIRS_PERSISTED: list[DataFrame] = []
# Own corpus slot (r11 ADVICE, kept after the jl parent's retirement
# made this the only consumer): one persist slot per entry is the
# _swap_persisted contract — a shared slot would unpersist another
# entry's cached input mid-session.
_DRE_CORPUS_PERSISTED: list[DataFrame] = []


def _sql_mrl_cosine(d: int, q: str, c: str) -> str:
    qs, cs = f"{q}.emb[1:{d}]", f"{c}.emb[1:{d}]"
    return (
        f"{_sql_dot(qs, cs)} / NULLIF("
        f"sqrt({_sql_dot(qs, qs)}) * sqrt({_sql_dot(cs, cs)}), 0)"
    )


@register(
    "emb_dim_reduction_eval",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    signs AS ({_SQL_JL_SIGNS}),
    comps AS (
        SELECT vec_id, unnest(emb) AS val, generate_subscripts(emb, 1) AS dim
        FROM emb
    ),
    pcomps AS (
        SELECT c.vec_id, s.plane,
               CAST(CAST(SUM(CAST(c.val * s.comp AS {_SQL_DEC})) AS VARCHAR) AS DOUBLE) AS pval
        FROM comps c JOIN signs s ON c.dim = s.dim
        GROUP BY c.vec_id, s.plane
    ),
    proj AS (
        SELECT vec_id, list(pval ORDER BY plane) AS pemb
        FROM pcomps GROUP BY vec_id
    ),
    corpus AS (
        SELECT e.vec_id, e.emb, e.norm, p.pemb
        FROM emb e JOIN proj p USING (vec_id)
    ),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.emb', 'c.emb')} / NULLIF(q.norm * c.norm, 0) AS cos_full,
               {', '.join(f"{_sql_mrl_cosine(r, 'q', 'c')} AS cos_mrl_{r}" for r in JL_DIMS)},
               {', '.join(f"{_sql_jl_cosine(r, 'q', 'c')} AS cos_jl_{r}" for r in JL_DIMS)}
        FROM corpus q JOIN corpus c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {JL_QUERIES}
    ),
    full_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cos_full DESC NULLS LAST, neighbor_id
            ) AS rnk FROM pairs
        ) r WHERE rnk <= {JL_K}
    ),
    axis_topk AS (
        {' UNION ALL '.join(f'''
        SELECT '{axis}' AS axis, {r} AS r_dim, query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cos_{axis}_{r} DESC NULLS LAST, neighbor_id
            ) AS rnk FROM pairs
        ) r WHERE rnk <= {JL_K}''' for axis in ('mrl', 'jl') for r in JL_DIMS)}
    )
    SELECT t.axis, CAST(t.r_dim AS BIGINT) AS r_dim, t.query_id,
           CAST(SUM(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           CAST({JL_K} AS BIGINT) AS k
    FROM axis_topk t
    LEFT JOIN full_topk f
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY t.axis, t.r_dim, t.query_id
    """,
)
def emb_dim_reduction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH dimension-reduction axes in one corpus pass: per query,
    per width r in {JL_DIMS}, and per axis ('mrl' = matryoshka raw
    prefix, 'jl' = sign-projection prefix), the exact-top-{JL_K}
    overlap of the reduced ranking. (axis, r_dim, query_id,
    n_overlap, k) — row-identical per axis to the two entries it
    replaced: the folded emb_matryoshka_truncate_eval (the 'mrl'
    identity stays pytest-pinned against the folded parent) and the
    deleted emb_jl_projection_eval candidate (the 'jl' axis is
    re-derived independently by this entry's own oracle SQL), because
    the constants match and the scoring goes through the same
    decimal-dot hops.

    REGISTERED r13 — the consolidation the r12 VERDICT task 3
    ordered (GATE_LOG r11 "cap arithmetic"): one entry covers both
    per-axis parents, frees a registry slot, and makes the comparison
    CHEAPER than either parent alone ran — the full-cosine truth pass
    and the pair broadcast are paid once for both axes, and the
    widths slice the same persisted arrays.

    Scale: identical contract to its parents — one map-side
    projection pass (persisted), one query-broadcast scored-pair
    frame (persisted), WindowGroupLimit top-k per (axis, width),
    broadcast-sized overlap joins; the corpus never shuffles.

    Measured (BENCH_SCALE, r11 third session): x20 0.39x, x100 0.53x
    (Spark 35.1 s vs DuckDB 65.9 s at 200k vectors — both axes for
    ~1.9x the JL-alone Spark wall, i.e. the truth pass and pair
    broadcast amortize); cluster2x16 **0.95x** of local32 — the only
    staged entry where the two-JVM profile WINS, because the heavy
    decimal folds parallelize across isolated heaps
    (BENCH_CLUSTER)."""
    emb = _embeddings(spark, sf_dir)
    # Prefix norms precomputed ONCE PER VECTOR in the persisted corpus
    # frame (r15, guide §1.2): the per-pair cosine used to re-derive
    # sqrt(dot(prefix, prefix)) for both sides inside every scored
    # pair — ~half the pair stage's decimal-fold volume was these
    # norms, recomputed corpus-many times for each query vector and
    # query-many times for each corpus vector. The value is the same
    # expression on the same slice, so the pair result is
    # bit-identical. r15 same-session A/B at sf0.1 with the persisted
    # frames dropped before each run (i.e. timing the real pair
    # compute, which the bench's warm-cache protocol does not):
    # 1.78 s -> 1.54 s, identical result hash.
    def pre_norm(col: str, axis: str, r: int):
        s = F.slice(col, 1, r)
        return F.sqrt(_dot(s, s)).alias(f"n_{axis}_{r}")

    corpus = _swap_persisted(
        _DRE_CORPUS_PERSISTED,
        emb.select(
            "vec_id",
            "emb",
            "norm",
            _jl_project().alias("pemb"),
        ).select(
            "vec_id",
            "emb",
            "norm",
            "pemb",
            *[
                pre_norm("emb" if a == "mrl" else "pemb", a, r)
                for a in ("mrl", "jl")
                for r in JL_DIMS
            ],
        ),
    )
    q = corpus.filter(F.col("vec_id") < JL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("pemb").alias("q_pemb"),
        *[
            F.col(f"n_{a}_{r}").alias(f"q_n_{a}_{r}")
            for a in ("mrl", "jl")
            for r in JL_DIMS
        ],
    )

    def axis_cos(axis: str, r: int):
        if axis == "mrl":
            qs, cs = F.slice("q_emb", 1, r), F.slice("emb", 1, r)
        else:
            qs, cs = F.slice("q_pemb", 1, r), F.slice("pemb", 1, r)
        return (
            _dot(qs, cs)
            / F.nullif(
                F.col(f"q_n_{axis}_{r}") * F.col(f"n_{axis}_{r}"), F.lit(0.0)
            )
        ).alias(f"cos_{axis}_{r}")

    pairs = _swap_persisted(
        _DRE_PAIRS_PERSISTED,
        corpus.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q_emb"), F.col("emb"))
                / F.nullif(F.col("q_norm") * F.col("norm"), F.lit(0.0))
            ).alias("cos_full"),
            *[axis_cos(a, r) for a in ("mrl", "jl") for r in JL_DIMS],
        ),
    )

    def topk(order_col: str):
        w = Window.partitionBy("query_id").orderBy(
            F.desc_nulls_last(order_col), F.asc("neighbor_id")
        )
        return (
            pairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= JL_K)
            .select("query_id", "neighbor_id")
        )

    full_topk = topk("cos_full")
    axis_topk = None
    for a in ("mrl", "jl"):
        for r in JL_DIMS:
            t = topk(f"cos_{a}_{r}").select(
                F.lit(a).alias("axis"),
                F.lit(r).cast("long").alias("r_dim"),
                "query_id",
                "neighbor_id",
            )
            axis_topk = t if axis_topk is None else axis_topk.unionByName(t)
    return (
        axis_topk.join(
            F.broadcast(full_topk.withColumn("hit", F.lit(1))),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("axis", "r_dim", "query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_overlap"),
            F.lit(JL_K).cast("long").alias("k"),
        )
    )


# --- emb_pca_top2_deflation -----------------------------------------------


def _pca_defl_iter_ctes(dim: int, iters: int) -> str:
    """The same unrolled normalize-multiply chain as _pca_ctes'
    it1..itN, over the DEFLATED matrix (CTEs d0..dN) — one shared
    template so the two recurrences cannot drift."""
    its = []
    for k in range(1, iters + 1):
        its.append(f"""
    dw{k} AS MATERIALIZED (
        SELECT rows, {_pca_matvec_sql('v', dim)} AS w, v FROM d{k - 1}
    ),
    d{k} AS MATERIALIZED (
        SELECT rows,
               CASE WHEN nrm = 0.0 THEN v
                    ELSE list_transform(w, x -> x / nrm) END AS v
        FROM (SELECT rows, w, v,
                     sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                          list_transform(w, x -> x * x)), (a, b) -> a + b)) AS nrm
              FROM dw{k}) t
    )""")
    return ",".join(its)


def _pca2_oracle_sql(dim: int = DIM, iters: int = PCA_ITERS) -> str:
    return f"""
    {_pca_ctes(dim, iters)},
    d0 AS MATERIALIZED (
        SELECT list_transform(range(0, {dim}), i ->
                 list_transform(range(0, {dim}), j ->
                   f.rows[i + 1][j + 1] - s.lam * s.v[i + 1] * s.v[j + 1])) AS rows,
               list_transform(range(0, {dim}), i -> CAST(0.125 AS DOUBLE)) AS v
        FROM fin f, sc s
    ),{_pca_defl_iter_ctes(dim, iters)},
    dfin AS (
        SELECT rows, v, {_pca_matvec_sql('v', dim)} AS wf FROM d{iters}
    ),
    dsc AS (
        SELECT v,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(0, {dim}), i -> v[i + 1] * wf[i + 1])), (a, b) -> a + b) AS lam
        FROM dfin
    )
    SELECT CAST(1 AS BIGINT) AS comp,
           CAST(generate_subscripts(s.v, 1) - 1 AS BIGINT) AS dim,
           CAST(FLOOR(unnest(s.v) * {_PCA_S}) AS BIGINT) AS loading_q,
           CAST(FLOOR(s.lam * {_PCA_S}) AS BIGINT) AS eigenvalue_q,
           CASE WHEN s.trc > 0 THEN CAST(FLOOR(s.lam / s.trc * 1000000.0) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS evr_ppm
    FROM sc s
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           CAST(generate_subscripts(d.v, 1) - 1 AS BIGINT),
           CAST(FLOOR(unnest(d.v) * {_PCA_S}) AS BIGINT),
           CAST(FLOOR(d.lam * {_PCA_S}) AS BIGINT),
           CASE WHEN s.trc > 0 THEN CAST(FLOOR(d.lam / s.trc * 1000000.0) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END
    FROM dsc d, sc s
    """


@register("emb_pca_top2_deflation", oracle=_pca2_oracle_sql(), tier="staged")
def emb_pca_top2_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TWO principal components via Hotelling deflation: run the
    registered power iteration to (v1, lambda1), deflate the
    covariance (C2 = C - lambda1 v1 v1^T), and iterate again for
    (v2, lambda2). Output: (comp, dim, loading_q, eigenvalue_q,
    evr_ppm), comp in {{1, 2}} — comp 1 rows are definitionally the
    registered emb_pca_power_iteration's output with the comp column
    prepended (same state frame, same quantization). The eigenBASIS
    extension the eigen family needs next: OPQ rotations, whitening,
    and 2-d embedding maps all consume multiple components, and
    deflation is the in-plan-expressible route to them (one more
    unrolled recurrence per component, no driver state).

    Cross-engine exactness inherits the power-iteration argument
    wholesale: the deflated matrix entries are two multiplies and a
    subtract per cell applied in the same order on both engines
    (lam * v[i] * v[j], left-associated), and the second recurrence
    is the SAME normalize-multiply chain over those bit-identical
    entries. Convergence is the deflation story: the second
    iteration converges at rate (lambda3/lambda2)^k, and residual v1
    components are suppressed by the deflation itself (exactly zero
    eigenvalue along v1 up to the quantized covariance's rounding).

    Scale: identical contract to the parents — the corpus pass is
    the one d^2-key covariance exchange (shared subtree with the
    registered pair, same scaled-long exactness), and BOTH
    recurrences are 1-row work behind the same per-step barriers;
    apply cost for a consumer is a broadcast of (2 x dim + 2)
    doubles. An extra 1-row barrier sits BETWEEN computing
    (lam, trace) and the deflation that consumes them — without it,
    projection collapse inlines lam's O(d^2) aggregate fold into
    each of the d^2 deflated cells (measured: a wall that never
    finished at sf0.001; with the barrier, 13 s cold).

    Measured (BENCH_SCALE, r13): x20 0.26x, x100 0.12x vs DuckDB
    (Spark 4.6 s near-flat vs DuckDB 37.4 s at 200k vectors — the
    doubled unrolled chain costs the single-node engine ~2x its
    single-component wall while Spark's barriers stay 1-row)."""
    vN = f"v{PCA_ITERS}"
    cur = _pca_state(spark, sf_dir)
    # 1-row barrier BETWEEN computing lam/trace and the deflation that
    # consumes them: without it, projection collapse inlines lam's
    # O(d^2) aggregate fold into each of the d^2 deflated cells (the
    # parent entries' documented inlined-expression-recompute hazard —
    # measured here as a wall that never finished at sf0.001)
    state1 = cur.select(
        "rows", F.col(vN).alias("v1"), F.col("lam").alias("lam1"), "trace"
    ).repartition(1)
    # deflate: rows2 = rows - lam * v1 v1^T (left-assoc, oracle order)
    base2 = state1.select(
        F.expr(
            f"transform(sequence(0, {DIM - 1}), i -> transform(sequence(0, {DIM - 1}), j -> "
            "element_at(element_at(rows, i + 1), j + 1) "
            "- lam1 * element_at(v1, i + 1) * element_at(v1, j + 1)))"
        ).alias("rows"),
        "v1",
        "lam1",
        "trace",
    ).repartition(1)
    matvec = (
        f"transform(sequence(0, {DIM - 1}), i -> aggregate(sequence(0, {DIM - 1}), "
        "CAST(0.0 AS DOUBLE), "
        "(acc, j) -> acc + element_at(element_at(rows, i + 1), j + 1) * element_at({v}, j + 1)))"
    )
    cur2 = base2.withColumn(
        "d0", F.expr(f"transform(sequence(0, {DIM - 1}), i -> CAST(0.125 AS DOUBLE))")
    )
    for k in range(1, PCA_ITERS + 1):
        cur2 = (
            cur2.withColumn(f"w{k}", F.expr(matvec.format(v=f"d{k - 1}")))
            .withColumn(
                f"n{k}",
                F.expr(
                    f"sqrt(aggregate(w{k}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"
                ),
            )
            .withColumn(
                f"d{k}",
                F.expr(
                    f"CASE WHEN n{k} = 0.0 THEN d{k - 1} ELSE transform(w{k}, x -> x / n{k}) END"
                ),
            )
            .select("rows", "v1", "lam1", "trace", f"d{k}")
            .repartition(1)  # per-step 1-row barrier (parent docstring)
        )
    dN = f"d{PCA_ITERS}"
    state = (
        cur2.withColumn("wf", F.expr(matvec.format(v=dN)))
        .withColumn(
            "lam2",
            F.expr(
                f"aggregate(sequence(0, {DIM - 1}), CAST(0.0 AS DOUBLE), "
                f"(acc, i) -> acc + element_at({dN}, i + 1) * element_at(wf, i + 1))"
            ),
        )
        .select("v1", "lam1", F.col(dN).alias("v2"), "lam2", "trace")
    )
    dims = spark.range(DIM).select(F.col("id").cast("long").alias("dim"))
    grid = dims.crossJoin(F.broadcast(state))

    def comp_rows(comp: int, v: str, lam: str):
        return grid.select(
            F.lit(comp).cast("long").alias("comp"),
            "dim",
            F.floor(
                F.expr(f"element_at({v}, CAST(dim AS INT) + 1)") * F.lit(1e9)
            )
            .cast("long")
            .alias("loading_q"),
            F.floor(F.col(lam) * F.lit(1e9)).cast("long").alias("eigenvalue_q"),
            F.when(
                F.col("trace") > 0,
                F.floor(F.col(lam) / F.col("trace") * F.lit(1e6)),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("evr_ppm"),
        )

    return comp_rows(1, "v1", "lam1").unionByName(comp_rows(2, "v2", "lam2"))
