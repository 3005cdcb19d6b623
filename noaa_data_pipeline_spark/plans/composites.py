"""Composed pipeline shapes — MEASUREMENT surface, tier "composite".

The registry's dedup entries each expose ONE stage with a contract
that materializes its full output (so the cross-engine hash gate can
check it). A production corpus never runs a stage in isolation: the
pair stream feeds connected components and a purge report directly,
and the intermediate pair list is consumed, not emitted. GATE_LOG
r10 ("simhash x100 wall") made that claim in prose; this module
makes it a measured artifact (r10 VERDICT task 4): the composed
shape is benchable by tools/bench_scale.py and oracle-checked by
tests/test_composites.py with the exact driver-gate compare, but it
stays out of the driver surface — the composition carries no new
operator semantics (its stages are registry entries with driver
evidence). Like every tier, each composite resolves by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from . import register

# Unrolled min-label propagation depth. Each level finds every
# node's minimum label within that many hops, so convergence needs
# the longest (component-min -> node) shortest path; near-dup
# graphs are dense (hops ~2-3) and the guard below turns an
# unconverged run into a loud hash mismatch, never a silent wrong
# answer. 16 covers chains far beyond anything the gate lakes hold.
CC_SQL_ROUNDS = 16


def _simhash_labels_cte() -> str:
    """Min-label propagation over the VERIFIED SimHash pair set,
    yielding ``labels(node, component)`` plus ``cc_conv(n_unstable)``
    — the convergence guard the consumer must fold into its output.

    Why not the recursive-CTE closure iterative._cc_labels_cte uses
    for the MinHash graph: closure enumerates every (node, start)
    reachability pair, QUADRATIC in component size. The SimHash
    graph on the synthetic corpus is a giant near-clique (913k pairs
    over 4.9k docs at sf0.1; 212.7M pairs over 500k docs at
    x100mut), where the closure twin OOM'd at 32 GiB and then
    exhausted 40 GB of spill (GATE_LOG r11). Unrolled propagation is
    LINEAR in edges per level — one edges⋈labels pass per hop, each
    level MATERIALIZED because it is referenced twice (self +
    propagate; inlining would double the pipeline per level)."""
    from .dedup import SQL_SIMHASH_VERIFIED_PAIRS

    levels = [
        """
    l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS lbl FROM cc_edges
    )"""
    ]
    for i in range(1, CC_SQL_ROUNDS + 1):
        levels.append(f"""
    l{i} AS MATERIALIZED (
        SELECT node, MIN(lbl) AS lbl FROM (
            SELECT node, lbl FROM l{i - 1}
            UNION ALL
            SELECT e.dst AS node, l.lbl
            FROM l{i - 1} l JOIN cc_edges e ON e.src = l.node
        ) GROUP BY node
    )""")
    k, km1 = CC_SQL_ROUNDS, CC_SQL_ROUNDS - 1
    return f"""{SQL_SIMHASH_VERIFIED_PAIRS},
    cc_edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM simhash_pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM simhash_pairs
    ),
    {','.join(levels)},
    cc_conv AS (
        SELECT COUNT(*) AS n_unstable
        FROM l{k} a JOIN l{km1} b ON a.node = b.node AND a.lbl <> b.lbl
    ),
    labels AS (SELECT node, lbl AS component FROM l{k})"""


@register(
    "dedup_simhash_purge_pipeline",
    tier="composite",
    oracle=f"""
    WITH {_simhash_labels_cte()},
    removed AS (SELECT node AS doc_id FROM labels WHERE node <> component)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_before,
           -- the convergence guard: an unconverged propagation adds
           -- a poison term every row, guaranteeing a loud hash
           -- mismatch instead of a silently-wrong purge count
           CAST(COUNT(r.doc_id)
                + (SELECT n_unstable FROM cc_conv) * 1000000000
                AS BIGINT) AS docs_removed,
           CAST(COUNT(*) - COUNT(r.doc_id) AS BIGINT) AS docs_after
    FROM documents d
    LEFT JOIN removed r ON d.doc_id = r.doc_id
    GROUP BY d.source
    """,
)
def dedup_simhash_purge_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash dedup pipeline a curator actually runs, end to
    end: banded SimHash candidates -> hamming verification ->
    connected components -> one-representative-per-cluster purge
    accounting per source. The verified pair stream flows straight
    into the CC edge persist — it is never emitted, so the wall this
    composite measures is the pipeline's, with no
    output-materialization term (the registered dedup_simhash entry's
    contract adds exactly that term and nothing else; see GATE_LOG
    r10 "simhash x100 wall").

    Oracle history (GATE_LOG r11): the first twin was the
    recursive-CTE closure (iterative._cc_labels_cte's shape), which
    is QUADRATIC in component size — on this graph (a giant
    near-clique: 212.7M verified pairs touching all 500k docs at
    x100mut) it OOM'd at a 32 GiB allocation and, retried, exhausted
    40 GB of disk spill while Spark's pointer-jumping completed in
    202 s. The shipped twin is unrolled min-label propagation
    (_simhash_labels_cte): linear in edges per level, convergence
    guarded by a poison term in docs_removed, tractable at every
    measured point. tools/bench_scale.py still records engine-side
    oracle failure honestly (duckdb_error in the row) if a future
    point exceeds it."""
    from .dedup import simhash_pairs
    from .iterative import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    removed = (
        connected_components(pairs)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"), F.lit(1).alias("is_removed"))
    )
    return (
        docs.join(removed, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("docs_before"),
            F.count("is_removed").alias("docs_removed"),
            (F.count("*") - F.count("is_removed")).alias("docs_after"),
        )
    )


# --- emb_pca_outlier_pipeline -------------------------------------------


def _pca_outlier_oracle_sql() -> str:
    from .embeddings import _PCA_S, _pca_ctes

    return f"""
    {_pca_ctes()},
    scores AS (
        SELECT e.label,
               CAST(FLOOR(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(range(0, 64), i ->
                        sc.v[i + 1] * (e.emb[i + 1] - muv.mu[i + 1]))),
                    (a, b) -> a + b) * {_PCA_S}) AS BIGINT) AS q
        FROM emb e, sc, muv
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(CAST(q AS HUGEINT)) AS s1,
               SUM(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS s2
        FROM scores
    )
    SELECT s.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN (CAST(s.q AS HUGEINT) * st.n - st.s1)
                              * (CAST(s.q AS HUGEINT) * st.n - st.s1)
                              > 9 * (st.n * st.s2 - st.s1 * st.s1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST((1000000 * SUM(CASE WHEN (CAST(s.q AS HUGEINT) * st.n - st.s1)
                                         * (CAST(s.q AS HUGEINT) * st.n - st.s1)
                                         > 9 * (st.n * st.s2 - st.s1 * st.s1)
                                    THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
               AS outlier_ppm
    FROM scores s, stats st
    GROUP BY s.label
    """


@register("emb_pca_outlier_pipeline", oracle=_pca_outlier_oracle_sql(), tier="composite")
def emb_pca_outlier_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dominant-direction outlier prune a curator actually runs,
    end to end: learn the top principal component (staged
    emb_pca_power_iteration machinery), score every embedding
    map-side against the broadcast state, flag scores beyond 3 sigma
    of the corpus' own projection distribution, and report per-label
    prune counts.

    The 3-sigma test is INTEGER-EXACT on the quantized scores: with
    S1 = sum(q), S2 = sum(q^2), n = count, `(q*n - S1)^2 >
    9*(n*S2 - S1^2)` is the sigma test cleared of divisions —
    DECIMAL(38,0) on Spark, HUGEINT on DuckDB, both exact (bounds:
    |q| < 2^33 at the corpus' value range, n <= 2^21 at x200 keeps
    every term under 10^38). Scale: two map passes over the corpus
    (score, then flag against a 1-row broadcast of the three
    statistics) plus one label-keyed count shuffle — the corpus never
    self-joins.

    Composite status note: unlike dedup_simhash_purge_pipeline,
    whose stages hold DRIVER evidence, this composition's stages are
    r12-staged candidates with pytest-gate evidence only (three-SF
    hash-exact, staging protocol); the composite itself is
    oracle-checked by tests/test_composites.py with the same exact
    compare."""
    from .embeddings import _pca_state
    from .similarity import _embeddings

    vN = "v24"
    state = _pca_state(spark, sf_dir).select(F.col(vN).alias("pc"), "mu")
    emb = _embeddings(spark, sf_dir)
    scores = emb.crossJoin(F.broadcast(state)).select(
        "label",
        F.floor(
            F.expr(
                "aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), "
                "(acc, i) -> acc + element_at(pc, i + 1) * "
                "(element_at(emb, i + 1) - element_at(mu, i + 1)))"
            )
            * F.lit(1e9)
        )
        .cast("long")
        .alias("q"),
    )
    stats = scores.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("q").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    flagged = scores.crossJoin(F.broadcast(stats)).withColumn(
        "is_outlier",
        F.expr(
            "(CAST(q AS DECIMAL(38,0)) * n - s1) * (CAST(q AS DECIMAL(38,0)) * n - s1)"
            " > 9 * (n * s2 - s1 * s1)"
        ),
    )
    return flagged.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)).cast("long").alias("n_outliers"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN is_outlier THEN 1 ELSE 0 END)) div COUNT(*) AS BIGINT)"
        ).alias("outlier_ppm"),
    )



# --- docs_weighted_shard_assembly ---------------------------------------

def _wshard_oracle_sql() -> str:
    from ..operators import textops
    from .text import WSAMP_K, _wsamp_priority_sql
    from .text import PACK_BUDGET

    norm = textops.SQL_NORM.format(col="d.text")
    return f"""
    WITH base AS (
        SELECT source, doc_id,
               GREATEST(COALESCE(n_chars, 1), 1) AS weight,
               {_wsamp_priority_sql('duckdb')} AS priority
        FROM documents
    ),
    stats AS (
        SELECT source, CAST(SUM(weight) AS BIGINT) AS stratum_weight
        FROM base GROUP BY source
    ),
    ranked AS (
        SELECT source, doc_id, weight,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY priority, doc_id
               ) AS sample_rank
        FROM base
    ),
    toks AS (
        SELECT s.source, s.sample_rank, s.weight,
               CAST(len(string_split({norm}, ' ')) AS BIGINT) AS n_tok
        FROM ranked s JOIN documents d USING (doc_id)
        WHERE s.sample_rank <= {WSAMP_K}
    ),
    binned AS (
        SELECT source, weight, n_tok,
               CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY source ORDER BY sample_rank
                           ROWS UNBOUNDED PRECEDING) - n_tok) / {PACK_BUDGET}) AS BIGINT) AS bin_id
        FROM toks
    ),
    agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_sampled,
               CAST(SUM(n_tok) AS BIGINT) AS sampled_tokens,
               CAST(MAX(bin_id) + 1 AS BIGINT) AS n_bins,
               CAST(SUM(weight) AS BIGINT) AS sampled_weight
        FROM binned GROUP BY source
    )
    SELECT a.source, a.n_sampled, a.sampled_tokens, a.n_bins,
           CAST((1000000 * a.sampled_tokens) // (a.n_bins * {PACK_BUDGET}) AS BIGINT) AS fill_ppm,
           a.sampled_weight, s.stratum_weight,
           CAST((CAST(1000000 AS HUGEINT) * a.sampled_weight) // s.stratum_weight AS BIGINT) AS weight_share_ppm
    FROM agg a JOIN stats s USING (source)
    """


@register("docs_weighted_shard_assembly", oracle=_wshard_oracle_sql(), tier="composite")
def docs_weighted_shard_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assembly, composed end to end: the staged
    priority sample (sample_weighted_priority, plans/text.py)
    selects k quality-weighted docs per source, the selected docs are
    token-counted and greedily packed into {PACK_BUDGET}-token bins
    in sample_rank order (docs_pack_sequences' bin arithmetic, scoped
    to the sample), and the output is the per-source shard report a
    curator reads before materializing the shard: sample size, token
    total, bins used, fill ratio (ppm), and the sampled weight share
    of the stratum (the empirical check that inclusion probability
    tracked weight — the Horvitz-Thompson sanity number).

    Evidence-tier note (the PCA-composite precedent): the sampling
    stage is a pytest-gate staged candidate, not yet driver-proven;
    the packing arithmetic is the registered entry's, re-scoped.

    Scale: the sampler's contract (map-side keys, partial
    WindowGroupLimit, O(k x strata) sample) carries over; the join
    back to documents for text is broadcast (the sample side is
    k x strata rows); the packing window sorts <= k rows per stratum.
    Nothing corpus-sized shuffles, and the corpus is scanned twice
    (once for keys+stats, once to fetch the sampled docs' text) —
    at 100 TB the second scan prunes to the doc_id semi-join.

    Exactness: token counts, bin ids, and both ppm ratios are integer
    arithmetic (the weight-share multiply goes through DECIMAL(38,0)/
    HUGEINT so 1e6 x stratum weights cannot overflow 64 bits)."""
    from pyspark.sql import Window

    from ..operators import textops
    from .text import sample_weighted_priority
    from .text import PACK_BUDGET

    s = sample_weighted_priority(spark, sf_dir).select(
        "source", "sample_rank", "doc_id", "weight", "stratum_weight"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.join(F.broadcast(s), "doc_id").select(
        "source",
        "sample_rank",
        "weight",
        "stratum_weight",
        F.size(F.split(textops.norm_text(F.col("text")), " "))
        .cast("long")
        .alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("sample_rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    binned = toks.select(
        "source",
        "weight",
        "stratum_weight",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / PACK_BUDGET)
        .cast("long")
        .alias("bin_id"),
    )
    agg = binned.groupBy("source").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum("n_tok").cast("long").alias("sampled_tokens"),
        (F.max("bin_id") + 1).cast("long").alias("n_bins"),
        F.sum("weight").cast("long").alias("sampled_weight"),
        F.max("stratum_weight").alias("stratum_weight"),
    )
    return agg.select(
        "source",
        "n_sampled",
        "sampled_tokens",
        "n_bins",
        F.expr(
            f"CAST((1000000 * sampled_tokens) div (n_bins * {PACK_BUDGET}) AS BIGINT)"
        ).alias("fill_ppm"),
        "sampled_weight",
        "stratum_weight",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * sampled_weight) div stratum_weight AS BIGINT)"
        ).alias("weight_share_ppm"),
    )
