"""Graph-construction and evaluation-curve operators (round-10
promotions of the round-9 staged surface).

Three entries, each oracle-proven at three SFs and differentially
fuzzed while staged (tests/test_staging_r10.py, round 9) before the
``stage`` decorators became ``register`` here — the same
staged-promotion path the round-7 lifecycle and round-8 maintenance
operators took:

- ``sim_knn_graph`` — k-nearest-neighbor GRAPH construction over the
  embedding corpus: every vector ranks its LSH-bucket-mates by exact
  cosine and keeps its top K. The missing edge-producer between the
  ANN search entries (query -> corpus) and the graph consumers
  (dedup_clusters_cc, graph_quality_smoothing take edge lists):
  embeddings -> knn edges -> components/smoothing is the standard
  SemDeDup/quality-propagation pipeline shape.
- ``emb_matryoshka_truncate_eval`` — retrieval-quality evaluation of
  PREFIX-truncated embeddings (the Matryoshka-representation recipe:
  serve dim-64 vectors, search coarse at dim-8/16/32): per query and
  truncation width, how many of the full-dimension exact top-K does
  the truncated ranking recover? The same eval-harness family as
  sim_ann_recall_eval / sim_pq_recall_eval, for the dimension-
  reduction axis those entries don't cover.
- ``corpus_token_coverage`` — cumulative token-occurrence coverage of
  the top-V vocabulary per language: what fraction of all token
  occurrences do the V most frequent tokens cover? The
  vocabulary-sizing curve a tokenizer/corpus audit reads before
  committing to a vocab size; integer-exact so the hash gate applies.

Cache lifecycle (r10 ADVICE): the persisted intermediates of the
PREVIOUS invocation are unpersisted on entry (the
sim_incremental_ivf_insert pattern), so bench/gate sweeps that call
an entry repeatedly hold at most one invocation's cached partitions.

Reference anchors (spec, not code): all three extend SURVEY.md's
LLM-pipeline families (similarity lifecycle, eval harnesses, text
analysis) beyond the reference's own surface, like the round-5-9
additions they follow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import textops
from ..tables import load_table
from . import register
from .common import _swap_persisted
from .similarity import (
    LSH_PLANES,
    _SQL_DEC,
    _SQL_EMB,
    _dot,
    _embeddings,
    _sign_bit,
    _sql_dot,
    _sql_planes,
)

# Persisted frames of the LAST invocation, per entry, unpersisted on
# the next call (see module docstring).
_KNN_PERSISTED: list[DataFrame] = []
_MRL_PERSISTED: list[DataFrame] = []


# --- sim_knn_graph -----------------------------------------------------

KNN_K = 5  # neighbors kept per vector


@register(
    "sim_knn_graph",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    planes AS ({_sql_planes()}),
    comps AS (
        SELECT vec_id, unnest(emb) AS val, generate_subscripts(emb, 1) AS dim
        FROM emb
    ),
    sigs AS (
        SELECT c.vec_id, p.plane,
               CASE WHEN SUM(CAST(c.val * p.comp AS {_SQL_DEC})) > 0 THEN '1' ELSE '0' END AS bit
        FROM comps c JOIN planes p ON c.dim = p.dim
        GROUP BY c.vec_id, p.plane
    ),
    buckets AS (
        SELECT vec_id, string_agg(bit, '' ORDER BY plane) AS bucket
        FROM sigs GROUP BY vec_id
    ),
    scored AS (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               {_sql_dot('ea.emb', 'eb.emb')}
                   / NULLIF(ea.norm * eb.norm, 0) AS cosine
        FROM buckets a
        JOIN buckets b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        JOIN emb ea ON a.vec_id = ea.vec_id
        JOIN emb eb ON b.vec_id = eb.vec_id
    )
    SELECT vec_id, neighbor_id, cosine, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY vec_id
            ORDER BY cosine DESC NULLS LAST, neighbor_id
        ) AS rnk
        FROM scored
    ) r WHERE rnk <= {KNN_K}
    """,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph over the embedding corpus: each vector's top-{KNN_K}
    bucket-mates by exact cosine, emitted as directed edges
    (vec_id, neighbor_id, cosine, rnk). This is the edge-producer the
    graph consumers already in the registry take as input
    (connected components for SemDeDup-style clustering,
    graph_quality_smoothing for label propagation); candidate
    generation reuses the signed-random-projection buckets of
    sim_ann_lsh_hyperplane, so the corpus never self-joins all-pairs.

    Exactness: cosines go through the decimal-dot VARCHAR hop
    (similarity._dot), so ranking ties are bit-identical across
    engines and break on neighbor_id; zero-norm vectors score NULL
    (NULLIF guard) and rank last in both engines (DESC NULLS LAST is
    the shared default).

    Scale: sign buckets are literal-array dot products computed
    map-side (zero shuffles); only the light (vec_id, bucket) frame
    persists and self-joins (the sibling ann_lsh_pairs pattern — the
    embeddings themselves are never cached); scoring joins the
    candidate ids back to the corpus by vec_id, reusing the loader's
    hash(vec_id) clustering; the per-vector top-k is a
    WindowGroupLimit over the candidate pairs (pair-count-sized,
    never corpus^2). The registry binding runs the demo-sized plane
    count so the DuckDB oracle stays expressible — production raises
    planes/bands through the same ann_lsh_pairs parameter surface
    documented on the search entry, which shrinks buckets and with
    them the candidate volume."""
    emb = _embeddings(spark, sf_dir)
    # lazy persist: both sides of the self-join reuse the computed
    # sign bits; the frame is (vec_id, bucket) only — never the
    # embeddings
    buckets = _swap_persisted(
        _KNN_PERSISTED,
        emb.select(
            "vec_id",
            F.concat(*[_sign_bit(p) for p in range(LSH_PLANES)]).alias("bucket"),
        ),
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    # Candidates as UNORDERED pairs (a < b), half the a != b volume:
    # cosine is exactly symmetric here — IEEE double multiply
    # commutes, the decimal fold visits elements in the same array
    # order either way, and NULLIF(norm_a*norm_b) commutes — so each
    # pair's dominant cost (the 64-term interpreted decimal fold of
    # similarity._dot, the per-task hot spot in every measurement of
    # this entry) is paid ONCE and the directed edge set the consumers
    # expect is restored below by exploding both directions from the
    # single scored row (guide §1.2: fix the algorithm's work count
    # before the per-task code). r15: 1.41 s -> 0.95 s at sf0.1
    # (the residue is the bucket build, the two id joins and the
    # top-k window, which the halving does not touch).
    cand = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
    )
    ea = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    scored_once = (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (
                _dot(F.col("emb_a"), F.col("emb_b"))
                / F.nullif(F.col("norm_a") * F.col("norm_b"), F.lit(0.0))
            ).alias("cosine"),
        )
    )
    # Both directed edges from one scored row: cosine is a plain
    # column reference at the Generate, so the fold below it runs
    # once per unordered pair, not once per emitted edge.
    scored = scored_once.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_a").alias("vec_id"),
                    F.col("vec_b").alias("neighbor_id"),
                ),
                F.struct(
                    F.col("vec_b").alias("vec_id"),
                    F.col("vec_a").alias("neighbor_id"),
                ),
            )
        ).alias("e"),
        "cosine",
    ).select("e.vec_id", "e.neighbor_id", "cosine")
    w = Window.partitionBy("vec_id").orderBy(
        F.desc_nulls_last("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
        .select("vec_id", "neighbor_id", "cosine", "rnk")
    )


# --- emb_matryoshka_truncate_eval --------------------------------------

MRL_DIMS = (8, 16, 32)  # prefix widths to evaluate
MRL_QUERIES = 8  # vec_id < 8 are the query vectors (sim_* idiom)
MRL_K = 5  # top-k overlap window


def _sql_trunc_cosine(d: int, q: str, c: str) -> str:
    qs, cs = f"{q}.emb[1:{d}]", f"{c}.emb[1:{d}]"
    return (
        f"{_sql_dot(qs, cs)} / NULLIF("
        f"sqrt({_sql_dot(qs, qs)}) * sqrt({_sql_dot(cs, cs)}), 0)"
    )


@register(
    "emb_matryoshka_truncate_eval",
    tier="folded",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.emb', 'c.emb')} / NULLIF(q.norm * c.norm, 0) AS cos_full,
               {', '.join(f"{_sql_trunc_cosine(d, 'q', 'c')} AS cos_{d}" for d in MRL_DIMS)}
        FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {MRL_QUERIES}
    ),
    full_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cos_full DESC NULLS LAST, neighbor_id
            ) AS rnk FROM pairs
        ) r WHERE rnk <= {MRL_K}
    ),
    trunc_topk AS (
        {' UNION ALL '.join(f'''
        SELECT {d} AS trunc_dim, query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cos_{d} DESC NULLS LAST, neighbor_id
            ) AS rnk FROM pairs
        ) r WHERE rnk <= {MRL_K}''' for d in MRL_DIMS)}
    )
    SELECT t.trunc_dim, t.query_id,
           CAST(SUM(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           CAST({MRL_K} AS BIGINT) AS k
    FROM trunc_topk t
    LEFT JOIN full_topk f
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY t.trunc_dim, t.query_id
    """,
)
def emb_matryoshka_truncate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval eval: per query vector and
    prefix width d in {MRL_DIMS}, how many of the exact full-dimension
    cosine top-{MRL_K} does the d-dimensional prefix ranking recover?
    (trunc_dim, query_id, n_overlap, k) — the acceptance curve read
    before serving truncated embeddings for cheap first-stage
    retrieval, completing the eval-harness family
    (sim_ann_recall_eval = ANN axis, sim_pq_recall_eval =
    quantization axis, this = dimension axis).

    Folded at r13 (the consolidation the r12 VERDICT task 3 ordered):
    its coverage is the 'mrl' axis of the registered
    emb_dim_reduction_eval, row-identical by the pytest-pinned
    identity (tests/test_staging_r13.py) — same widths/k/queries
    constants, same decimal-dot scoring. The Query record stays
    resolvable by name, plan-shape-swept (tests/test_plan_shapes.py
    includes the folded tier), and its non-degeneracy/persist-lifecycle tests keep running
    (tests/test_graph_eval.py).

    Exactness: every cosine (full and truncated) goes through the
    decimal-dot VARCHAR hop, so rankings tie-break identically
    (neighbor_id asc) across engines; zero-norm prefixes score NULL
    (NULLIF) and sort last in both; the output is integer-only.

    Scale: ONE query-broadcast pass over the corpus computes the full
    and all truncated scores together (slices of the same row — no
    extra scans); per-(query, width) top-k is a WindowGroupLimit over
    the {MRL_QUERIES}-query score frame; overlap is a broadcast-sized
    join of two top-k lists. The corpus is scanned once and never
    shuffled."""
    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < MRL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )

    def trunc_cos(d: int):
        qs, cs = F.slice("q_emb", 1, d), F.slice("emb", 1, d)
        return (
            _dot(qs, cs)
            / F.nullif(
                F.sqrt(_dot(qs, qs)) * F.sqrt(_dot(cs, cs)), F.lit(0.0)
            )
        ).alias(f"cos_{d}")

    # lazy persist: the full ranking and every width ranking reuse it
    pairs = _swap_persisted(
        _MRL_PERSISTED,
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q_emb"), F.col("emb"))
                / F.nullif(F.col("q_norm") * F.col("norm"), F.lit(0.0))
            ).alias("cos_full"),
            *[trunc_cos(d) for d in MRL_DIMS],
        ),
    )

    def topk(order_col: str):
        w = Window.partitionBy("query_id").orderBy(
            F.desc_nulls_last(order_col), F.asc("neighbor_id")
        )
        return (
            pairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= MRL_K)
            .select("query_id", "neighbor_id")
        )

    full_topk = topk("cos_full")
    trunc_topk = None
    for d in MRL_DIMS:
        t = topk(f"cos_{d}").select(
            F.lit(d).alias("trunc_dim"), "query_id", "neighbor_id"
        )
        trunc_topk = t if trunc_topk is None else trunc_topk.unionByName(t)
    return (
        trunc_topk.join(
            F.broadcast(full_topk.withColumn("hit", F.lit(1))),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("trunc_dim", "query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_overlap"),
            F.lit(MRL_K).cast("long").alias("k"),
        )
    )


# --- corpus_token_coverage ---------------------------------------------

# top-V vocabulary sizes to evaluate; demo-sized for the synthetic
# ~31-word vocabulary (production reads the same curve at 1e3-1e5)
COVERAGE_VS = (5, 10, 25)


@register(
    "corpus_token_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest(string_split({textops.SQL_NORM.format(col='text')}, ' ')) AS tok
        FROM documents
        WHERE text IS NOT NULL
    ),
    counts AS (
        SELECT lang, tok, COUNT(*) AS c FROM toks GROUP BY lang, tok
    ),
    ranked AS (
        SELECT lang, c, ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY c DESC, tok
        ) AS rnk
        FROM counts
    ),
    per_lang AS (
        SELECT lang,
               {', '.join(f"CAST(SUM(CASE WHEN rnk <= {v} THEN c ELSE 0 END) AS BIGINT) AS cov_{v}" for v in COVERAGE_VS)},
               CAST(SUM(c) AS BIGINT) AS total_occ,
               CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM ranked GROUP BY lang
    )
    {' UNION ALL '.join(f'''
    SELECT lang, {v} AS v, cov_{v} AS covered_occ, total_occ, n_distinct
    FROM per_lang''' for v in COVERAGE_VS)}
    """,
)
def corpus_token_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve per language: for each top-V cut of
    the per-language token-frequency table (ties broken on token
    text), how many of ALL token occurrences does that vocabulary
    cover? (lang, v, covered_occ, total_occ, n_distinct) — the curve
    a tokenizer audit reads to size a vocab before a bpe_train run,
    and the per-language imbalance signal a mixture plan consumes.

    Integer-exact end to end (counts and conditional sums only), so
    the cross-engine hash gate applies directly.

    Scale: one (lang, tok) count exchange with map-side combine (the
    same hash-aggregate shape as docs_gopher_rule_filter), then a
    per-language window over the VOCABULARY (distinct tokens — 1e5-1e6
    rows per language at any corpus size, not corpus-sized) and a
    k-language aggregate; the coverage cuts are conditional sums in
    that single aggregate, unpivoted to rows map-side. The explicit
    doc_id repartition is the documented single-small-file mitigation
    (the gopher/tokens_df idiom — without it the tokenize+count stage
    runs on the lake's 1-2 input splits: measured 8.6 s -> 1.5 s at
    x100); a real many-file lake's scan parallelism replaces it."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    toks = docs.select(
        "lang",
        F.explode(F.split(textops.norm_text(F.col("text")), " ")).alias("tok"),
    )
    counts = toks.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("tok"))
    ranked = counts.withColumn("rnk", F.row_number().over(w))
    per_lang = ranked.groupBy("lang").agg(
        *[
            F.sum(F.when(F.col("rnk") <= v, F.col("c")).otherwise(0))
            .cast("long")
            .alias(f"cov_{v}")
            for v in COVERAGE_VS
        ],
        F.sum("c").cast("long").alias("total_occ"),
        F.count("*").cast("long").alias("n_distinct"),
    )
    stacked = per_lang.select(
        "lang",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(v).alias("v"), F.col(f"cov_{v}").alias("covered_occ")
                    )
                    for v in COVERAGE_VS
                ]
            )
        ).alias("s"),
        "total_occ",
        "n_distinct",
    )
    return stacked.select(
        "lang",
        F.col("s.v").alias("v"),
        F.col("s.covered_occ").alias("covered_occ"),
        "total_occ",
        "n_distinct",
    )
