"""Deduplication operators over the ``documents`` corpus.

The four dedup families a training-data pipeline needs, each as a
Catalyst plan with a DuckDB oracle:

- exact (content-hash groupBy)
- n-gram Jaccard (shingle self-join — calibration/verification path)
- MinHash + LSH banding (the sub-quadratic scale path)
- SimHash (bitwise-majority fingerprint + banded Hamming pairs)

Embedding-cosine near-dup lives in ``plans/similarity.py``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import textops
from ..tables import load_table
from . import register

JACCARD_THRESHOLD = 0.5

_SQL_SHINGLES = textops.sql_shingles("documents")

_SQL_PAIR_JACCARD = f"""
    shingles AS ({_SQL_SHINGLES}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id),
    overlap AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pair_jaccard AS (
        SELECT doc_a, doc_b, n_common,
               n_common * 1.0 / (sa.n_shingles + sb.n_shingles - n_common) AS jaccard
        FROM overlap
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
    )
"""


# Materialized-shingle registry: maps a source path to its current
# fingerprint and temp-parquet location. Holding paths (not
# DataFrames) means nothing is pinned to a SparkSession — a new
# session simply re-reads the parquet — and no executor memory is
# held for the process lifetime. This is the 100 TB pattern too: a
# real pipeline writes signatures once to a table and every consumer
# scans it, rather than recomputing the tokenize+shingle subtree per
# self-join side. Superseded materializations (source rewritten under
# the same path) are deleted on replacement; everything is removed at
# interpreter exit.
_SHINGLE_PATHS: dict[str, tuple[tuple, str]] = {}

# Per-session DataFrame cache over the materialized paths: without
# it every plan CONSTRUCTION re-runs spark.read.parquet, whose
# footer/listing job breaks the registry's builder-is-lazy
# convention. Keyed by (source, session) so a recreated session
# re-reads instead of returning a frame bound to a stopped one; the
# fingerprint is re-checked on every hit so a rewritten source still
# invalidates.
_SHINGLE_FRAMES: dict[tuple[str, int], tuple[tuple, DataFrame]] = {}


def _cleanup_shingle_dirs() -> None:
    for _, path in _SHINGLE_PATHS.values():
        shutil.rmtree(path, ignore_errors=True)
    _SHINGLE_PATHS.clear()
    _SHINGLE_FRAMES.clear()


atexit.register(_cleanup_shingle_dirs)


def _source_fingerprint(sf_dir: str) -> tuple:
    """Identity of the documents input: mtime + size, so a rewritten
    documents.parquet under the same sf_dir invalidates the
    materialization."""
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    return (st.st_mtime_ns, st.st_size)


def _shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle frame, materialized once to temp parquet: it feeds
    both sides of two self-joins plus the signature aggregation, and
    without materialization Catalyst re-runs the tokenize+window
    subtree for every copy.

    Written with an explicit hash repartitioning so the files split
    evenly on read — an in-memory persist here used to get
    AQE-coalesced to one partition, serializing every consumer
    (observed 85s vs 4s at sf0.1)."""
    src = os.path.join(sf_dir, "documents.parquet")
    fingerprint = _source_fingerprint(sf_dir)
    current = _SHINGLE_PATHS.get(src)
    if current is None or current[0] != fingerprint or not os.path.isdir(current[1]):
        if current is not None:  # superseded materialization: reclaim
            shutil.rmtree(current[1], ignore_errors=True)
        docs = load_table(spark, sf_dir, "documents")
        n = spark.sparkContext.defaultParallelism
        path = tempfile.mkdtemp(prefix="shingles_mat_")
        textops.shingles_df(docs, partitions=n).write.mode("overwrite").parquet(path)
        _SHINGLE_PATHS[src] = (fingerprint, path)
    # applicationId (not id(spark)): stable across SparkSession
    # wrappers of one context, distinct for a restarted context — a
    # frame never outlives the JVM context it was planned against.
    fkey = (src, spark.sparkContext.applicationId)
    frame = _SHINGLE_FRAMES.get(fkey)
    if frame is None or frame[0] != fingerprint:
        _SHINGLE_FRAMES[fkey] = (
            fingerprint,
            spark.read.parquet(_SHINGLE_PATHS[src][1]),
        )
    return _SHINGLE_FRAMES[fkey][1]


def _shingle_pair_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_common, jaccard) for every pair sharing ≥1
    shingle. The shingle equi-join is the only shuffle; rare shingles
    keep the pair fan-out near-linear for natural text."""
    sh = _shingles_cached(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    overlap = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        overlap.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common")
                * F.lit(1.0)
                / (F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep the smallest id.
    Scale: md5 computes map-side; the shuffle carries one 32-byte key
    per row — this is the cheapest possible full-corpus dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_PAIR_JACCARD}
    SELECT doc_a, doc_b, n_common, jaccard
    FROM pair_jaccard
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 5-token-shingle Jaccard ≥ 0.5. The
    exact path: used to verify/calibrate the MinHash-LSH variant.
    Scale: pair fan-out is bounded by shared-shingle frequency; for
    100 TB the LSH variant below is the production path and this one
    runs on samples."""
    return _shingle_pair_jaccard(spark, sf_dir).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


# shared between the dedup_minhash_lsh oracle and the
# dedup_clusters_cc oracle (plans/iterative.py), which runs a
# recursive-CTE union-find over the same verified pair set
SQL_LSH_VERIFIED_PAIRS = f"""
    {_SQL_PAIR_JACCARD},
    sigs AS (
        SELECT doc_id,
           {textops.sql_minhash_aggs()}
        FROM shingles GROUP BY doc_id
    ),
    bands AS (
        {textops.sql_band_selects('sigs')}
    ),
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    lsh_pairs AS (
        SELECT pj.doc_a, pj.doc_b, pj.jaccard
        FROM candidates c
        JOIN pair_jaccard pj ON c.doc_a = pj.doc_a AND c.doc_b = pj.doc_b
        WHERE pj.jaccard >= {JACCARD_THRESHOLD}
    )
"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {SQL_LSH_VERIFIED_PAIRS}
    SELECT doc_a, doc_b, jaccard FROM lsh_pairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding of :func:`minhash_lsh_pairs` at the demo-sized
    defaults (k={textops.MINHASH_K}, {textops.LSH_BANDS} bands) so the
    DuckDB oracle stays expressible; production tuning happens through
    the parameters."""
    return minhash_lsh_pairs(spark, sf_dir)


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    k: int = textops.MINHASH_K,
    bands: int = textops.LSH_BANDS,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash signatures (k hashes) + LSH banding (``bands`` bands of
    r = k/bands rows): candidate pairs share a band bucket, then exact
    Jaccard >= ``threshold`` verifies — but only over the candidate
    docs.

    Parameter guide (s-curve): a pair with Jaccard J becomes a
    candidate with 1 - (1 - J^r)^b; the steep point sits near
    (1/b)^(1/r), so pick (k, bands) to put that knee just under the
    dedup threshold (k=12, b=4, r=3 → knee ≈ 0.63; production
    near-dup pipelines run k≈128, b≈32). tests/test_ann_recall.py
    pins measured recall against an independent pure-Python ground
    truth.

    This is the 100 TB dedup path: signatures reduce each doc to k
    hashes map-side, the band join shuffles only (band, bucket) keys,
    and the verification shingle join is semi-join-reduced to
    candidate doc ids first, so the corpus is never pair-joined in
    full (the oracle SQL computes the full pair join; restricting to
    candidates is result-identical because the final join keeps
    candidate pairs only). Min-hash uses lexicographic MIN over md5
    hex strings, identical in both engines.

    ``max_bucket`` is the hot-bucket skew guard: a bucket holding m
    docs contributes m^2/2 candidate pairs, so one boilerplate-heavy
    bucket (site templates, license headers) can dominate the whole
    join. Buckets wider than the cap are dropped from CANDIDATE
    GENERATION only — their docs still pair through their other
    bands, which is why banded LSH degrades gracefully where a
    single-signature scheme would not. The default (None) keeps the
    oracle-equivalent exact semantics."""
    if k % bands != 0:
        raise ValueError(f"bands ({bands}) must divide k ({k})")
    sh = _shingles_cached(spark, sf_dir)
    sigs = sh.groupBy("doc_id").agg(*textops.minhash_agg_cols(k))
    bands_df = sigs.select(
        "doc_id", F.explode(F.array(*textops.band_cols(k, bands))).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    ).persist()  # lazy: self-join sides share one k-hash aggregation
    # via the cache's per-block locks — no eager count barrier, the
    # query stays a single job
    if max_bucket is not None:
        widths = bands_df.groupBy("band", "bucket").agg(
            F.count("*").alias("bucket_width")
        )
        bands_df = (
            bands_df.join(widths, ["band", "bucket"])
            .filter(F.col("bucket_width") <= max_bucket)
            .drop("bucket_width")
        )
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        # candidates feed four consumers below (both union legs, the
        # final join, and via cand_docs the semi-join) — cache the
        # tiny frame (lazily; block locks dedup concurrent fills)
        # instead of re-running the band join per consumer
        .persist()
    )
    # candidate cardinality scales with the corpus's near-dup rate,
    # so no forced broadcast; the shuffle_hash hints below replace
    # sort-merge with shuffled-hash on the verification joins (guide
    # §3.1, the docs_exact_substring_purge precedent): build sides
    # are partition-bounded candidate sets, so the per-task hash map
    # stays inside the session's shuffle sizing, and skipping the
    # md5-string sorts is a measured win (r15 same-session A/B at
    # sf0.1: 1.50 s -> 1.24 s steady-state, identical output hash;
    # drop the hints to fall back to sort-merge on a deployment with
    # oversized partitions).
    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select("doc_b"))
        .distinct()
        .hint("shuffle_hash")
    )
    cand_sh = sh.join(cand_docs, "doc_id", "left_semi")
    sizes = cand_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    sa = cand_sh.alias("a")
    sb = cand_sh.alias("b")
    overlap = (
        sa.join(
            sb.hint("shuffle_hash"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    za = sizes.alias("za")
    zb = sizes.alias("zb")
    verified = (
        overlap.join(za, F.col("doc_a") == F.col("za.doc_id"))
        .join(zb, F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                * F.lit(1.0)
                / (F.col("za.n_shingles") + F.col("zb.n_shingles") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return candidates.join(verified.hint("shuffle_hash"), ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "jaccard"
    )


# --- SimHash ----------------------------------------------------------

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 8-bit bands
SIMHASH_MAX_HAMMING = 6


# Shared oracle CTE prefix ending in ``simhash_pairs(doc_a, doc_b,
# hamming)`` — reused by the dedup_simhash entry and the composed
# simhash -> CC -> purge pipeline (plans/composites.py). The hamming
# verification sits INSIDE the distinct (r11): band collisions that
# fail it never reach the dedup exchange, so the distinct's volume
# drops from every chance band collision (~212M rows at x100mut,
# each carrying two 64-bit sigs — the wall GATE_LOG r10 documents)
# to the verified pairs only (narrower rows, and fewer: how many
# fewer depends on the corpus's near-dup density — see the measured
# x100mut rows in GATE_LOG r11).
SQL_SIMHASH_VERIFIED_PAIRS = f"""
    toks AS ({textops.sql_tokens('documents')}),
    simhashed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
        FROM toks
    ),
    simsigs AS (
        SELECT doc_id,
               {' + '.join(f"(CASE WHEN SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(1 AS BIGINT) << {j} ELSE 0 END)" for j in range(32))} AS sig
        FROM simhashed GROUP BY doc_id
    ),
    simbands AS (
        SELECT doc_id, sig, b.range AS band, (sig >> (b.range * 8)) & 255 AS bucket
        FROM simsigs, range({4}) b
    ),
    simhash_pairs AS MATERIALIZED (
        -- MATERIALIZED: the composite's cc_edges CTE reads this
        -- relation once per direction; without the hint DuckDB
        -- inlines the whole band-join pipeline into each branch,
        -- doubling the candidate-verification cost (the
        -- iterative._cc_labels_cte rationale). Neutral for the
        -- single-consumer dedup_simhash entry oracle.
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        FROM simbands a JOIN simbands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= {SIMHASH_MAX_HAMMING}
    )"""


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {SQL_SIMHASH_VERIFIED_PAIRS}
    SELECT doc_a, doc_b, hamming FROM simhash_pairs
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit bitwise-majority fingerprint over
    md5-hashed tokens, banded into 4x8-bit buckets for candidate
    generation, Hamming distance <= 6 verifies. Scale: the signature
    is one map-side-combined groupBy (32 conditional sums, no
    per-bit row explosion); the band join shuffles only (band,
    bucket) keys; verification is an O(1) xor per candidate,
    applied BEFORE the pair dedup (r11) so the distinct exchange
    carries only verified pairs — at x100mut it previously carried
    every chance band collision (~212M rows with two 64-bit sigs
    each, the 41 s wall GATE_LOG r10 analyzes); the verified set is
    smaller by the corpus's failure rate and the rows are narrower
    (measured x100mut rows in GATE_LOG r11). Plan edited r11: holds
    r10 driver evidence of the filter-after-distinct plan; rides the
    r12 window for driver re-proof (the sim_ivf_multiprobe
    precedent)."""
    return simhash_pairs(spark, sf_dir)


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified SimHash near-dup pairs (doc_a, doc_b, hamming) — the
    edge set the composed purge pipeline consumes."""
    docs = load_table(spark, sf_dir, "documents")
    toks = textops.tokens_df(
        docs, partitions=spark.sparkContext.defaultParallelism
    )
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("h"),
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = hashed.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    # the band self-join below would otherwise recompute the whole
    # tokenize+md5+32-sum subtree once per side (self-join aliases
    # defeat exchange reuse); the signature frame is one long per doc
    sigs = sums.select("doc_id", sig.alias("sig")).persist()
    band_structs = [
        F.struct(
            F.lit(k).alias("band"),
            F.shiftright(F.col("sig"), k * 8).bitwiseAND(F.lit(255)).alias("bucket"),
        )
        for k in range(SIMHASH_BANDS)
    ]
    bands = sigs.select(
        "doc_id", "sig", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        # verify FIRST (a map-side xor on the join output), THEN
        # dedup the survivors: the same (doc_a, doc_b) colliding in
        # several bands has one deterministic hamming, so
        # filter-then-distinct is output-identical to the old
        # distinct-then-filter while shuffling only true near-dups
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


# --- embedding-cosine near-dup ---------------------------------------

EMB_COSINE_MIN = 0.3


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH emb AS (
        -- VARCHAR hop before the double cast: the engines' native
        -- decimal->double conversions differ by ~100 ulps (see
        -- similarity._dot); string->double parses identically
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(CAST(CAST(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                    x -> CAST(x * x AS DECIMAL(38,15)))) AS VARCHAR) AS DOUBLE)) AS norm
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(CAST(list_sum(list_transform(list_zip(a.emb, b.emb),
                x -> CAST(x[1] * x[2] AS DECIMAL(38,15)))) AS VARCHAR) AS DOUBLE)
               / (a.norm * b.norm) AS cosine
    FROM emb a JOIN emb b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE CAST(CAST(list_sum(list_transform(list_zip(a.emb, b.emb),
              x -> CAST(x[1] * x[2] AS DECIMAL(38,15)))) AS VARCHAR) AS DOUBLE)
              / (a.norm * b.norm) >= {EMB_COSINE_MIN}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with blocking: pairs are generated
    only within a blocking key (label — standing in for an LSH/IVF
    cell id) and kept when cosine >= {EMB_COSINE_MIN}. Scale: the
    self-join shuffles on the block key, so cost is sum of per-block
    squares, not corpus-squared; decimal accumulation keeps the score
    bit-identical across partitionings."""
    from .similarity import _dot, _embeddings

    emb = _embeddings(spark, sf_dir)
    a = emb.select(
        F.col("label").alias("blk"),
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = emb.select(
        F.col("label").alias("blk"),
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    # explode-as-barrier (r15, the ann_lsh_pairs note): keeps the
    # threshold pushdown from folding the decimal cosine into the
    # block-join condition, which evaluated it twice per candidate.
    return (
        a.join(b, ["blk"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.explode(
                F.array(
                    _dot(F.col("emb_a"), F.col("emb_b"))
                    / (F.col("norm_a") * F.col("norm_b"))
                )
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= EMB_COSINE_MIN)
    )


# --- train/test decontamination --------------------------------------

# Split thresholds match plans/text.py split_train_val_hash: the held
# -out set is the hash bucket >= 95; everything else may be trained on.
EVAL_PCT = 95
_SQL_DOC_PCT = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)


def _doc_pct() -> F.Column:
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )


@register(
    "decontam_ngram_overlap",
    oracle=f"""
    WITH shingles AS ({_SQL_SHINGLES}),
    split AS (SELECT doc_id, {_SQL_DOC_PCT} AS pct FROM documents),
    train_sh AS (
        SELECT DISTINCT shingle FROM shingles JOIN split USING (doc_id)
        WHERE pct < {EVAL_PCT}
    ),
    test_sh AS (
        SELECT shingles.doc_id, shingle FROM shingles JOIN split USING (doc_id)
        WHERE pct >= {EVAL_PCT}
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM test_sh GROUP BY doc_id),
    hits AS (
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM test_sh t JOIN train_sh tr USING (shingle)
        GROUP BY t.doc_id
    )
    SELECT s.doc_id, s.n_shingles,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           COALESCE(h.n_overlap, 0) * 1.0 / s.n_shingles AS contam_ratio,
           COALESCE(h.n_overlap, 0) > 0 AS contaminated
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    """,
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every held-out document, the
    count of its {textops.SHINGLE_N}-gram shingles that also appear
    anywhere in the training split (the standard n-gram-collision
    contamination check run before LLM evals). A single shared
    shingle flags the document.

    Scale: exactly TWO shuffles. The split is a pure hash of doc_id,
    so it computes map-side on the shingle frame (no documents join).
    One groupBy(shingle) then folds the whole check into a per-
    shingle row — did any train doc emit it, and which test-doc
    occurrences carry it — and a groupBy(doc_id) over the exploded
    test occurrences yields sizes, hits, and the left-join COALESCE
    in a single aggregate (the join-based twin pays the shingle
    shuffle three times: distinct, train probe, test probe). The
    per-shingle test-occurrence list is bounded by the EVAL split's
    size (the small side by construction, ~{100 - EVAL_PCT}% here;
    real decontam runs carry benchmark eval sets, far smaller still),
    so the fold cannot hot-spot the way a train-side list would. At
    100 TB both sides ship md5(shingle) keys against a materialized
    signature table, never text."""
    sh = _shingles_cached(spark, sf_dir)
    pct = _doc_pct()
    marked = sh.select(
        "shingle",
        (pct < EVAL_PCT).cast("int").alias("is_train"),
        F.when(pct >= EVAL_PCT, F.col("doc_id")).alias("test_doc"),
    )
    per_shingle = marked.groupBy("shingle").agg(
        F.max("is_train").alias("in_train"),
        F.collect_list("test_doc").alias("test_docs"),  # keeps multiplicity
    )
    occ = per_shingle.select(
        "in_train", F.explode("test_docs").alias("doc_id")
    )
    n_overlap = F.sum("in_train")
    return occ.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        n_overlap.alias("n_overlap"),
        (n_overlap * F.lit(1.0) / F.count("*")).alias("contam_ratio"),
        (n_overlap > 0).alias("contaminated"),
    )


def _estimator_oracle_sql() -> str:
    k = textops.MINHASH_K
    agree = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return f"""
    WITH {_SQL_PAIR_JACCARD},
    sigs AS (
        SELECT doc_id,
           {textops.sql_minhash_aggs()}
        FROM shingles GROUP BY doc_id
    ),
    bands AS (
        {textops.sql_band_selects('sigs')}
    ),
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           ({agree}) / {k}.0 AS est_jaccard,
           COALESCE(pj.jaccard, 0.0) AS exact_jaccard,
           ABS(({agree}) / {k}.0 - COALESCE(pj.jaccard, 0.0)) AS abs_err
    FROM candidates c
    JOIN sigs a ON a.doc_id = c.doc_a
    JOIN sigs b ON b.doc_id = c.doc_b
    LEFT JOIN pair_jaccard pj
           ON pj.doc_a = c.doc_a AND pj.doc_b = c.doc_b
    """


@register("dedup_minhash_estimator_quality", oracle=_estimator_oracle_sql())
def dedup_minhash_estimator_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator audit: for every LSH candidate pair, the
    signature-agreement estimate of Jaccard (fraction of the k
    min-hashes equal — the unbiased estimator banded LSH is built
    on) next to the exact shingle Jaccard and their absolute error.
    This is the calibration readout for choosing (k, bands): the
    error column shows directly how tight k hashes bound the
    estimate on THIS corpus (stderr ~ sqrt(J(1-J)/k)). Scale: the
    estimate costs an equality fold over the two signatures already
    in hand (no shingle access); only the exact column touches
    shingles, semi-join-reduced to candidate docs — on a 100 TB
    corpus you run the audit on a candidate sample and drop the
    exact column from the hot path entirely."""
    k = textops.MINHASH_K
    sh = _shingles_cached(spark, sf_dir)
    sigs = sh.groupBy("doc_id").agg(*textops.minhash_agg_cols(k))
    bands_df = sigs.select(
        "doc_id", F.explode(F.array(*textops.band_cols(k))).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a, b = bands_df.alias("a"), bands_df.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .persist()  # lazy (r8): est/verify/semi-reduction consumers
        # share the first job's cache fill; the eager count() paid an
        # extra job launch (same conversion as the r7 headline entries)
    )
    agree = sum(
        (F.col(f"sa.h{i}") == F.col(f"sb.h{i}")).cast("int") for i in range(k)
    )
    est = (
        candidates.join(sigs.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sigs.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", (agree / F.lit(float(k))).alias("est_jaccard"))
    )
    # shuffle_hash on the verification joins — the minhash_lsh_pairs
    # rationale and fallback note apply verbatim (r15)
    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select("doc_b"))
        .distinct()
        .hint("shuffle_hash")
    )
    cand_sh = sh.join(cand_docs, "doc_id", "left_semi")
    sizes = cand_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    sa, sb = cand_sh.alias("a"), cand_sh.alias("b")
    overlap = (
        sa.join(
            sb.hint("shuffle_hash"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    exact = (
        overlap.join(za, F.col("doc_a") == F.col("za.doc_id"))
        .join(zb, F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                * F.lit(1.0)
                / (F.col("za.n_shingles") + F.col("zb.n_shingles") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return (
        est.join(exact.hint("shuffle_hash"), ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.coalesce("jaccard", F.lit(0.0)).alias("exact_jaccard"),
            F.abs(
                F.col("est_jaccard") - F.coalesce("jaccard", F.lit(0.0))
            ).alias("abs_err"),
        )
    )


# --- dedup_containment_ngram ------------------------------------------

# keep pairs whose smaller shingle set is >= 80% inside the overlap
CONTAINMENT_PPM = 800_000
# a pair this symmetric is an ordinary near-dup, not a containment
NEAR_DUP_J_PPM = 800_000

_SQL_CONTAINMENT_PAIRS = f"""
    shingles AS ({textops.sql_shingles('documents')}),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
        FROM shingles GROUP BY doc_id
    ),
    overlap AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM shingles a
        JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
        SELECT o.doc_a, o.doc_b,
               sa.n_sh AS n_a, sb.n_sh AS n_b, o.n_common,
               (1000000 * o.n_common) // LEAST(sa.n_sh, sb.n_sh)
                   AS containment_ppm,
               (1000000 * o.n_common) // (sa.n_sh + sb.n_sh - o.n_common)
                   AS jaccard_ppm
        FROM overlap o
        JOIN sizes sa ON o.doc_a = sa.doc_id
        JOIN sizes sb ON o.doc_b = sb.doc_id
    )
"""


@register(
    "dedup_containment_ngram",
    oracle=f"""
    WITH {_SQL_CONTAINMENT_PAIRS}
    SELECT doc_a, doc_b, n_a, n_b, n_common, containment_ppm, jaccard_ppm,
           CASE WHEN jaccard_ppm >= {NEAR_DUP_J_PPM} THEN 'near_dup'
                ELSE 'containment' END AS relation,
           CASE WHEN n_a < n_b THEN doc_a
                WHEN n_b < n_a THEN doc_b
                ELSE doc_a END AS contained_doc_id
    FROM scored
    WHERE containment_ppm >= {CONTAINMENT_PPM}
    """,
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs by exact 5-token-shingle overlap:
    C = |A∩B| / min(|A|,|B|) >= 0.8, classified ``near_dup`` when the
    Jaccard is also >= 0.8 (symmetric duplicate — dedup_minhash_lsh
    territory) vs ``containment`` (the quote/superset case Jaccard
    structurally under-scores: J <= C * min/max). The contained side
    is the smaller shingle set (tie -> doc_a, which is always the
    smaller id).

    All arithmetic is integer (counts and ppm integer division), so
    the cross-engine hash gate applies exactly — the house rule that
    keeps float rounding out of comparison columns.

    Scale: identical shape to dedup_ngram_jaccard — the shingle
    equi-join is the only corpus-sized shuffle and its pair fan-out
    is bounded by shared-shingle frequency (near-linear for natural
    text); sizes join back on doc ids. At 100 TB the production
    parameterization samples shingles by hash mod p on BOTH sides of
    the ratio (containment stays estimable under DIVIDE-style
    sampling because numerator and denominator sample identically);
    the registered default keeps the exact semantics the oracle can
    verify. The corpus is never pair-joined in full."""
    sh = _shingles_cached(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    # shuffle_hash on the self-join build side (r16; the
    # dedup_minhash_lsh verification-join precedent): past the
    # broadcast threshold the planner picks SMJ, which sorts BOTH
    # shingle sides per partition — hashing one side instead measured
    # 5.6-6.2 -> 3.3-4.3 s at x100mut (14.5M shingles, identical
    # 237k output rows) and parity at sf0.1 (where the un-hinted plan
    # broadcasts anyway). The hint is honored unconditionally (no
    # size fallback, no AQE demotion): the per-task build is one
    # partition of the shingle frame, bounded by the width sizing
    # (scale-adaptive locally, AQE advisory-size ceiling on cluster),
    # and SMJ remains one hint-removal away for a deployment whose
    # partitions outgrow that.
    overlap = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    scored = (
        overlap.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.col("sa.n_sh").alias("n_a"),
            F.col("sb.n_sh").alias("n_b"),
            "n_common",
            F.expr("(1000000 * n_common) div least(sa.n_sh, sb.n_sh)").alias(
                "containment_ppm"
            ),
            F.expr(
                "(1000000 * n_common) div (sa.n_sh + sb.n_sh - n_common)"
            ).alias("jaccard_ppm"),
        )
    )
    return scored.filter(F.col("containment_ppm") >= CONTAINMENT_PPM).select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_b",
        "n_common",
        "containment_ppm",
        "jaccard_ppm",
        F.when(F.col("jaccard_ppm") >= NEAR_DUP_J_PPM, F.lit("near_dup"))
        .otherwise(F.lit("containment"))
        .alias("relation"),
        F.when(F.col("n_a") < F.col("n_b"), F.col("doc_a"))
        .when(F.col("n_b") < F.col("n_a"), F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("contained_doc_id"),
    )
