"""Text-analysis operators over the ``documents`` corpus.

The four text primitives a training-data pipeline needs — token
counting, quality scoring, language identification, and document
fingerprinting — each as a pure-Catalyst plan (no Python UDFs: every
expression is JVM-side and codegen-able) with a DuckDB oracle.

Scale notes: all four are embarrassingly parallel map-side transforms
(tokenize -> per-doc aggregate); the only shuffles are the per-doc
groupBys, which partition on doc_id and combine map-side. At 100 TB
none of these operators ever joins the corpus against itself.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import textops
from ..tables import load_table
from . import register
from .common import _swap_persisted

# BPE-ish tokenizer: letter runs, digit runs, or single punctuation
# marks — the classic pre-tokenization split used before byte-pair
# merges. Identical regex semantics in Java (Spark) and RE2 (DuckDB).
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

# Stopword profiles for the n-gram/stopword language heuristic.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "to", "and", "is", "in"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "de", "et", "est"],
}

EN_STOPWORDS = LANG_PROFILES["en"]

FP_GRAM = 4  # tokens per fingerprint k-gram
FP_WINDOW = 5  # winnowing window (k-grams per window)


@register(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '{BPE_RE}')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, whitespace + BPE-ish regex pre-tokenization.
    Scale: pure map-side projection, no shuffle; both counts are
    single-pass JVM regex ops."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.split(textops.norm_text(F.col("text")), " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(lower(text), '{BPE_RE}', 0)"))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


def _quality_cols(text: Column) -> list[Column]:
    norm = textops.norm_text(text)
    toks = F.split(norm, " ")
    n_chars = F.length(text).cast("long")
    n_tokens = F.size(toks).cast("long")
    alnum_chars = F.length(F.regexp_replace(F.lower(text), "[^a-z0-9]", "")).cast("long")
    mean_tok_len = F.length(F.regexp_replace(norm, " ", "")).cast("double") / n_tokens
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    return [
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        (alnum_chars.cast("double") / n_chars).alias("alnum_ratio"),
        mean_tok_len.alias("mean_tok_len"),
        (n_uniq.cast("double") / n_tokens).alias("uniq_ratio"),
    ]


_SQL_QUALITY_BASE = """
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
               CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT)
                   / CAST(length(text) AS BIGINT) AS alnum_ratio,
               CAST(length(replace(norm, ' ', '')) AS BIGINT) / CAST(len(toks) AS BIGINT) AS mean_tok_len,
               CAST(len(list_distinct(toks)) AS BIGINT) / CAST(len(toks) AS BIGINT) AS uniq_ratio
        FROM (
            SELECT doc_id, text,
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm,
                   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
            FROM documents
        ) d
"""


@register(
    "text_quality_score",
    oracle=f"""
    WITH base AS ({_SQL_QUALITY_BASE}),
    stop_hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_stop
        FROM ({textops.sql_tokens('documents')}) t
        WHERE tok IN ({','.join(repr(w) for w in EN_STOPWORDS)})
        GROUP BY doc_id
    )
    SELECT base.doc_id, n_chars, n_tokens, n_uniq_tokens, alnum_ratio,
           mean_tok_len, uniq_ratio,
           COALESCE(n_stop, 0) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
           CASE WHEN n_chars >= 100 AND n_tokens >= 20 AND uniq_ratio >= 0.3
                 AND mean_tok_len >= 2.0 AND mean_tok_len <= 12.0
                THEN TRUE ELSE FALSE END AS is_quality
    FROM base LEFT JOIN stop_hits ON base.doc_id = stop_hits.doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length / uniqueness / token-shape /
    stopword-density features plus a boolean gate — the standard
    C4/Gopher-style filter family. Scale: one map-side projection
    plus a map-side-combined token aggregate; no corpus self-join."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", *_quality_cols(F.col("text")))
    stop_hits = (
        textops.tokens_df(docs)
        .filter(F.col("tok").isin(EN_STOPWORDS))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_stop"))
    )
    joined = base.join(stop_hits, "doc_id", "left")
    is_quality = (
        (F.col("n_chars") >= 100)
        & (F.col("n_tokens") >= 20)
        & (F.col("uniq_ratio") >= 0.3)
        & (F.col("mean_tok_len") >= 2.0)
        & (F.col("mean_tok_len") <= 12.0)
    )
    return joined.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_uniq_tokens",
        "alnum_ratio",
        "mean_tok_len",
        "uniq_ratio",
        (F.coalesce(F.col("n_stop"), F.lit(0)).cast("double") / F.col("n_tokens")).alias(
            "stopword_ratio"
        ),
        is_quality.alias("is_quality"),
    )


def _sql_profile_values() -> str:
    rows = [
        f"('{lang}', '{w}')" for lang, words in sorted(LANG_PROFILES.items()) for w in words
    ]
    return ", ".join(rows)


@register(
    "text_language_id",
    oracle=f"""
    WITH profiles(lang, word) AS (VALUES {_sql_profile_values()}),
    hits AS (
        SELECT t.doc_id, p.lang, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM ({textops.sql_tokens('documents')}) t
        JOIN profiles p ON t.tok = p.word
        GROUP BY t.doc_id, p.lang
    ),
    best AS (
        SELECT doc_id, lang, n_hits,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, lang) AS rnk
        FROM hits
    )
    SELECT d.doc_id,
           COALESCE(b.lang, 'und') AS detected_lang,
           COALESCE(b.n_hits, 0) AS n_hits
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rnk = 1) b ON d.doc_id = b.doc_id
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification via stopword-profile hit counting
    (the n-gram-heuristic family): tokens join a tiny (lang, word)
    profile table, argmax hits per doc, 'und' when nothing matches.
    Scale: the profile table broadcasts; one groupBy on (doc, lang)
    with map-side combine; the corpus is never self-joined."""
    # r15: pure map-side rewrite. The former plan exploded every token
    # (posexplode -> row volume = token count), broadcast-joined the
    # profile table, paid a (doc, lang) aggregation exchange, a window
    # exchange for the per-doc argmax, and a corpus-side SortMergeJoin
    # to re-attach 'und' docs — 4 Exchanges total. Per-doc profile-hit
    # counting is a higher-order-function fold over the SAME token
    # array (split(norm_text) — identical tokenizer), and the argmax
    # over a CONSTANT set of languages is a greatest + first-match
    # CASE with the same (n_hits DESC, lang ASC) tie-break, so the
    # whole query is one projection over the scan: zero Exchanges,
    # zero joins, and at scale the token-explosion shuffle is gone.
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(textops.norm_text(F.col("text")), " ")
    langs = sorted(LANG_PROFILES)  # ASC — the window's tie-break order
    counts = {
        lang: F.coalesce(
            F.size(F.filter(toks, lambda t: t.isin(*LANG_PROFILES[lang]))),
            F.lit(0),
        ).cast("long")
        for lang in langs
    }
    # two-level Project: each count column is referenced several times
    # below (greatest + both CASE chains), and CollapseProject's
    # multi-reference guard keeps the levels separate, so every token
    # fold runs exactly once per row instead of once per reference
    counted = docs.select(
        "doc_id", *[counts[lang].alias(f"_c_{lang}") for lang in langs]
    )
    ccols = {lang: F.col(f"_c_{lang}") for lang in langs}
    best = F.greatest(*ccols.values())
    detected = F.lit("und")
    for lang in reversed(langs):  # build the ASC-first-match chain
        detected = F.when(ccols[lang] == best, F.lit(lang)).otherwise(detected)
    return counted.select(
        "doc_id",
        F.when(best > 0, detected).otherwise(F.lit("und")).alias("detected_lang"),
        F.when(best > 0, best).otherwise(F.lit(0).cast("long")).alias("n_hits"),
    )


@register(
    "text_fingerprint_winnow",
    oracle=f"""
    WITH toks AS ({textops.sql_tokens('documents')}),
    grams AS (
        SELECT doc_id, pos,
               CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h
        FROM (
            SELECT doc_id, pos,
                   tok || ' ' || lead(tok, 1) OVER w || ' ' ||
                   lead(tok, 2) OVER w || ' ' || lead(tok, 3) OVER w AS gram
            FROM toks
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ) g WHERE gram IS NOT NULL
    ),
    winmins AS (
        SELECT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {FP_WINDOW - 1} FOLLOWING) AS fp
        FROM grams
    )
    SELECT doc_id,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fingerprints,
           MIN(fp) AS min_fp, MAX(fp) AS max_fp
    FROM winmins
    GROUP BY doc_id
    """,
)
def text_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by winnowing: rolling 32-bit hashes of
    4-token grams, minimum per sliding window of {FP_WINDOW}, distinct
    mins form the fingerprint set (reported as count + min/max — the
    MOSS scheme). Scale: two window passes over tokens partitioned by
    doc_id, one shuffle total; fingerprints shrink each doc to a few
    ints, which is what makes downstream overlap detection cheap."""
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    toks = textops.tokens_df(docs, partitions=n)
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram_parts: list[Column] = [F.col("tok")]
    for i in range(1, FP_GRAM):
        gram_parts += [F.lit(" "), F.lead("tok", i).over(w)]
    grams = toks.select(
        "doc_id",
        "pos",
        F.concat(*gram_parts).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    grams = grams.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long").alias("h"),
    )
    w_win = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, FP_WINDOW - 1)
    )
    winmins = grams.select("doc_id", F.min("h").over(w_win).alias("fp"))
    return winmins.groupBy("doc_id").agg(
        F.countDistinct("fp").alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


@register(
    "text_norm_pandas_udf",
    oracle=f"""
    SELECT doc_id,
           {textops.SQL_NORM.format(col='text')} AS norm_text,
           CAST(length({textops.SQL_NORM.format(col='text')}) AS BIGINT) AS norm_len
    FROM documents
    """,
)
def text_norm_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Pandas UDF (Arrow-vectorized) computing the same text
    normalization as the JVM expression — registered to exercise the
    @pandas_udf API surface and prove semantic equivalence (the
    oracle is the pure-SQL form). In the hot path the JVM expression
    always wins (textops.norm_text); this is the pattern for logic
    that genuinely needs a Python library. Scale: Arrow batches,
    one Python crossing per ~10k rows, pipeline stays map-side."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def norm_udf(s: pd.Series) -> pd.Series:
        return (
            s.str.lower()
            .str.replace(r"[^a-z0-9]+", " ", regex=True)
            .str.strip()
        )

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        norm_udf(F.col("text")).alias("norm_text"),
        F.length(norm_udf(F.col("text"))).cast("long").alias("norm_len"),
    )


# --- corpus curation: sampling, splitting, packing, n-gram stats -----

# deterministic per-doc hash bucket in [0, 100) — md5 of the id, not
# rand(): reproducible across runs, cluster layouts, and engines
_HASH_PCT = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)


def _hash_pct(col: Column | None = None) -> Column:
    col = F.col("doc_id") if col is None else col
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )


# per-source keep rates: up-sample books-like sources, down-sample web
SAMPLE_RATES = {"web": 30, "news": 50, "wiki": 80}
SAMPLE_DEFAULT = 60


@register(
    "sample_stratified_hash",
    oracle=f"""
    SELECT doc_id, source
    FROM documents
    WHERE {_HASH_PCT} < CASE source
        WHEN 'web' THEN {SAMPLE_RATES['web']}
        WHEN 'news' THEN {SAMPLE_RATES['news']}
        WHEN 'wiki' THEN {SAMPLE_RATES['wiki']}
        ELSE {SAMPLE_DEFAULT} END
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling with per-source rates, decided by a
    deterministic md5 bucket of the doc id — the scalable form of
    sampleBy: no RNG state, re-runs and retried tasks keep identical
    rows, and the mixture is auditable. Scale: pure map-side filter,
    no shuffle; rates change data mixtures (the core of training-data
    curation) without materializing per-source tables."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("source") == "web", SAMPLE_RATES["web"])
    for src, pct in list(SAMPLE_RATES.items())[1:]:
        rate = rate.when(F.col("source") == src, pct)
    rate = rate.otherwise(SAMPLE_DEFAULT)
    return docs.filter(_hash_pct() < rate).select("doc_id", "source")


@register(
    "split_train_val_hash",
    oracle=f"""
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT n_chars,
               CASE WHEN {_HASH_PCT} < 90 THEN 'train'
                    WHEN {_HASH_PCT} < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ) s GROUP BY split
    """,
)
def split_train_val_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by id hash: a doc's
    split never changes as the corpus grows (contamination-safe),
    unlike randomSplit whose assignment depends on partition layout.
    Scale: map-side bucket + one combine-heavy groupBy of 3 keys."""
    docs = load_table(spark, sf_dir, "documents")
    pct = _hash_pct()
    split = (
        F.when(pct < 90, "train").when(pct < 95, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


PACK_BUDGET = 2048  # tokens per packed sequence
PACK_SHARDS = 16


@register(
    "docs_pack_sequences",
    oracle=f"""
    WITH counted AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT) % {PACK_SHARDS} AS shard,
               CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    packed AS (
        SELECT shard, n_tok,
               CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tok) / {PACK_BUDGET}) AS BIGINT) AS bin_in_shard
        FROM counted
    )
    SELECT shard, bin_in_shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM packed GROUP BY shard, bin_in_shard
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: greedy contiguous fill of {PACK_BUDGET}-token
    bins, sharded so the running-sum window parallelizes (each shard
    packs independently — exactly how distributed LLM pipelines pack:
    global greedy packing is inherently sequential, per-shard packing
    is embarrassingly parallel with <=1 underfull bin per shard).
    The bin id is floor(prefix_sum_before_doc / budget). Scale: one
    shuffle on the shard key; window + both aggregates reuse it."""
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10)
            .cast("long")
            % PACK_SHARDS
        ).alias("shard"),
        F.size(F.split(textops.norm_text(F.col("text")), " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = counted.select(
        "shard",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / PACK_BUDGET)
        .cast("long")
        .alias("bin_in_shard"),
    )
    return packed.groupBy("shard", "bin_in_shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )


NGRAM_TOPK = 20


@register(
    "text_bigram_topk",
    oracle=f"""
    WITH toks AS ({textops.sql_tokens('documents')}),
    bigrams AS (
        SELECT doc_id, tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        FROM toks
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bigrams WHERE bigram IS NOT NULL
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT {NGRAM_TOPK}
    """,
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-{NGRAM_TOPK} bigrams (the n-gram statistics
    pass of corpus analysis). Scale: bigrams form map-side via a
    per-doc window (doc_id partitioning, no global sort of raw
    bigrams); the count groupBy combines map-side and the top-k is a
    TakeOrderedAndProject, not a full sort. Deterministic tiebreak on
    the bigram itself."""
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    toks = textops.tokens_df(docs, partitions=n)
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = toks.select(
        F.concat_ws(" ", "tok", F.lead("tok").over(w)).alias("bigram"),
        F.lead("tok").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(NGRAM_TOPK)
    )


@register(
    "text_token_rarity",
    oracle=f"""
    WITH toks AS ({textops.sql_tokens('documents')}),
    freqs AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks GROUP BY tok
    ),
    scored AS (
        SELECT t.doc_id,
               1.0 / f.n_tok AS rarity
        FROM toks t JOIN freqs f ON t.tok = f.tok
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(FLOOR(rarity * 1000000000) AS BIGINT)) AS DOUBLE)
               / 1000000000 / COUNT(*) AS mean_rarity
    FROM scored GROUP BY doc_id
    """,
)
def text_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-rarity quality signal: mean inverse corpus frequency of
    a document's tokens — the deterministic stand-in for the
    perplexity filter LLM pipelines run (true log-prob scoring needs
    ln(), whose last-ulp behavior differs across libm builds and
    would poison the hash gate; 1/count is an exact double in both
    engines and the mean aggregates scaled longs). High scores flag
    documents dominated by rare/garbage tokens; low scores flag
    boilerplate. Scale: corpus frequencies are one map-side-combined
    groupBy; the scoring join broadcasts nothing and shuffles on the
    token key, then one combine per doc."""
    docs = load_table(spark, sf_dir, "documents")
    toks = textops.tokens_df(docs)
    freqs = toks.groupBy("tok").agg(F.count("*").alias("n_tok"))
    scored = toks.join(freqs, "tok").select(
        "doc_id", (F.lit(1.0) / F.col("n_tok")).alias("rarity")
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        (
            F.sum(F.floor(F.col("rarity") * 1000000000).cast("long")).cast("double")
            / 1000000000
            / F.count("*")
        ).alias("mean_rarity"),
    )


REPETITION_FLAG = 0.2  # duplicate-bigram fraction above which a doc is flagged


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH toks AS ({textops.sql_tokens('documents')}),
    bigrams AS (
        SELECT doc_id, tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        FROM toks
    )
    SELECT doc_id,
           CAST(COUNT(bigram) AS BIGINT) AS n_bigrams,
           CAST(COUNT(DISTINCT bigram) AS BIGINT) AS n_distinct,
           1.0 - COUNT(DISTINCT bigram) * 1.0 / COUNT(bigram) AS dup_ratio,
           (1.0 - COUNT(DISTINCT bigram) * 1.0 / COUNT(bigram)) > {REPETITION_FLAG} AS repetitive
    FROM bigrams
    WHERE bigram IS NOT NULL
    GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: the fraction of duplicate
    bigrams per document (1 - distinct/total). Boilerplate, spam, and
    degenerate generations repeat n-grams far above natural prose;
    docs over {REPETITION_FLAG} are flagged. The ratio is a division
    of two exact longs, so both engines produce the identical double.
    Scale: one shuffle on doc_id shared by the bigram window and the
    per-doc aggregate; COUNT(DISTINCT) expands within the same
    partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    toks = textops.tokens_df(
        docs, partitions=docs.sparkSession.sparkContext.defaultParallelism
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = toks.select(
        "doc_id",
        F.concat(F.col("tok"), F.lit(" "), F.lead("tok", 1).over(w)).alias("bigram"),
    ).filter(F.col("bigram").isNotNull())
    dup_ratio = 1.0 - F.countDistinct("bigram") * F.lit(1.0) / F.count("bigram")
    return bigrams.groupBy("doc_id").agg(
        F.count("bigram").alias("n_bigrams"),
        F.countDistinct("bigram").alias("n_distinct"),
        dup_ratio.alias("dup_ratio"),
        (dup_ratio > REPETITION_FLAG).alias("repetitive"),
    )


# PII-style masking: digit runs are the only deterministic PII-shaped
# tokens present in the synthetic corpus; emails/phones would use the
# same plan with richer patterns. '[0-9]+' (not '\\d') pins identical
# semantics in Java regex (Spark) and RE2 (DuckDB).
MASK_RE = "[0-9]+"
MASK_TOKEN = "<NUM>"


@register(
    "text_mask_numbers",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{MASK_RE}')) AS BIGINT) AS n_masked,
           md5(regexp_replace(text, '{MASK_RE}', '{MASK_TOKEN}', 'g')) AS masked_hash,
           CAST(length(regexp_replace(text, '{MASK_RE}', '{MASK_TOKEN}', 'g')) AS BIGINT) AS masked_len
    FROM documents
    """,
)
def text_mask_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing plumbing: replace every digit run with a
    mask token, counting replacements per document — the exact plan
    shape (regexp_count + global regexp_replace, all JVM-side) that a
    real pipeline points at email/phone/SSN patterns. The masked text
    is compared by md5 so the gate hashes stay small. Scale: pure
    map-side transform, no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    masked = F.regexp_replace(F.col("text"), MASK_RE, MASK_TOKEN)
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(MASK_RE)).cast("long").alias("n_masked"),
        F.md5(masked).alias("masked_hash"),
        F.length(masked).cast("long").alias("masked_len"),
    )


# --- TF-IDF-style characteristic terms --------------------------------

TFIDF_TOPK = 3


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH toks AS ({textops.sql_tokens('documents')}),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    scored AS (
        SELECT t.doc_id, t.tok, t.tf, d.df,
               CAST(t.tf AS DOUBLE) / d.df AS score
        FROM tf t JOIN dfreq d ON t.tok = d.tok
    )
    SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok, tf, df, score
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, tok
        ) AS rnk
        FROM scored
    ) r WHERE rnk <= {TFIDF_TOPK}
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic terms per document: top-{TFIDF_TOPK} tokens by
    tf weighted against document frequency — the tf-idf family signal
    a curation pipeline uses for topic tagging and boilerplate
    spotting. The weight is the rational tf/df (one IEEE division,
    bit-identical across engines) rather than a log-idf, so ranking
    and the hash gate are engine-deterministic; ties break on the
    token itself.

    Scale: tf is one map-side-combined shuffle on (doc_id, tok); df
    reduces the tf frame again on tok (vocabulary-sized partial rows,
    no second corpus scan); the df join back to tf broadcasts the
    vocabulary (plan-verified at the bench SF) and the per-doc window
    then rides tf's doc_id clustering with no further exchange.

    The tok-keyed Zipf-head skew this join would develop if the
    vocabulary ever outgrew the broadcast threshold (the planner
    flips to SMJ on tok) was attacked in r16 with an exact hot/tail
    vocabulary split (guide §2.5: broadcast the self-bounded df-head,
    anti-join-prefilter the tail) — implemented, oracle-gated at all
    three SFs, and REVERTED on measurement: the split's extra tf
    passes and dfreq builds cost +25% at sf0.1 and +120% at x100mut
    even in a forced-SMJ regime, while in every reachable regime the
    single join broadcasts, and on the cluster profile (AQE on) the
    skew-join splitter already handles an oversized tok partition by
    duplicating the one-row build side. Evidence:
    OPTIMIZATION_r16.md opt-2,
    plans/r16/text_tfidf_topk_rejected_split.txt."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        textops.tokens_df(docs, partitions=spark.sparkContext.defaultParallelism)
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, "tok").select(
        "doc_id",
        "tok",
        "tf",
        "df",
        (F.col("tf").cast("double") / F.col("df")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TFIDF_TOPK)
        .select("doc_id", "rnk", "tok", "tf", "df", "score")
    )


# --- per-source curation report ---------------------------------------


@register(
    "source_curation_report",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE)
               / COUNT(*) AS dup_rate,
           CAST(SUM(CAST(len(string_split(trim(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT)) AS BIGINT)
               AS total_tokens,
           CAST(SUM(CAST(length(text) AS BIGINT)) AS DOUBLE) / COUNT(*)
               AS mean_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    GROUP BY source
    """,
)
def source_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report — the rollup a curation
    pipeline runs before deciding per-source mixture weights: volume
    (docs, tokens), exact-duplicate rate (content-hash distinct),
    size profile, and language spread. All measures are counts and
    single divisions of counts, so the result is engine-deterministic
    and oracle-checked. Scale: one corpus scan; md5 computes
    map-side; the per-source COUNT(DISTINCT hash) expands within the
    source partitioning (partial distinct map-side); no second
    scan — at 100 TB this is strictly cheaper than the dedup job it
    gates."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = F.count("*")
    n_unique = F.count_distinct(F.md5("text"))
    toks = F.size(F.split(textops.norm_text(F.col("text")), " ")).cast("long")
    return docs.groupBy("source").agg(
        n_docs.alias("n_docs"),
        n_unique.alias("n_unique_texts"),
        ((n_docs - n_unique).cast("double") / n_docs).alias("dup_rate"),
        F.sum(toks).alias("total_tokens"),
        (F.sum(F.length("text").cast("long")).cast("double") / n_docs).alias(
            "mean_chars"
        ),
        F.count_distinct("lang").alias("n_langs"),
    )


# --- RAG / context chunking ------------------------------------------

CHUNK_TOKENS = 32  # tokens per chunk
CHUNK_STRIDE = 24  # start-to-start distance (overlap = 32 - 24 = 8)


@register(
    "docs_chunk_overlap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id, toks,
               greatest(1, CAST(ceil((len(toks) - {CHUNK_TOKENS - CHUNK_STRIDE})
                                     / {CHUNK_STRIDE}.0) AS INT)) AS nch
        FROM t
    ),
    u AS (
        SELECT doc_id, toks, unnest(range(0, nch)) AS gs FROM s
    )
    SELECT doc_id,
           CAST(gs AS INT) AS chunk_idx,
           array_to_string(
               list_slice(toks, gs * {CHUNK_STRIDE} + 1,
                          gs * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' '
           ) AS chunk_text,
           CAST(len(list_slice(toks, gs * {CHUNK_STRIDE} + 1,
                               gs * {CHUNK_STRIDE} + {CHUNK_TOKENS})) AS INT)
               AS n_tokens
    FROM u
    """,
)
def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking with token overlap — the
    retrieval/context-window prep step of an LLM data pipeline: each
    document becomes ceil((n_tokens - overlap) / stride) chunks of at
    most CHUNK_TOKENS whitespace tokens, consecutive chunks sharing
    CHUNK_TOKENS - CHUNK_STRIDE tokens so no boundary sentence is
    ever split across chunks without a copy that contains it whole.

    Scale: pure map-side — tokenize, sequence() the chunk starts,
    explode, slice — no shuffle at all, so the operator streams
    through a 100 TB corpus at scan speed and parallelizes per input
    split. The explode fan-out (~n/stride rows per doc) happens
    after column pruning, so only (doc_id, toks) is amplified.
    Chunk boundaries are deterministic functions of the token count,
    giving a stable chunk_id = (doc_id, chunk_idx) key for
    downstream embedding + ANN indexing."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    nch = F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(CHUNK_TOKENS - CHUNK_STRIDE)) / F.lit(float(CHUNK_STRIDE)))
        .cast("int"),
    )
    starts = F.sequence(F.lit(0), (nch - F.lit(1)) * CHUNK_STRIDE, F.lit(CHUNK_STRIDE))
    exploded = docs.select(
        "doc_id", toks.alias("toks"), F.explode(starts).alias("start")
    )
    piece = F.slice(F.col("toks"), F.col("start") + 1, CHUNK_TOKENS)
    return exploded.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("n_tokens"),
    )


# --- feature-hashing document vectors --------------------------------

HASH_DIM = 16  # hashing-trick vector dimensionality


@register(
    "docs_embed_hash",
    oracle=f"""
    WITH toks AS ({{SQL_TOKENS}}),
    hashed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
        FROM toks WHERE tok <> ''
    )
    SELECT doc_id,
           CAST(h % {HASH_DIM} AS INT) AS dim,
           CAST(SUM(CASE WHEN (h >> 31) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT)
               AS weight
    FROM hashed
    GROUP BY doc_id, h % {HASH_DIM}
    """.format(SQL_TOKENS=textops.sql_tokens("documents")),
)
def docs_embed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (the hashing trick): each token maps to
    a bucket (md5 low bits mod dim) with a +/-1 sign drawn from an
    independent hash bit, and the document vector is the per-bucket
    signed count — the classic no-vocabulary, no-training path from
    text to fixed-width vectors, feeding the same ANN/k-means stack
    the embeddings table does. Signs make the estimator unbiased
    (Weinberger et al., ICML'09); weights stay integers so the result
    is engine-exact (downstream consumers L2-normalize).

    Scale: tokenize + hash are map-side; the only shuffle is the
    (doc_id, dim) rollup, which partial-aggregates map-side down to
    at most HASH_DIM rows per document regardless of document length.
    Vocabulary never materializes anywhere — the operator is
    stateless and embarrassingly parallel, unlike dictionary-based
    vectorizers that need a fitted vocabulary broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    toks = textops.tokens_df(
        docs, partitions=spark.sparkContext.defaultParallelism
    )
    hashed = toks.filter(F.col("tok") != "").select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("h"),
    )
    # sign comes from the TOP bit of the 32-bit hash so it stays
    # independent of the bucket (= low bits) for any HASH_DIM up to
    # 2^31 — a low sign bit would collide with the bucket index as
    # soon as HASH_DIM grows past it, skewing signs within buckets
    sign = F.when(
        F.shiftright(F.col("h"), 31).bitwiseAND(F.lit(1)) == 1, 1
    ).otherwise(-1)
    return (
        hashed.select(
            "doc_id", (F.col("h") % HASH_DIM).cast("int").alias("dim"), sign.alias("s")
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").alias("weight"))
    )


SPAN_N = 3  # tokens per span for duplicated-span measurement


@register(
    "text_dup_span_ratio",
    oracle=f"""
    WITH sh AS ({textops.sql_shingles('documents', n=SPAN_N)}),
    cnt AS (SELECT shingle, COUNT(*) AS n_docs FROM sh GROUP BY shingle)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS dup_span_ratio
    FROM sh JOIN cnt USING (shingle)
    GROUP BY doc_id
    """,
)
def text_dup_span_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span fraction per document: the
    share of a doc's distinct {SPAN_N}-token spans that appear
    verbatim in at least one OTHER document — the n-gram-granular
    form of exact-substring dedup (the public "dedup training data
    by repeated substrings" recipe), used to flag boilerplate-heavy
    docs that near-dup methods miss because the rest of the doc
    differs. Scale: the distinct-span inventory is built ONCE — the
    construction (doc_id window + per-doc distinct + md5 digest) sits
    below an explicit digest repartition whose shuffle files both
    consumers read back (ReusedExchange: the per-span doc counts and
    the join probe — the docs_exact_substring_purge rewrite, r9), so
    the window pass never re-evaluates and the count join is
    co-partitioned shuffled-hash (no join-time exchange, no
    corpus-sized sort); the final per-doc agg re-clusters on doc_id.
    Nothing joins the corpus to itself. (A doc's own repeats don't
    count: spans are per-doc DISTINCT, so n_docs > 1 requires a
    second document. The digest is collision-safe to 2^64 distinct
    spans; the oracle keys on raw span text.)"""
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    sh = (
        textops.shingles_df(docs, n=SPAN_N, partitions=n)
        .select("doc_id", F.md5("shingle").alias("shingle"))
        .repartition(n, "shingle")
    )
    cnt = sh.groupBy("shingle").agg(F.count("*").alias("n_docs")).hint(
        "shuffle_hash"
    )
    dup = F.when(F.col("n_docs") > 1, 1).otherwise(0)
    return (
        sh.join(cnt, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(dup).alias("n_dup_spans"),
            (F.sum(dup).cast("double") / F.count("*")).alias("dup_span_ratio"),
        )
    )


# Exact-substring purge span length. The published recipe (the
# "dedup training data by repeated substrings" suffix-array method)
# removes repeats >= 50 tokens; the synthetic docs run ~50-60 tokens
# over a 31-word vocabulary, so the staged parameterization uses 8 —
# long enough that ~95% of spans are unique at every SF (the rule
# splits the corpus instead of purging everything), short enough the
# purge path is exercised; production raises it to the published 50.
PURGE_N = 8


@register(
    "docs_exact_substring_purge",
    oracle=f"""
    WITH spans AS ({textops.sql_spans('documents', n=PURGE_N)}),
    occ AS (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY span) AS n_occ,
               ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
        FROM spans
    ),
    purged AS (SELECT doc_id, pos FROM occ WHERE n_occ > 1 AND rn > 1),
    cov AS (
        SELECT doc_id,
               GREATEST(0, pos + {PURGE_N} - 1 - GREATEST(pos - 1,
                   COALESCE(MAX(pos + {PURGE_N} - 1) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), -1000000))) AS newly
        FROM purged
    ),
    cov_doc AS (
        SELECT doc_id, SUM(newly) AS n_tokens_removed FROM cov GROUP BY doc_id
    ),
    acct AS (
        SELECT doc_id, COUNT(*) AS n_spans,
               SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS n_dup_span_occ,
               SUM(CASE WHEN n_occ > 1 AND rn > 1 THEN 1 ELSE 0 END) AS n_purged_spans
        FROM occ GROUP BY doc_id
    )
    SELECT a.doc_id, CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_dup_span_occ AS BIGINT) AS n_dup_span_occ,
           CAST(n_purged_spans AS BIGINT) AS n_purged_spans,
           CAST(COALESCE(c.n_tokens_removed, 0) AS BIGINT) AS n_tokens_removed
    FROM acct a LEFT JOIN cov_doc c USING (doc_id)
    """,
)
def docs_exact_substring_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global exact-substring dedup with keep-first purge accounting:
    every POSITIONAL {PURGE_N}-token span (stride 1, self-repeats
    included) is matched corpus-wide; the earliest occurrence by
    (doc_id, pos) is the canonical copy and every other occurrence is
    purged — the span-granular form of the published suffix-array
    "dedup exact substrings" recipe, completing the signal
    ``text_dup_span_ratio`` computes with the purge decision itself.
    Per document: total spans, duplicated-span occurrences, purged
    occurrences, and the number of TOKENS a trim would remove —
    the exact length of the union of the purged spans' (overlapping)
    intervals, computed as a running-max coverage window, so the
    figure is what an actual trimming pass would delete.

    Exactness: all-integer accounting (counts, interval arithmetic —
    shift-invariant, so Spark's 0-based and DuckDB's 1-based token
    positions agree); keep-first is the min (doc_id, pos) struct on
    both engines.

    Scale: the occurrence inventory is built ONCE — the span
    construction (doc_id window + concat) sits below an explicit
    digest repartition whose shuffle files both consumers read back
    (ReusedExchange: the per-span aggregate and the join probe), so
    the expensive window pass never re-evaluates; the same trick
    repeats on the doc_id repartition of the occurrence verdicts,
    which the per-doc accounting AND the coverage window share
    (plan-asserted: exactly two ReusedExchange nodes, measured 52 s
    -> 34 s at x100). The span key that shuffles is the md5 digest of
    the span text, not the text itself (narrower rows; the 128-bit
    digest is collision-safe at any realistic corpus — 50% birthday
    bound at 2^64 distinct spans — and the oracle keeps the raw-text
    key so the gate would catch a digest-keyed miscount). Both sides
    of the stats join are co-partitioned on the digest, so the join
    adds no exchange; the aggregated build side is partition-bounded
    (distinct spans per partition), the memory envelope the session's
    shuffle-partition sizing already guarantees for hash aggregates —
    drop the shuffle_hash hint to fall back to sort-merge if a
    deployment runs oversized partitions. A boilerplate hot span is
    one streaming probe task, not a memory blowup (the build row for
    it is single)."""
    docs = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    spans = (
        textops.spans_df(docs, n=PURGE_N, partitions=n_part)
        .select("doc_id", "pos", F.md5("span").alias("span"))
        .repartition(n_part, "span")
    )
    # Keep-first via an order-preserving DECIMAL pack (r15): the old
    # min(struct(doc_id, pos)) buffer is struct-typed, which cannot
    # hash-aggregate, so the plan fell back to SortAggregate and
    # SORTED the corpus-pair-scale span frame per partition before
    # aggregating (min_by has the same struct buffer and the same
    # fallback — measured). doc_id * 10^10 + pos over decimals is
    # monotone in the lexicographic (doc_id, pos) order whenever
    # 0 <= pos < 10^10 — pos is a token index within ONE document, so
    # the bound holds for any physically possible doc — and a decimal
    # min is a fixed-width mutable buffer, so the aggregate runs as a
    # plain HashAggregate: no per-partition sort, same exchange, same
    # keep-first row. The struct itself is gone: purge only needs
    # "am I the minimum occurrence", i.e. one packed comparison.
    _packed = (
        F.col("doc_id").cast("decimal(20,0)") * F.lit(10_000_000_000)
        + F.col("pos").cast("decimal(20,0)")
    ).alias("packed")
    per_span = spans.select("span", _packed).groupBy("span").agg(
        F.count("*").alias("n_occ"),
        F.min("packed").alias("first_packed"),
    ).hint("shuffle_hash")
    occ = spans.join(per_span, "span").select(
        "doc_id",
        "pos",
        "n_occ",
        ((F.col("n_occ") > 1) & (_packed != F.col("first_packed"))).alias("is_purged"),
    ).repartition(n_part, "doc_id")
    acct = occ.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum((F.col("n_occ") > 1).cast("int")).alias("n_dup_span_occ"),
        F.sum(F.col("is_purged").cast("int")).alias("n_purged_spans"),
    )
    end = F.col("pos") + (PURGE_N - 1)
    w_cov = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = occ.filter("is_purged").select(
        "doc_id",
        F.greatest(
            F.lit(0),
            end - F.greatest(F.col("pos") - 1, F.coalesce(F.max(end).over(w_cov), F.lit(-1000000))),
        ).alias("newly"),
    )
    cov_doc = cov.groupBy("doc_id").agg(
        F.sum("newly").cast("long").alias("n_tokens_removed")
    )
    return acct.join(cov_doc, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        "n_dup_span_occ",
        "n_purged_spans",
        F.coalesce("n_tokens_removed", F.lit(0)).cast("long").alias("n_tokens_removed"),
    )


# target mixture: boost these sources 2x relative to the rest
MIX_BOOSTED = ["src0", "src1", "src2", "src3", "src4"]
MIX_BOOST_W = 2
_SQL_MIX_W = (
    "CASE WHEN source IN ("
    + ", ".join(f"'{s}'" for s in MIX_BOOSTED)
    + f") THEN {MIX_BOOST_W} ELSE 1 END"
)


@register(
    "docs_domain_mixture_resample",
    oracle=f"""
    WITH w AS (
        SELECT source, COUNT(*) AS n_in, {_SQL_MIX_W} AS wt
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(wt) AS DOUBLE) AS w_total FROM w),
    tmin AS (SELECT MIN(n_in * w_total / wt) AS t FROM w, tot),
    rates AS (
        SELECT source, n_in, 100.0 * wt * t / (w_total * n_in) AS keep_pct
        FROM w, tot, tmin
    ),
    kept AS (
        SELECT source, COUNT(*) AS n_kept
        FROM documents JOIN rates USING (source)
        WHERE {_HASH_PCT} < keep_pct
        GROUP BY source
    )
    SELECT r.source, CAST(r.n_in AS BIGINT) AS n_in,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM rates r LEFT JOIN kept k USING (source)
    """,
)
def docs_domain_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: derive per-source keep rates FROM a
    target mixture (boosted sources get {MIX_BOOST_W}x the weight of
    the rest) instead of hand-fixing them like sample_stratified_hash
    — the downsample-to-mixture step of corpus curation. The largest
    corpus satisfying the mixture without upsampling is found by
    T = MIN over sources of n_s / share_s; each source then keeps
    share_s * T / n_s of its docs by the deterministic md5 bucket.
    Scale: rates derive from the per-source COUNTS (a few rows), not
    the corpus — aggregate, broadcast two scalars back, broadcast
    the tiny rate table onto the corpus scan, map-side filter. Two
    corpus scans total (count + filter), zero corpus shuffles; the
    same multiply/divide order on both engines keeps the double
    keep_pct bit-identical."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    wt = F.when(F.col("source").isin(MIX_BOOSTED), MIX_BOOST_W).otherwise(1)
    # persist (lazy, r15 — the docs_curation_pipeline_e2e fix applied
    # to its sibling): counts is one row per SOURCE, but its three
    # consumers (tot, tmin, rates) each re-ran the per-source count
    # scan — the sweep plan showed 4 corpus scans and 14 stages for a
    # two-scan contract. Cached, rate derivation is a cache read and
    # the corpus is scanned twice (counts + the kept filter).
    counts = (
        docs.groupBy("source").agg(F.count("*").alias("n_in")).withColumn("wt", wt)
        .persist()
    )
    tot = counts.agg(F.sum("wt").cast("double").alias("w_total"))
    with_tot = counts.crossJoin(F.broadcast(tot))
    tmin = with_tot.agg(
        F.min(F.col("n_in") * F.col("w_total") / F.col("wt")).alias("t")
    )
    rates = with_tot.crossJoin(F.broadcast(tmin)).select(
        "source",
        "n_in",
        (F.lit(100.0) * F.col("wt") * F.col("t") / (F.col("w_total") * F.col("n_in"))).alias(
            "keep_pct"
        ),
    )
    kept = (
        docs.join(F.broadcast(rates.select("source", "keep_pct")), "source")
        .filter(_hash_pct() < F.col("keep_pct"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    # kept is one aggregated row per source — broadcast is
    # definitional (constant-bounded at any corpus scale), replacing
    # a SortMergeJoin of two tiny frames
    return (
        rates.join(F.broadcast(kept), "source", "left")
        .select(
            "source",
            F.col("n_in").cast("long").alias("n_in"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )


# independent bucket for the e2e pipeline's split step: salting the
# md5 decorrelates it from the mixture filter's _HASH_PCT bucket
# (reusing one hash for both would make the split a biased sample of
# each source's kept docs)
_SPLIT_PCT = (
    "CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)


def _split_pct() -> Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )


def _curation_e2e_oracle_sql() -> str:
    from .iterative import _cc_labels_cte

    return f"""
    WITH RECURSIVE {_cc_labels_cte()},
    survivors AS (
        SELECT d.doc_id, d.source, d.n_chars
        FROM documents d
        LEFT JOIN labels l ON d.doc_id = l.node
        WHERE l.node IS NULL OR l.component = d.doc_id
    ),
    w AS (
        SELECT source, COUNT(*) AS n_in, {_SQL_MIX_W} AS wt
        FROM survivors GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(wt) AS DOUBLE) AS w_total FROM w),
    tmin AS (SELECT MIN(n_in * w_total / wt) AS t FROM w, tot),
    rates AS (
        SELECT source, 100.0 * wt * t / (w_total * n_in) AS keep_pct
        FROM w, tot, tmin
    ),
    kept AS (
        SELECT s.doc_id, s.source, s.n_chars
        FROM survivors s JOIN rates USING (source)
        WHERE {_HASH_PCT} < keep_pct
    )
    SELECT CASE WHEN {_SPLIT_PCT} < 90 THEN 'train'
                WHEN {_SPLIT_PCT} < 95 THEN 'val'
                ELSE 'test' END AS split,
           source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM kept
    GROUP BY 1, 2
    """


@register("docs_curation_pipeline_e2e", oracle=_curation_e2e_oracle_sql())
def docs_curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-curation pipeline as ONE composed plan:
    near-dup purge (keep each MinHash-LSH cluster's smallest-id
    representative) -> domain-mixture resample (rates derived from
    the SURVIVING per-source counts, so dedup losses don't skew the
    target mixture) -> deterministic 90/5/5 split -> per (split,
    source) accounting. This is the query a training-data run
    actually executes end-to-end, and composing it exercises that
    the registry's building blocks chain without materialization
    between stages. The split bucket is an INDEPENDENTLY salted md5
    (reusing the mixture bucket would make the split a biased sample
    of each source's kept docs). Split keys on doc_id, which equals
    the cluster canonical id for every survivor — so the split is
    leakage-safe by construction (all of a cluster's survivors — of
    which there is exactly one — land in one split). Scale: the only
    non-map stages are the LSH pair generation (banded, corpus never
    self-joins), the label-propagation rounds over the sparse pair
    set, and two count rollups; mixture rates derive from counts and
    broadcast back."""
    from .dedup import minhash_lsh_pairs
    from .iterative import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )
    # shuffle_hash on the label side (the dedup-family precedent):
    # SMJ would sort the CORPUS side within every partition per
    # reference; the build side is the dup-cluster label set — 16-byte
    # (node, component) rows, partition-bounded under scale-adaptive
    # widths. NOTE (r15 ADVICE): the hint is honored unconditionally
    # when buildable (no size fallback, no AQE demotion) — safety
    # rests on the build side staying partition-bounded, not on any
    # planner fallback
    survivors = (
        docs.join(labels.hint("shuffle_hash"), "doc_id", "left")
        .filter(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id", "source", "n_chars")
    )
    wt = F.when(F.col("source").isin(MIX_BOOSTED), MIX_BOOST_W).otherwise(1)
    # persist (lazy, the registry convention): counts is one row per
    # SOURCE (constant-bounded at any corpus scale), but its three
    # consumers below (tot, tmin, rates) each re-ran the whole
    # corpus ⋈ labels survivor subtree — the r15 sweep plan showed
    # that join evaluated 4x per execution (3x under this aggregate,
    # 1x for the kept branch). Caching the few-row aggregate makes
    # rate derivation a cache read; the corpus is scanned twice total
    # (counts + kept), the docs_domain_mixture_resample contract.
    counts = (
        survivors.groupBy("source").agg(F.count("*").alias("n_in")).withColumn("wt", wt)
        .persist()
    )
    tot = counts.agg(F.sum("wt").cast("double").alias("w_total"))
    with_tot = counts.crossJoin(F.broadcast(tot))
    tmin = with_tot.agg(F.min(F.col("n_in") * F.col("w_total") / F.col("wt")).alias("t"))
    rates = with_tot.crossJoin(F.broadcast(tmin)).select(
        "source",
        (F.lit(100.0) * F.col("wt") * F.col("t") / (F.col("w_total") * F.col("n_in"))).alias(
            "keep_pct"
        ),
    )
    kept = (
        survivors.join(F.broadcast(rates), "source")
        .filter(_hash_pct() < F.col("keep_pct"))
    )
    split = (
        F.when(_split_pct() < 90, "train").when(_split_pct() < 95, "val").otherwise("test")
    )
    return (
        kept.select(split.alias("split"), "source", "n_chars")
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# --- sample_weighted_priority --------------------------------------------

WSAMP_K = 16  # sample size per stratum
# priority = floor(h40 * SCALE / weight): h40 < 2^40 keeps the
# multiply under 2^63 (1.1e12 * 1e6 = 1.1e18 < 9.2e18), so the whole
# key is exact 64-bit integer arithmetic on both engines
WSAMP_SCALE = 1_000_000


def _wsamp_priority_sql(engine: str) -> str:
    """The rank key, spelled for each engine over the SAME integer
    ops: u = top 40 bits of the portable 60-bit md5 hash (salted
    'wsamp|' so it is independent of the split/stratify entries'
    un-salted doc_id hashes), weight = GREATEST(COALESCE(n_chars,1),1)
    (the null/zero-weight guard), priority = (u * SCALE) intdiv w.
    Smallest-priority-first IS priority sampling's order statistic
    (rank by u_i / w_i; Ohlsson's sequential Poisson form)."""
    if engine == "spark":
        h = (
            "shiftright(cast(conv(substr(md5(concat('wsamp|', "
            "cast(doc_id as string))), 1, 15), 16, 10) as bigint), 20)"
        )
        return f"({h} * {WSAMP_SCALE}) div greatest(coalesce(n_chars, 1), 1)"
    h = (
        "(CAST(('0x' || substr(md5('wsamp|' || CAST(doc_id AS VARCHAR)), 1, 15)) "
        "AS BIGINT) >> 20)"
    )
    return f"({h} * {WSAMP_SCALE}) // GREATEST(COALESCE(n_chars, 1), 1)"


@register(
    "sample_weighted_priority",
    tier="staged",
    oracle=f"""
    WITH base AS (
        SELECT source, doc_id,
               GREATEST(COALESCE(n_chars, 1), 1) AS weight,
               {_wsamp_priority_sql('duckdb')} AS priority
        FROM documents
    ),
    stats AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS stratum_docs,
               CAST(SUM(weight) AS BIGINT) AS stratum_weight
        FROM base GROUP BY source
    ),
    ranked AS (
        SELECT source, doc_id, weight, priority,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY priority, doc_id
               ) AS sample_rank
        FROM base
    )
    SELECT r.source, CAST(r.sample_rank AS BIGINT) AS sample_rank,
           r.doc_id, r.weight, r.priority,
           s.stratum_docs, s.stratum_weight
    FROM ranked r JOIN stats s USING (source)
    WHERE r.sample_rank <= {WSAMP_K}
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement, {WSAMP_K} docs per source
    stratum, inclusion probability approximately proportional to
    weight (= n_chars): priority sampling / sequential Poisson
    sampling (rank by u/w, keep the k smallest), with the uniform u
    drawn deterministically from the portable md5 idiom so the sample
    is reproducible and cross-engine exact. Output rows carry the
    stratum's total doc count and weight so a consumer can form the
    Horvitz-Thompson-style expansion weights without a second scan.

    Exactness: the entire entry is 64-bit integer arithmetic —
    h40 * {WSAMP_SCALE} stays under 2^63 and the integer division is
    identical on both engines for non-negative operands (weight >= 1
    by the GREATEST guard) — so the gate compare is exact by
    construction; ties (same priority) break on doc_id in both.

    Scale: the rank key is map-side (one md5 per row, no joins); the
    per-stratum top-k is a row_number window that Spark plans as
    WindowGroupLimit with a PARTIAL pass, so each map task forwards at
    most k rows per stratum into the one source-keyed exchange — the
    shuffle carries O(k x strata x tasks), not the corpus. The
    stratum stats aggregate is map-side combined to one row per
    source and broadcast back onto the k-row sample. At 100 TB this
    is the weighted-subset shape that avoids both a global sort and a
    weighted reservoir's sequential state.

    Measured (BENCH_SCALE, r11 third session): the Spark wall is the
    job floor, FLAT at 1.18 s from x100 (500k docs) to x200 (1M) and
    1.89 s at x500 (2.5M), so the single-box ratio vs DuckDB's
    0.13-0.29 s reads 9.1x/6.8x/6.5x — recorded honestly: the op is
    two sub-second scans of three columns, too cheap for the fixed
    per-job cost to amortize on one box (the bloom-prune precedent).
    The plan is shaped for the 100 TB contract, not the toy ratio:
    the alternative single-exchange plan (stats as unbounded window
    aggs sharing the row_number partition) would kill the partial
    WindowGroupLimit and shuffle the full corpus, which is the wrong
    trade everywhere it matters.

    Deep tier (r12, tools/bench_docs_deep.py — documents-only lakes,
    closing the r11 VERDICT's promotion question with numbers): once
    the corpus outgrows the floor the ratio CONVERGES exactly as the
    plan predicts — docsx1000 (5M docs) 6.7x (Spark 2.94 s still
    floor-bound vs DuckDB 0.44 s), docsx5000 (25M) **1.46x**
    (2.77 s vs 1.90 s — Spark flat, 32-way scan engaged), docsx10000
    (50M) **1.15x** (5.42 s vs 4.71 s, both compute-bound). Under
    the 2x bar at every point where the input exceeds the job floor;
    promotion-eligible on evidence, queued behind the r13
    consolidation order (GATE_LOG)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "doc_id",
        F.greatest(F.coalesce(F.col("n_chars"), F.lit(1)), F.lit(1))
        .cast("long")
        .alias("weight"),
        F.expr(_wsamp_priority_sql("spark")).alias("priority"),
    )
    stats = base.groupBy("source").agg(
        F.count("*").alias("stratum_docs"),
        F.sum("weight").alias("stratum_weight"),
    )
    win = Window.partitionBy("source").orderBy(
        F.asc("priority"), F.asc("doc_id")
    )
    return (
        base.withColumn("sample_rank", F.row_number().over(win).cast("long"))
        .filter(F.col("sample_rank") <= WSAMP_K)
        .join(F.broadcast(stats), "source")
        .select(
            "source",
            "sample_rank",
            "doc_id",
            "weight",
            "priority",
            "stratum_docs",
            "stratum_weight",
        )
    )


# --- docs_token_drift_tvd -------------------------------------------------

TVD_SCALE = 1_000_000  # ppm share quantization

# Persisted (source, tok) count frame of the LAST invocation
# (graph_eval lifecycle): four subtrees consume it — the comparison
# grid's source totals, the vocabulary totals, the grand total, and
# the left-join probe side. Without the persist, exchange reuse
# covers the re-aggregations but NOT the join side living under a
# BroadcastExchange, so the corpus tokenize+count ran twice
# (observed in the executed plan while staging).
_TVD_COUNTS_PERSISTED: list[DataFrame] = []

_SQL_TVD_TOKS = f"""
    toks AS (
        SELECT source,
               unnest(string_split({textops.SQL_NORM.format(col='text')}, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    counts AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_st
        FROM toks GROUP BY source, tok
    ),
    tok_tot AS (
        SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM counts GROUP BY tok
    ),
    src_tot AS (
        SELECT source, CAST(SUM(c_st) AS BIGINT) AS t_s FROM counts GROUP BY source
    ),
    grand AS (SELECT CAST(SUM(c_st) AS BIGINT) AS n FROM counts),
    scored AS (
        SELECT f.source, f.t_s, (g.n - f.t_s) AS t_r, f.tok,
               ABS(({TVD_SCALE} * COALESCE(c.c_st, 0)) // f.t_s
                   - ({TVD_SCALE} * (f.c_t - COALESCE(c.c_st, 0)))
                     // GREATEST(g.n - f.t_s, 1)) AS gap
        FROM (SELECT s.source, s.t_s, v.tok, v.c_t
              FROM src_tot s CROSS JOIN tok_tot v) f
        CROSS JOIN grand g
        LEFT JOIN counts c ON c.source = f.source AND c.tok = f.tok
    )
"""


@register(
    "docs_token_drift_tvd",
    tier="staged",
    oracle=f"""
    WITH {_SQL_TVD_TOKS},
    agg AS (
        SELECT source, t_s, t_r,
               CAST(SUM(gap) // 2 AS BIGINT) AS tvd_ppm
        FROM scored GROUP BY source, t_s, t_r
    ),
    top AS (
        SELECT source, tok AS top_token, CAST(gap AS BIGINT) AS top_gap_ppm
        FROM (
            SELECT source, tok, gap, ROW_NUMBER() OVER (
                PARTITION BY source ORDER BY gap DESC, tok
            ) AS rnk FROM scored
        ) r WHERE rnk = 1
    )
    SELECT a.source,
           a.t_s AS src_tokens, a.t_r AS rest_tokens,
           a.tvd_ppm, t.top_token, t.top_gap_ppm
    FROM agg a JOIN top t USING (source)
    """,
)
def docs_token_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift vs the rest of the corpus:
    (source, src_tokens, rest_tokens, tvd_ppm, top_token,
    top_gap_ppm), where tvd_ppm is the ppm-quantized total-variation
    distance between the source's unigram share distribution and the
    complement's over the FULL corpus vocabulary, and top_token is
    the largest single share gap (ties break on the lexicographically
    smallest token in both engines).

    Exactness: both shares quantize to ppm via 64-bit integer
    division before the comparison — no floats anywhere, so the hash
    gate applies exactly (the sample_weighted_priority precedent; KL
    was rejected because ln() is not cross-engine bit-stable). The
    degenerate single-source corpus clamps the empty complement's
    denominator to 1 (GREATEST), identically on both sides.
    Overflow envelope: {TVD_SCALE} * count stays under 2^63 up to
    ~9.2e12 tokens; past that the shares quantize from a sampled or
    sharded count first (docstring contract, not a silent wrap).

    Scale: the corpus is scanned ONCE and the only corpus-sized
    exchange is the (source, tok) count; the vocabulary totals,
    per-source totals, and grand total all re-aggregate that frame's
    output (map-side combined, vocabulary-sized). The full
    sources x vocab comparison grid is built by broadcasting the
    vocabulary totals across the per-source totals — sources are
    few-hundreds in a real mixture and the grid never touches the
    corpus. At a 100 TB corpus the vocabulary itself is pruned first
    (the corpus_token_coverage curve picks V: tokens below ~1 ppm
    global share contribute zero quantized gap and can be dropped
    exactly), which keeps the grid bounded while changing nothing in
    this plan's shape.

    Measured (BENCH_SCALE, r13): x20 0.54x, x100 0.59x vs DuckDB
    (Spark 1.8 s vs 3.0 s at 500k docs) — under the bar at every
    measured point, Spark ahead once the corpus outgrows the job
    floor."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    toks = docs.select(
        "source",
        F.explode(F.split(textops.norm_text(F.col("text")), " ")).alias("tok"),
    )
    counts = _swap_persisted(
        _TVD_COUNTS_PERSISTED,
        toks.groupBy("source", "tok").agg(F.count("*").alias("c_st")),
    )
    tok_tot = counts.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    src_tot = counts.groupBy("source").agg(F.sum("c_st").alias("t_s"))
    grand = counts.agg(F.sum("c_st").alias("n"))
    grid = src_tot.crossJoin(F.broadcast(tok_tot)).crossJoin(F.broadcast(grand))
    scored = grid.join(counts, ["source", "tok"], "left").select(
        "source",
        "t_s",
        (F.col("n") - F.col("t_s")).alias("t_r"),
        "tok",
        F.abs(
            F.expr(f"({TVD_SCALE} * coalesce(c_st, 0)) div t_s")
            - F.expr(
                f"({TVD_SCALE} * (c_t - coalesce(c_st, 0))) div greatest(n - t_s, 1)"
            )
        ).alias("gap"),
    )
    # min over (-gap, tok) = deterministic argmax: largest gap, then
    # lexicographically smallest token — the oracle's window ordering
    return (
        scored.groupBy("source", "t_s", "t_r")
        .agg(
            F.expr("CAST(sum(gap) div 2 AS BIGINT)").alias("tvd_ppm"),
            F.min(F.struct((-F.col("gap")).alias("ngap"), F.col("tok"))).alias("top"),
        )
        .select(
            "source",
            F.col("t_s").alias("src_tokens"),
            F.col("t_r").alias("rest_tokens"),
            "tvd_ppm",
            F.col("top.tok").alias("top_token"),
            (-F.col("top.ngap")).cast("long").alias("top_gap_ppm"),
        )
    )
