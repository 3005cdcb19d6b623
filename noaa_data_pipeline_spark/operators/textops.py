"""Text normalization, shingling, and hashing building blocks.

Every primitive here exists in two synchronized forms: a Spark
Column/DataFrame builder and a DuckDB SQL fragment builder, so
oracle queries can't drift from the engine implementation. All
hashing is md5-hex (identical lowercase hex output in both engines);
"min over hashes" uses lexicographic string order, which both
engines define identically.

Design for 100 TB: tokenize → posexplode → window-lead shingling is
one shuffle on doc_id (documents are small relative to partitions);
minhash signatures reduce each document to k strings map-side before
any join; the LSH band join only shuffles (band, bucket) keys — the
classic sub-quadratic near-dup path. The exact all-pairs Jaccard is
intentionally restricted to candidate verification.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

NORM_RE = "[^a-z0-9]+"
MINHASH_K = 12  # signature length
LSH_BANDS = 4  # bands of MINHASH_K / LSH_BANDS rows each
SHINGLE_N = 5  # tokens per shingle


def norm_text(col: Column) -> Column:
    """Lowercase, collapse non-alphanumerics to single spaces, trim.

    U+0130 (capital I with dot above) folds to 'I' first: Spark's
    ``lower`` maps it to 'i' + U+0307, which the collapse would split
    into two tokens, while DuckDB's ``lower`` (``SQL_NORM``) maps it
    to plain 'i'."""
    folded = F.translate(col, "\u0130", "I")
    return F.trim(F.regexp_replace(F.lower(folded), NORM_RE, " "))


SQL_NORM = "trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'))"


def tokens_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    partitions: int | None = None,
) -> DataFrame:
    """(doc_id, pos, tok) — one row per token, position-preserving.

    ``partitions`` hash-repartitions the documents BEFORE the
    tokenize+explode: the corpus arrives as one small parquet file,
    so without it the whole normalize/split/explode stage runs on
    1-2 input partitions (and AQE pins later stages there too —
    explicit repartitions are exempt). Consumers whose next step
    groups or windows on doc_id also reuse the clustering. Worth it
    whenever per-token work follows; skip for cheap map-only
    projections where the shuffle outweighs the compute."""
    if partitions:
        docs = docs.repartition(partitions, id_col)
    return docs.select(
        id_col,
        F.posexplode(F.split(norm_text(F.col(text_col)), " ")).alias("pos", "tok"),
    )


def sql_tokens(table: str = "documents") -> str:
    norm = SQL_NORM.format(col="text")
    return f"""
    SELECT doc_id,
           generate_subscripts(string_split({norm}, ' '), 1) AS pos,
           unnest(string_split({norm}, ' ')) AS tok
    FROM {table}
    """


def shingles_df(docs: DataFrame, n: int = SHINGLE_N, partitions: int | None = None) -> DataFrame:
    """(doc_id, shingle) — distinct n-token shingles per document.

    Mirrors the reference's per-series ordered scan (a window over
    position), not a python loop; concat propagates NULL so partial
    tail shingles drop out, matching the SQL '||' semantics.

    ``partitions`` pins an explicit doc_id hash partitioning that the
    window AND the per-doc distinct both reuse (hash(doc_id) is a
    valid clustered distribution for groupBy(doc_id, shingle)), so
    the whole pipeline is a single shuffle and — because explicit
    repartitions are exempt from AQE coalescing — a persist of the
    result keeps that parallel layout.
    """
    w = Window.partitionBy("doc_id").orderBy("pos")
    toks = tokens_df(docs)
    if partitions:
        toks = toks.repartition(partitions, "doc_id")
    parts: list[Column] = [F.col("tok")]
    for i in range(1, n):
        parts += [F.lit(" "), F.lead("tok", i).over(w)]
    return (
        toks.select("doc_id", F.concat(*parts).alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .distinct()
    )


def spans_df(docs: DataFrame, n: int, partitions: int | None = None) -> DataFrame:
    """(doc_id, pos, span) — every POSITIONAL n-token span, stride 1,
    NOT deduplicated: the occurrence inventory exact-substring dedup
    needs (``shingles_df`` collapses to per-doc distinct shingles and
    loses positions). concat propagates NULL so partial tail spans
    drop out, matching the SQL ``||`` semantics."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    toks = tokens_df(docs)
    if partitions:
        toks = toks.repartition(partitions, "doc_id")
    parts: list[Column] = [F.col("tok")]
    for i in range(1, n):
        parts += [F.lit(" "), F.lead("tok", i).over(w)]
    return toks.select("doc_id", "pos", F.concat(*parts).alias("span")).filter(
        F.col("span").isNotNull()
    )


def sql_spans(table: str = "documents", n: int = SHINGLE_N) -> str:
    concat = " || ' ' || ".join(
        ["tok"] + [f"lead(tok, {i}) OVER w" for i in range(1, n)]
    )
    return f"""
    SELECT doc_id, pos, span FROM (
        SELECT doc_id, pos, {concat} AS span
        FROM ({sql_tokens(table)}) toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ) s WHERE span IS NOT NULL
    """


def sql_shingles(table: str = "documents", n: int = SHINGLE_N) -> str:
    concat = " || ' ' || ".join(
        ["tok"] + [f"lead(tok, {i}) OVER w" for i in range(1, n)]
    )
    return f"""
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, {concat} AS shingle
        FROM ({sql_tokens(table)}) toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ) s WHERE shingle IS NOT NULL
    """


def minhash_agg_cols(k: int = MINHASH_K) -> list[Column]:
    """k min-hash aggregate columns over a (doc_id, shingle) frame."""
    return [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(k)
    ]


def sql_minhash_aggs(k: int = MINHASH_K) -> str:
    return ",\n           ".join(
        f"MIN(md5('{i}|' || shingle)) AS h{i}" for i in range(k)
    )


def band_cols(k: int = MINHASH_K, bands: int = LSH_BANDS) -> list[Column]:
    """One (band, bucket) struct per LSH band; bucket = md5 of the
    band's concatenated signature rows."""
    rows = k // bands
    out = []
    for b in range(bands):
        sig = F.concat_ws("", *[F.col(f"h{b * rows + j}") for j in range(rows)])
        out.append(
            F.struct(F.lit(b).alias("band"), F.md5(sig).alias("bucket"))
        )
    return out


def sql_band_selects(sigs_cte: str, k: int = MINHASH_K, bands: int = LSH_BANDS) -> str:
    rows = k // bands
    selects = []
    for b in range(bands):
        sig = " || ".join(f"h{b * rows + j}" for j in range(rows))
        selects.append(
            f"SELECT doc_id, {b} AS band, md5({sig}) AS bucket FROM {sigs_cte}"
        )
    return "\nUNION ALL\n".join(selects)
