"""Similarity search over the ``embeddings`` vector table.

Three operators, from exact baseline to the two classic scale paths:

- ``sim_cosine_topk_brute`` — exact top-k by cosine for a query set
  (the correctness baseline; at 100 TB this is what you run for a
  small query batch against a broadcastable corpus shard).
- ``sim_ann_lsh_hyperplane`` — random-hyperplane (signed random
  projection) LSH: vectors sharing a sign-bucket become candidate
  pairs, exact cosine verifies. Sub-quadratic: the only shuffle keys
  are (bucket) — never all pairs.
- ``sim_ivf_probe1`` — IVF: centroids from the label partition
  (k-means assignment stand-in), queries probe only their own cell.

Determinism: every dot product / squared norm accumulates in
DECIMAL(38,15) (associative, identical in Spark and DuckDB) and only
then casts to DOUBLE, so partial aggregation order can't change the
result; hyperplane components derive from md5, identical both sides.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from . import register
from .common import _swap_persisted

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 5
LSH_PLANES = 3
LSH_COSINE_MIN = 0.3
DIM = 64

# Spark types a (p,15)+(p,15) decimal add as (p+1,15); at p=38 the
# precision cap forces scale DOWN to 14, silently rounding the 15th
# decimal on EVERY fold step (~1e-14 per add, ~64 adds — enough to
# flip the gate's %.10g canon on boundary rows; observed at sf0.1).
# Precision 25 keeps every intermediate under the cap, so the fold is
# exact: values here are < 10^5, far inside 10 integer digits.
_DEC = "decimal(25,15)"
_SQL_DEC = "DECIMAL(38,15)"  # DuckDB list_sum is int128-exact at any scale


def _dot(a: Column, b: Column) -> Column:
    """Exact double dot product via decimal accumulation.

    The final decimal -> double conversion goes THROUGH A STRING on
    both engines: the engines' native decimal->double casts disagree
    by ~100 ulps (Spark routes through BigDecimal.doubleValue,
    correctly rounded; DuckDB's int128/10^scale arithmetic is not),
    which flips the gate's %.10g canonicalization whenever a value
    lands near a 10-digit boundary (~1 row in a few thousand —
    observed at sf0.1). String -> double parsing is correctly rounded
    everywhere, so identical decimal text yields identical bits."""
    prods = F.zip_with(a, b, lambda x, y: (x * y).cast(_DEC))
    # the merge re-cast pins the accumulator back to _DEC each step;
    # with precision 25 the intermediate (26,15) add is exact and the
    # cast is lossless (see _DEC note above)
    return (
        F.aggregate(prods, F.lit(0).cast(_DEC), lambda acc, v: (acc + v).cast(_DEC))
        .cast("string")
        .cast("double")
    )


def _sql_dot(a: str, b: str) -> str:
    # VARCHAR hop mirrors _dot: correctly-rounded string->double in
    # both engines replaces their divergent decimal->double casts
    return (
        f"CAST(CAST(list_sum(list_transform(list_zip({a}, {b}), "
        f"x -> CAST(x[1] * x[2] AS {_SQL_DEC}))) AS VARCHAR) AS DOUBLE)"
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, emb float64[], norm) — norms precomputed once.

    The explicit vec_id repartition spreads the decimal dot-product
    compute (norms here, sign bits / scoring downstream) across all
    cores: the embeddings table arrives as one small parquet file, so
    the bare scan yields 1-2 input partitions and — worse — AQE
    coalesces every post-scan stage down to them (measured 12s vs
    1.7s for the ANN entry under the cluster profile). Explicit
    repartitions are exempt from AQE coalescing; every consumer also
    reuses the hash(vec_id) clustering for its joins/windows.
    Measured without AQE too: brute top-k 1.18s -> 0.45s at sf0.1."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = spark.sparkContext.defaultParallelism
    e = F.col("embedding").cast("array<double>")
    return emb.repartition(n, "vec_id").select(
        "vec_id",
        "label",
        e.alias("emb"),
        F.sqrt(_dot(e, e)).alias("norm"),
    )


_SQL_EMB = f"""
        SELECT vec_id, label,
               CAST(embedding AS DOUBLE[]) AS emb,
               sqrt({_sql_dot('CAST(embedding AS DOUBLE[])', 'CAST(embedding AS DOUBLE[])')}) AS norm
        FROM embeddings
"""


@register(
    "sim_cosine_topk_brute",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.emb', 'c.emb')} / (q.norm * c.norm) AS cosine
        FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rnk
        FROM scored
    ) r WHERE rnk <= {TOP_K}
    """,
)
def sim_cosine_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{TOP_K} for the query set. Scale: the query
    batch broadcasts against the corpus (one scan, no corpus
    self-shuffle); per-query top-k is a WindowGroupLimit, not a full
    sort."""
    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("norm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def _plane_comp(plane: int, dim: int) -> float:
    """Hyperplane component: same md5 derivation as _sql_planes,
    computed driver-side (Python md5 == JVM md5 == DuckDB md5)."""
    h = hashlib.md5(f"{plane}|{dim}".encode()).hexdigest()[:8]
    return (int(h, 16) % 2001 - 1000) / 1000.0


def _sign_bit(plane: int) -> Column:
    """One LSH sign bit, inlined as a literal plane array so the dot
    product is a map-side zip_with/aggregate over the embedding."""
    vec = F.array(*[F.lit(_plane_comp(plane, d + 1)) for d in range(DIM)])
    return F.when(_dot(F.col("emb"), vec) > 0, F.lit("1")).otherwise(F.lit("0"))


def _sql_planes() -> str:
    return f"""
        SELECT p.range AS plane, d.range + 1 AS dim,
               (CAST(('0x' || substr(md5(p.range || '|' || (d.range + 1)), 1, 8)) AS BIGINT)
                % 2001 - 1000) / 1000.0 AS comp
        FROM range({LSH_PLANES}) p, range({DIM}) d
    """


@register(
    "sim_ann_lsh_hyperplane",
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
    cand AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM buckets a JOIN buckets b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           {_sql_dot('ea.emb', 'eb.emb')} / (ea.norm * eb.norm) AS cosine
    FROM cand
    JOIN emb ea ON vec_a = ea.vec_id
    JOIN emb eb ON vec_b = eb.vec_id
    WHERE {_sql_dot('ea.emb', 'eb.emb')} / (ea.norm * eb.norm) >= {LSH_COSINE_MIN}
    """,
)
def sim_ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding of :func:`ann_lsh_pairs` at the demo-sized
    defaults ({LSH_PLANES} planes, 1 band) so the DuckDB oracle stays
    expressible; production tuning happens through the parameters."""
    return ann_lsh_pairs(spark, sf_dir)


def ann_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    planes: int = LSH_PLANES,
    bands: int = 1,
    cosine_min: float = LSH_COSINE_MIN,
) -> DataFrame:
    """Signed-random-projection LSH with OR-amplification: each of
    ``bands`` independent groups of ``planes`` hyperplanes gives a
    vector a sign bucket; pairs sharing ANY band bucket are
    candidates; exact cosine >= ``cosine_min`` verifies.

    Parameter guide (standard s-curve): a pair with angle θ collides
    in one band with p(θ)^planes where p = 1 - θ/π, and overall with
    1 - (1 - p^planes)^bands — more planes sharpens precision, more
    bands recovers recall. tests/test_ann_recall.py pins measured
    recall against a numpy ground truth at both settings.

    Scale: plane components are literal arrays evaluated map-side
    (zip_with + decimal aggregate — zero shuffles to produce the
    signatures; the earlier posexplode->join->groupBy shape paid two),
    and the candidate join shuffles (band, bucket) keys only — the
    corpus never self-joins all-pairs; cost grows with bands, not
    corpus^2."""
    emb = _embeddings(spark, sf_dir)
    bit = _sign_bit
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.concat(*[bit(band * planes + p) for p in range(planes)]).alias("bucket"),
        )
        for band in range(bands)
    ]
    # persist (lazy): both sides of the self-join read the cached
    # frame — the first task to touch a partition computes the sign
    # bits (bands*planes dot products per vector), the block lock
    # makes the other side wait-and-reuse instead of recomputing; no
    # eager count barrier, so the whole query stays one job
    buckets = emb.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")).persist()
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
    )
    if bands > 1:
        # OR-amplification can emit the same pair from several bands;
        # with a single band each vector holds exactly one bucket row,
        # the join yields each pair at most once, and the dedup would
        # be a pure extra exchange
        cand = cand.distinct()
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("emb").alias("emb_a"), F.col("norm").alias("norm_a")
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("emb").alias("emb_b"), F.col("norm").alias("norm_b")
    )
    # explode-as-barrier (r15): a plain select+filter lets the
    # optimizer push `cosine >= min` through the projection into the
    # join CONDITION, so every candidate pair paid the 64-term decimal
    # fold TWICE (once deciding the join, once re-computed for the
    # surviving row's output) and the inferred isnotnull(norm)
    # constraints re-ran the norm fold on each broadcast build side.
    # Filters cannot cross a Generate's output, so exploding the
    # 1-element scored array pins the fold to exactly one evaluation
    # per candidate; the filter stays map-side above it.
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
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
        .filter(F.col("cosine") >= cosine_min)
        .select("vec_a", "vec_b", "cosine")
    )


# Shared per-cell mean centroid computation (decimal-exact sum, then
# the VARCHAR hop — see _dot — so both IVF entries derive the SAME
# centroids): SQL CTE fragment (expects an `emb` CTE in scope) and
# the DataFrame twin.
_SQL_CENTROIDS = f"""
    comps AS (
        SELECT vec_id, label, unnest(emb) AS val, generate_subscripts(emb, 1) AS dim
        FROM emb
    ),
    centroids AS (
        SELECT label, dim,
               CAST(CAST(SUM(CAST(val AS {_SQL_DEC})) AS VARCHAR) AS DOUBLE)
                   / COUNT(*) AS cval
        FROM comps GROUP BY label, dim
    )"""


def _centroid_vectors(emb: DataFrame) -> DataFrame:
    """(label, cvec double[]) — per-cell mean centroids as arrays."""
    comps = emb.select("label", F.posexplode("emb").alias("dim", "val"))
    cent = comps.groupBy("label", "dim").agg(
        (
            F.sum(F.col("val").cast(_DEC)).cast("string").cast("double")
            / F.count("*")
        ).alias("cval")
    )
    return cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cval"))),
            lambda s: s["cval"],
        ).alias("cvec")
    )


@register(
    "sim_ivf_probe1",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    {_SQL_CENTROIDS},
    assign AS (
        SELECT vec_id, label AS cell FROM emb
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.emb', 'c.emb')} / (q.norm * c.norm) AS cosine
        FROM emb q
        JOIN assign qa ON q.vec_id = qa.vec_id
        JOIN assign ca ON ca.cell = qa.cell AND ca.vec_id <> q.vec_id
        JOIN emb c ON c.vec_id = ca.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rnk
        FROM scored
    ) r WHERE rnk <= {TOP_K}
    """,
)
def sim_ivf_probe1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with probe=1: vectors are partitioned into cells (the
    label column stands in for the k-means assignment; the centroid
    CTE shows the assignment recomputation), each query searches only
    its own cell. Scale: search cost drops by the cell fan-out; cells
    are hash-partitioned so each query's probe is one partition-local
    top-k."""
    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_cell"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    scored = (
        emb.join(
            F.broadcast(q),
            (F.col("label") == F.col("q_cell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("norm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


NPROBE = 2

_SQL_SQDIST = (
    f"CAST(CAST(list_sum(list_transform(list_zip(q.q_emb, v.cvec), "
    f"x -> CAST((x[1] - x[2]) * (x[1] - x[2]) AS {_SQL_DEC}))) AS VARCHAR) AS DOUBLE)"
)


def _sqdist_dbl(a: Column, b: Column) -> Column:
    """Double squared-L2 distance: the decimal fold of
    :func:`_sqdist` crossed to double through the VARCHAR hop (see
    :func:`_dot` for why the hop is load-bearing). Cell RANKING must
    order on this, not the raw decimal, because the oracles'
    _SQL_SQDIST ranks by the double — two cells whose decimal
    distances differ but round to the same double must tie-break on
    the label in BOTH engines (r10 ADVICE: a second, shadowed
    decimal-ranking definition made Spark break such ties by the
    exact decimal instead)."""
    return _sqdist(a, b).cast("string").cast("double")


@register(
    "sim_ivf_multiprobe",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    {_SQL_CENTROIDS},
    cvecs AS (
        SELECT label, list(cval ORDER BY dim) AS cvec FROM centroids GROUP BY label
    ),
    queries AS (
        SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm
        FROM emb WHERE vec_id < {N_QUERIES}
    ),
    cellrank AS (
        SELECT q.query_id, v.label AS cell,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_SQL_SQDIST} ASC, v.label
               ) AS crnk
        FROM queries q CROSS JOIN cvecs v
    ),
    probes AS (SELECT query_id, cell FROM cellrank WHERE crnk <= {NPROBE}),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.q_emb', 'c.emb')} / (q.q_norm * c.norm) AS cosine
        FROM queries q
        JOIN probes p ON p.query_id = q.query_id
        JOIN emb c ON c.label = p.cell AND c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rnk
        FROM scored
    ) r WHERE rnk <= {TOP_K}
    """,
)
def sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with multi-probe (nprobe=NPROBE): per-cell mean centroids are
    recomputed from the assignment, each query ranks ALL centroids by
    exact squared-L2 distance and searches the union of its 2 nearest
    cells — the standard recall-recovery knob when a query lands near
    a cell boundary (probe-1 misses neighbors just across it).

    Scale: the centroid table is k x dim (kilobytes at any corpus
    size) and broadcasts; cell ranking is a map-side broadcast
    cross of queries x centroids; the probe list (queries x nprobe
    rows) broadcasts into the corpus scan, so the corpus itself never
    shuffles — per-probe search cost is corpus_size x nprobe / k
    rows scored, the IVF contract. All distances/cosines accumulate
    in decimal and cross to double through strings, so ranking is
    bit-identical in both engines (see _dot)."""
    emb = _embeddings(spark, sf_dir)
    cvecs = _centroid_vectors(emb)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    cellrank = q.crossJoin(F.broadcast(cvecs)).select(
        "query_id",
        F.col("label").alias("cell"),
        "q_emb",
        "q_norm",
        _sqdist_dbl(F.col("q_emb"), F.col("cvec")).alias("d2"),
    )
    cw = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        cellrank.withColumn("crnk", F.row_number().over(cw))
        .filter(F.col("crnk") <= NPROBE)
        .select("query_id", "cell", "q_emb", "q_norm")
    )
    scored = emb.join(
        F.broadcast(probes),
        (F.col("label") == F.col("cell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (_dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("norm"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


_BLOCK_TOPK_SCHEMA = (
    "query_id long, neighbor_id long, cosine double, rnk int"
)


def block_matmul_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block BLAS top-k WITH float64 cosine scores — the frame
    tests compare against the decimal-exact IVF entry."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )

    def block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.array(pdf["emb"].tolist(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        norms = np.linalg.norm(mat, axis=1)
        q_mask = ids < N_QUERIES
        if not q_mask.any():
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": [], "rnk": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64",
                      "cosine": "float64", "rnk": "int32"})
        sims = (mat[q_mask] @ mat.T) / np.outer(norms[q_mask], norms)
        out = []
        for qi, qid in enumerate(ids[q_mask]):
            row = sims[qi]
            order = np.lexsort((ids, -row))  # cosine desc, id asc
            order = order[ids[order] != qid][:TOP_K]
            for rnk, j in enumerate(order, 1):
                out.append((int(qid), int(ids[j]), float(row[j]), rnk))
        return pd.DataFrame(
            out, columns=["query_id", "neighbor_id", "cosine", "rnk"]
        )

    return (
        emb.groupBy("label")
        .applyInPandas(block_topk, schema=_BLOCK_TOPK_SCHEMA)
        .orderBy("query_id", "rnk")
    )


@register(
    "sim_block_matmul_topk",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.emb', 'c.emb')} / (q.norm * c.norm) AS cosine
        FROM emb q
        JOIN emb c ON c.label = q.label AND c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rnk
        FROM scored
    ) r WHERE rnk <= {TOP_K}
    """,
)
def sim_block_matmul_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-{TOP_K} cosine via per-block BLAS: vectors group by
    their blocking key (label ~ IVF cell) and each block computes a
    single numpy matmul of (queries_in_block x members) inside
    applyInPandas — the throughput path for verified similarity at
    100 TB, where the decimal-exact formulations are the correctness
    oracles and this is what actually runs: one Arrow crossing per
    block, C-speed GEMM instead of per-pair expression evaluation.

    Oracle-checked on the INTEGER result (query_id, neighbor_id,
    rnk): neighbor identity and ranking must match the decimal-exact
    SQL twin — a rank flip would need two cosines within float64
    GEMM error (~1e-15 relative) at a rank boundary. The float
    scores themselves are excluded from the hash by design (BLAS
    summation order differs from decimal accumulation in final
    ulps); tests/test_ann_recall.py asserts np.isclose on them
    against the exact IVF entry."""
    return block_matmul_scored(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk")
    )


# int8 quantization: symmetric per-vector absmax scaling, the layout
# faiss/SQ8-style stores use. 1e9 fixed-point keeps the error metric
# exact and order-independent.
_Q_LEVELS = 127
_ERR_SCALE = 10**9


@register(
    "emb_quantize_int8",
    oracle=f"""
    WITH prepped AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS absmax
        FROM embeddings
    ),
    quantized AS (
        SELECT vec_id, emb, absmax,
               absmax / {_Q_LEVELS} AS scale,
               CASE WHEN absmax = 0
                    THEN list_transform(emb, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(emb, x -> CAST(round(x / (absmax / {_Q_LEVELS})) AS BIGINT))
               END AS q
        FROM prepped
    )
    SELECT vec_id, scale, array_to_string(q, ',') AS q,
           CAST(list_sum(list_transform(list_zip(emb, q),
                p -> CAST(FLOOR(abs(p[1] - p[2] * scale) * {_ERR_SCALE}) AS BIGINT)))
                AS DOUBLE) / {_ERR_SCALE} / {DIM} AS mae
    FROM quantized
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (per-vector
    absmax / {_Q_LEVELS} scale — the SQ8 storage layout ANN indexes
    and embedding caches use, 4x smaller than float32) plus the exact
    mean-absolute reconstruction error per vector. Rounding is
    half-away-from-zero in both engines; the error sums in 1e-9
    fixed point so element order can't change it. Scale: pure
    map-side transform over the vector column, no shuffle; at 100 TB
    this runs as a projection inside whatever scan already reads the
    embeddings.

    The quantized vector is emitted as a comma-joined string (the
    gate canonicalizer compares flat cells, not arrays); a storage
    consumer would keep the array form from the `quantized` stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    prepped = emb.select(
        "vec_id",
        e.alias("emb"),
        F.array_max(F.transform(e, lambda x: F.abs(x))).alias("absmax"),
    )
    scale = F.col("absmax") / _Q_LEVELS
    quantized = prepped.select(
        "vec_id",
        "emb",
        scale.alias("scale"),
        F.when(
            F.col("absmax") == 0,
            F.transform(F.col("emb"), lambda x: F.lit(0).cast("long")),
        )
        .otherwise(
            F.transform(F.col("emb"), lambda x: F.round(x / scale).cast("long"))
        )
        .alias("q"),
    )
    err_terms = F.zip_with(
        F.col("emb"),
        F.col("q"),
        lambda x, qv: F.floor(F.abs(x - qv * F.col("scale")) * _ERR_SCALE).cast("long"),
    )
    return quantized.select(
        "vec_id",
        "scale",
        F.array_join(F.col("q").cast("array<string>"), ",").alias("q"),
        (
            F.aggregate(err_terms, F.lit(0).cast("long"), lambda a, v: a + v)
            .cast("double")
            / _ERR_SCALE
            / DIM
        ).alias("mae"),
    )


@register(
    "sim_ann_recall_eval",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.emb', 'c.emb')} / (q.norm * c.norm) AS cosine
        FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
            ) AS rnk FROM scored
        ) r WHERE rnk <= {TOP_K}
    ),
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
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id
        FROM buckets q JOIN buckets c
          ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    n_cand AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
        FROM cand GROUP BY query_id
    ),
    hits AS (
        SELECT t.query_id, CAST(COUNT(c.cand_id) AS BIGINT) AS n_hit
        FROM topk t LEFT JOIN cand c
          ON t.query_id = c.query_id AND t.neighbor_id = c.cand_id
        GROUP BY t.query_id
    )
    SELECT h.query_id, COALESCE(n.n_candidates, 0) AS n_candidates, h.n_hit,
           h.n_hit * 1.0 / {TOP_K} AS recall_at_k
    FROM hits h LEFT JOIN n_cand n ON h.query_id = n.query_id
    """,
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality evaluation: recall@{TOP_K} of the hyperplane
    bucketing against the exact cosine top-{TOP_K}, per query, plus
    the candidate-set size the bucket probe paid for it — the
    recall/cost curve point every ANN deployment monitors. Recall is
    a long/long division so both engines emit the identical double.
    Scale: the truth side is the broadcast-query brute plan; the
    retrieved side joins bucket keys only; both reuse the shared
    signature derivation, and the corpus is never all-pairs joined —
    evaluation stays as cheap as the index itself."""
    emb = _embeddings(spark, sf_dir)
    topk = sim_cosine_topk_brute(spark, sf_dir).select("query_id", "neighbor_id")
    buckets = emb.select(
        "vec_id",
        F.concat(*[_sign_bit(p) for p in range(LSH_PLANES)]).alias("bucket"),
    ).persist()  # lazy (r8): the corpus and query consumers share the
    # first job's cache fill; the old eager count() paid one extra
    # job launch (same conversion as the r7 headline entries)
    qb = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("bucket").alias("q_bucket")
    )
    cand = (
        buckets.join(
            F.broadcast(qb),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("cand_id"))
    )
    n_cand = cand.groupBy("query_id").agg(F.count("*").alias("n_candidates"))
    # shuffle_hash (r15): both recall joins planned as SortMergeJoin,
    # sorting every side; the candidate list is partition-bounded (the
    # probe's own per-bucket cost) so hashing it beats sorting the
    # topk side. NOTE (r15 ADVICE): the hint is honored
    # unconditionally when buildable (no size fallback, no AQE
    # demotion) — safety rests on the candidate side staying bounded
    hits = (
        topk.join(
            cand.withColumnRenamed("query_id", "c_query_id").hint("shuffle_hash"),
            (F.col("query_id") == F.col("c_query_id"))
            & (F.col("neighbor_id") == F.col("cand_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("cand_id").alias("n_hit"))
    )
    # n_cand is one row per QUERY (N_QUERIES is a constant at any
    # corpus scale) — broadcast is definitional, not size-estimated
    return (
        hits.join(F.broadcast(n_cand), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            "n_hit",
            (F.col("n_hit") * F.lit(1.0) / TOP_K).alias("recall_at_k"),
        )
    )


# --- MMR diversity re-ranking ----------------------------------------

MMR_POOL = 10  # relevance candidates per query entering the re-rank
MMR_K = 3  # diversified results emitted (greedy steps unrolled)
MMR_LAMBDA = 0.5  # relevance vs diversity trade-off


def _mmr_oracle_sql() -> str:
    lam, one_m = MMR_LAMBDA, 1 - MMR_LAMBDA
    return f"""
    WITH emb AS ({_SQL_EMB}),
    queries AS (
        SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm
        FROM emb WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.q_emb', 'c.emb')} / (q.q_norm * c.norm) AS rel
        FROM queries q JOIN emb c ON c.vec_id <> q.query_id
    ),
    pool AS (
        SELECT query_id, neighbor_id, rel FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY rel DESC, neighbor_id
            ) AS rn FROM scored
        ) r WHERE rn <= {MMR_POOL}
    ),
    pairsim AS (
        SELECT a.query_id, a.neighbor_id AS d, b.neighbor_id AS s,
               {_sql_dot('ea.emb', 'eb.emb')} / (ea.norm * eb.norm) AS sim
        FROM pool a
        JOIN pool b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
        JOIN emb ea ON ea.vec_id = a.neighbor_id
        JOIN emb eb ON eb.vec_id = b.neighbor_id
    ),
    s1 AS (
        SELECT query_id, neighbor_id, rel AS score FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY rel DESC, neighbor_id
            ) AS rn FROM pool
        ) r WHERE rn = 1
    ),
    c2 AS (
        SELECT p.query_id, p.neighbor_id,
               {lam} * p.rel - {one_m} * ps.sim AS score
        FROM pool p
        JOIN s1 ON s1.query_id = p.query_id
        JOIN pairsim ps ON ps.query_id = p.query_id
                       AND ps.d = p.neighbor_id AND ps.s = s1.neighbor_id
        WHERE p.neighbor_id <> s1.neighbor_id
    ),
    s2 AS (
        SELECT query_id, neighbor_id, score FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id
            ) AS rn FROM c2
        ) r WHERE rn = 1
    ),
    c3 AS (
        SELECT p.query_id, p.neighbor_id,
               {lam} * p.rel - {one_m} * greatest(p1.sim, p2.sim) AS score
        FROM pool p
        JOIN s1 ON s1.query_id = p.query_id
        JOIN s2 ON s2.query_id = p.query_id
        JOIN pairsim p1 ON p1.query_id = p.query_id
                       AND p1.d = p.neighbor_id AND p1.s = s1.neighbor_id
        JOIN pairsim p2 ON p2.query_id = p.query_id
                       AND p2.d = p.neighbor_id AND p2.s = s2.neighbor_id
        WHERE p.neighbor_id <> s1.neighbor_id AND p.neighbor_id <> s2.neighbor_id
    ),
    s3 AS (
        SELECT query_id, neighbor_id, score FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id
            ) AS rn FROM c3
        ) r WHERE rn = 1
    )
    SELECT query_id, neighbor_id, CAST(1 AS INT) AS mmr_rank, score FROM s1
    UNION ALL
    SELECT query_id, neighbor_id, CAST(2 AS INT) AS mmr_rank, score FROM s2
    UNION ALL
    SELECT query_id, neighbor_id, CAST(3 AS INT) AS mmr_rank, score FROM s3
    """


@register("sim_mmr_rerank", oracle=_mmr_oracle_sql())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): from each query's top-MMR_POOL relevance pool, greedily
    pick MMR_K results maximizing lambda*rel - (1-lambda)*max-sim-to-
    already-picked — the diversity-aware top-k a retrieval pipeline
    runs after ANN so near-duplicate hits don't crowd the context
    window.

    The greedy loop is unrolled for the fixed k (each step is one
    argmax window over the surviving pool), so selection is pure
    relational algebra and bit-identical in both engines — for
    arbitrary k this becomes an applyInPandas per query group over
    the same (pool, pairsim) inputs. Scale: relevance scoring is the
    broadcast query-batch corpus scan every other similarity entry
    uses; everything after operates on POOL-sized frames (pool m and
    pairwise sims m^2 per query, m=MMR_POOL) — the corpus is never
    pair-joined, and each argmax is a WindowGroupLimit on a
    kilobyte-scale frame."""
    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    scored = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (_dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("norm"))).alias(
            "rel"
        ),
    )
    w_rel = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("neighbor_id"))
    pool = (
        scored.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= MMR_POOL)
        .select("query_id", "neighbor_id", "rel")
        # feeds s1, pairsim (twice), c2, c3: persist the tiny frame
        # instead of re-running the corpus scan per consumer (lazy
        # since r8 — the first consumer's job fills the cache)
        .persist()
    )
    ea = emb.select(
        F.col("vec_id").alias("a_id"), F.col("emb").alias("a_emb"), F.col("norm").alias("a_norm")
    )
    eb = emb.select(
        F.col("vec_id").alias("b_id"), F.col("emb").alias("b_emb"), F.col("norm").alias("b_norm")
    )
    a = pool.select(F.col("query_id"), F.col("neighbor_id").alias("d"))
    b = pool.select(F.col("query_id").alias("qb"), F.col("neighbor_id").alias("s"))
    # r15: every frame below pool is bounded by N_QUERIES * MMR_POOL
    # (constants at any corpus scale), yet all six selection joins
    # planned as SortMergeJoin. Definitional broadcasts — the small
    # side is constant-sized by CONSTRUCTION, not by estimate — flip
    # the whole selection cascade to BroadcastHashJoin: the corpus
    # emb frame is probed, never sorted or shuffled, and the pool
    # pair table rides the driver.
    pairsim = (
        F.broadcast(
            F.broadcast(
                a.join(
                    F.broadcast(b),
                    (F.col("query_id") == F.col("qb")) & (F.col("d") != F.col("s")),
                )
            )
            .join(ea, F.col("d") == F.col("a_id"))
        )
        .join(eb, F.col("s") == F.col("b_id"))
        .select(
            "query_id",
            "d",
            "s",
            (_dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_norm") * F.col("b_norm"))).alias(
                "sim"
            ),
        )
        .persist()  # lazy (r8): reused by the c2 and c3 selection
        # rounds; eager count() was one redundant job
    )
    lam, one_m = F.lit(MMR_LAMBDA), F.lit(1 - MMR_LAMBDA)

    def argmax(df, score_col):
        w = Window.partitionBy("query_id").orderBy(
            F.desc(score_col), F.asc("neighbor_id")
        )
        return (
            df.withColumn("arn", F.row_number().over(w))
            .filter(F.col("arn") == 1)
            .select("query_id", "neighbor_id", F.col(score_col).alias("score"))
        )

    s1 = argmax(pool.withColumn("score1", F.col("rel")), "score1")
    ps1 = pairsim.select(
        F.col("query_id").alias("q1"), F.col("d").alias("d1"), F.col("s").alias("sel1"),
        F.col("sim").alias("sim1"),
    )
    c2 = (
        pool.join(
            F.broadcast(s1.select(F.col("query_id"), F.col("neighbor_id").alias("pick1"))),
            "query_id"
        )
        .filter(F.col("neighbor_id") != F.col("pick1"))
        .join(
            F.broadcast(ps1),
            (F.col("q1") == F.col("query_id"))
            & (F.col("d1") == F.col("neighbor_id"))
            & (F.col("sel1") == F.col("pick1")),
        )
        .select(
            "query_id", "neighbor_id", "rel", "pick1", "sim1",
            (lam * F.col("rel") - one_m * F.col("sim1")).alias("score2"),
        )
    )
    s2 = argmax(c2, "score2")
    ps2 = pairsim.select(
        F.col("query_id").alias("q2"), F.col("d").alias("d2"), F.col("s").alias("sel2"),
        F.col("sim").alias("sim2"),
    )
    c3 = (
        c2.join(
            F.broadcast(s2.select(F.col("query_id"), F.col("neighbor_id").alias("pick2"))),
            "query_id"
        )
        .filter(F.col("neighbor_id") != F.col("pick2"))
        .join(
            F.broadcast(ps2),
            (F.col("q2") == F.col("query_id"))
            & (F.col("d2") == F.col("neighbor_id"))
            & (F.col("sel2") == F.col("pick2")),
        )
        .select(
            "query_id", "neighbor_id",
            (lam * F.col("rel") - one_m * F.greatest(F.col("sim1"), F.col("sim2"))).alias(
                "score3"
            ),
        )
    )
    s3 = argmax(c3, "score3")
    return (
        s1.withColumn("mmr_rank", F.lit(1).cast("int"))
        .unionByName(s2.withColumn("mmr_rank", F.lit(2).cast("int")))
        .unionByName(s3.withColumn("mmr_rank", F.lit(3).cast("int")))
        .select("query_id", "neighbor_id", "mmr_rank", "score")
    )


RANGE_THRESHOLD = 0.3  # cosine radius for range search


@register(
    "sim_cosine_range_search",
    oracle=f"""
    WITH emb AS ({_SQL_EMB})
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_sql_dot('q.emb', 'c.emb')} / (q.norm * c.norm) AS cosine
    FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
      AND {_sql_dot('q.emb', 'c.emb')} / (q.norm * c.norm) >= {RANGE_THRESHOLD}
    """,
)
def sim_cosine_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search: ALL corpus vectors within a cosine
    threshold of each query — the retrieval primitive for "collect
    every near-duplicate / related document", where top-k's fixed
    cutoff either truncates dense neighborhoods or pads sparse ones.
    Scale: identical shape to the brute top-k (query batch broadcasts
    against one corpus scan, zero corpus self-shuffle) but WITHOUT
    the per-query window — the threshold filter is map-side, so the
    operator is a pure scan-and-filter that needs no shuffle at all.
    The cosine itself reuses the exact decimal dot product, so the
    >= comparison is bit-identical in both engines."""
    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    # explode-as-barrier (r15, the ann_lsh_pairs note): keeps the
    # threshold from being pushed into the broadcast-nested-loop join
    # condition, which evaluated the decimal fold twice per pair.
    return (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.explode(
                F.array(
                    _dot(F.col("q_emb"), F.col("emb"))
                    / (F.col("q_norm") * F.col("norm"))
                )
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= RANGE_THRESHOLD)
    )


PQ_M = 2  # subspaces
PQ_SUBDIM = DIM // PQ_M


def _sqdist(a: Column, b: Column) -> Column:
    """Exact squared L2 distance between two double arrays: per-dim
    squared diffs (IEEE-deterministic double products) accumulated in
    DECIMAL so the total is addition-order-free — comparable across
    engines without a tolerance. Mirrors _dot/_sql_sqdist."""
    diffs = F.zip_with(a, b, lambda x, y: ((x - y) * (x - y)).cast(_DEC))
    return F.aggregate(diffs, F.lit(0).cast(_DEC), lambda acc, v: (acc + v).cast(_DEC))


def _sql_sqdist(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"x -> CAST((x[1] - x[2]) * (x[1] - x[2]) AS {_SQL_DEC})))"
    )


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, label, s, svec) — each vector split into PQ_M
    subspace slices, one row per (vector, subspace)."""
    subs = [
        emb.select(
            "vec_id",
            "label",
            F.lit(s).alias("s"),
            F.slice("emb", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("svec"),
        )
        for s in range(PQ_M)
    ]
    out = subs[0]
    for frame in subs[1:]:
        out = out.unionByName(frame)
    return out


def _pq_codewords(sub: DataFrame) -> DataFrame:
    """(s, code, cw double[]) — per-subspace codebook: the per-label
    subvector means (closed-form codebook; see emb_pq_codes)."""
    comps = sub.select("s", "label", F.posexplode("svec").alias("dim", "val"))
    codebook = comps.groupBy("s", F.col("label").alias("code"), "dim").agg(
        (
            F.sum(F.col("val").cast(_DEC)).cast("string").cast("double")
            / F.count("*")
        ).alias("cval")
    )
    return codebook.groupBy("s", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cval"))),
            lambda st: st["cval"],
        ).alias("cw")
    )


def _pq_best_codes(sub: DataFrame) -> DataFrame:
    """(vec_id, label, s, code, d) — nearest codeword per (vector,
    subspace) with its exact decimal distance; argmin tie-broken on
    code. ``label`` (the vector's IVF cell) rides along for the
    combined IVF+PQ search."""
    dists = sub.join(F.broadcast(_pq_codewords(sub)), "s").select(
        "vec_id",
        "label",
        "s",
        "code",
        _sqdist(F.col("svec"), F.col("cw")).alias("d"),
    )
    w = Window.partitionBy("vec_id", "s").orderBy("d", "code")
    return dists.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)


# The SQL twin below hardcodes the two-subspace split (CASE s WHEN 0
# ... ELSE ...) and emb_pq_codes hardcodes code_0/code_1, while the
# Spark side iterates range(PQ_M) — fail loudly instead of silently
# desynchronizing plan and oracle if PQ_M is ever bumped (r6 ADVICE).
assert PQ_M == 2, "_SQL_PQ_PREFIX and emb_pq_codes are written for PQ_M == 2"

_SQL_PQ_PREFIX = f"""
    sub AS (
        SELECT vec_id, label, s,
               CASE s WHEN 0 THEN emb[1:{PQ_SUBDIM}]
                      ELSE emb[{PQ_SUBDIM + 1}:{DIM}] END AS svec
        FROM emb, (SELECT 0 AS s UNION ALL SELECT 1) subs
    ),
    comps AS (
        SELECT s, label, unnest(svec) AS val,
               generate_subscripts(svec, 1) AS dim
        FROM sub
    ),
    codebook AS (
        SELECT s, label AS code, dim,
               CAST(CAST(SUM(CAST(val AS {_SQL_DEC})) AS VARCHAR) AS DOUBLE)
                   / COUNT(*) AS cval
        FROM comps GROUP BY s, label, dim
    ),
    codewords AS (
        SELECT s, code, list(cval ORDER BY dim) AS cw
        FROM codebook GROUP BY s, code
    ),
    dists AS (
        SELECT v.vec_id, v.s, c.code,
               {_sql_sqdist('v.svec', 'c.cw')} AS d
        FROM sub v JOIN codewords c ON c.s = v.s
    ),
    best AS (
        SELECT vec_id, s, code, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d, code) AS rn
        FROM dists
    )"""


@register(
    "emb_pq_codes",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    {_SQL_PQ_PREFIX}
    SELECT vec_id,
           CAST(MAX(CASE WHEN s = 0 THEN code END) AS BIGINT) AS code_0,
           CAST(MAX(CASE WHEN s = 1 THEN code END) AS BIGINT) AS code_1,
           CAST(CAST(SUM(d) AS VARCHAR) AS DOUBLE) AS recon_err_sq
    FROM best WHERE rn = 1
    GROUP BY vec_id
    """,
)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each vector splits into {PQ_M} subvectors
    and each subvector is replaced by its nearest subspace codeword —
    the memory-side compression behind IVF-PQ indexes (a {DIM}-dim
    float vector becomes {PQ_M} bytes plus the shared codebook).
    Codebooks here are the per-label subvector means (the same
    deterministic stand-in for a trained k-means codebook the IVF
    entries use: centroid derivation is identical math, just per
    subspace), so the whole operator — training, assignment, and
    reconstruction error — is closed-form and oracle-checkable.
    Scale: codebooks aggregate map-side and broadcast ({PQ_M} x
    codes x {PQ_SUBDIM} doubles); assignment is a broadcast join +
    per-(vec, subspace) argmin window over codes-per-subspace rows —
    the corpus never shuffles against itself, and the argmin's
    decimal distances make the code assignment bit-identical across
    engines (no float-order ties). Reconstruction error is the sum
    of the two subspace distances, reported for the quantization-
    quality audit (the PQ twin of emb_quantize_int8's exact error)."""
    best = _pq_best_codes(_pq_subvectors(_embeddings(spark, sf_dir)))
    return best.groupBy("vec_id").agg(
        F.max(F.when(F.col("s") == 0, F.col("code"))).cast("long").alias("code_0"),
        F.max(F.when(F.col("s") == 1, F.col("code"))).cast("long").alias("code_1"),
        F.sum("d").cast("string").cast("double").alias("recon_err_sq"),
    )


@register(
    "sim_pq_adc_topk",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    {_SQL_PQ_PREFIX},
    codes AS (SELECT vec_id, s, code FROM best WHERE rn = 1),
    qdist AS (
        SELECT v.vec_id AS query_id, v.s, c.code,
               {_sql_sqdist('v.svec', 'c.cw')} AS qd
        FROM sub v JOIN codewords c ON c.s = v.s
        WHERE v.vec_id < {N_QUERIES}
    ),
    adc AS (
        SELECT q.query_id, cd.vec_id AS neighbor_id,
               SUM(q.qd) AS approx_d
        FROM codes cd
        JOIN qdist q ON q.s = cd.s AND q.code = cd.code
        WHERE cd.vec_id <> q.query_id
        GROUP BY q.query_id, cd.vec_id
    )
    SELECT query_id, neighbor_id,
           CAST(CAST(approx_d AS VARCHAR) AS DOUBLE) AS approx_dist_sq, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY approx_d, neighbor_id
        ) AS rnk FROM adc
    ) r WHERE rnk <= {TOP_K}
    """,
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation (ADC) top-{TOP_K}: queries stay
    uncompressed, the corpus is its PQ codes, and each query-corpus
    distance is the SUM of table lookups — the query's precomputed
    distance to each subspace codeword. This is the search path PQ
    compression exists for: per query the distance table is PQ_M x
    codes entries, and scanning a billion compressed vectors costs
    {PQ_M} lookups + an add per vector instead of a {DIM}-dim float
    dot product. Scale: the distance tables (queries x subspaces x
    codes — kilobytes) BROADCAST onto the corpus-codes scan, the
    per-(query, vector) sum combines map-side, and per-query top-k is
    a WindowGroupLimit; the corpus never shuffles against itself.
    Decimal lookup distances keep ranking ties bit-identical."""
    emb = _embeddings(spark, sf_dir)
    sub = _pq_subvectors(emb)
    codewords = _pq_codewords(sub)
    codes = _pq_best_codes(sub).select("vec_id", "s", "code")
    qdist = (
        sub.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(codewords), "s")
        .select(
            F.col("vec_id").alias("query_id"),
            "s",
            "code",
            _sqdist(F.col("svec"), F.col("cw")).alias("qd"),
        )
    )
    adc = (
        codes.join(F.broadcast(qdist), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qd").alias("approx_d"))
    )
    w = Window.partitionBy("query_id").orderBy("approx_d", "neighbor_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("approx_d").cast("string").cast("double").alias("approx_dist_sq"),
            "rnk",
        )
    )


@register(
    "sim_pq_recall_eval",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    {_SQL_PQ_PREFIX},
    codes AS (SELECT vec_id, s, code FROM best WHERE rn = 1),
    qdist AS (
        SELECT v.vec_id AS query_id, v.s, c.code,
               {_sql_sqdist('v.svec', 'c.cw')} AS qd
        FROM sub v JOIN codewords c ON c.s = v.s
        WHERE v.vec_id < {N_QUERIES}
    ),
    adc AS (
        SELECT q.query_id, cd.vec_id AS neighbor_id, SUM(q.qd) AS approx_d
        FROM codes cd
        JOIN qdist q ON q.s = cd.s AND q.code = cd.code
        WHERE cd.vec_id <> q.query_id
        GROUP BY q.query_id, cd.vec_id
    ),
    adc_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY approx_d, neighbor_id
            ) AS rnk FROM adc
        ) r WHERE rnk <= {TOP_K}
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.emb', 'c.emb')} / (q.norm * c.norm) AS cosine
        FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    exact_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
            ) AS rnk FROM scored
        ) r WHERE rnk <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           COUNT(a.neighbor_id) * 1.0 / {TOP_K} AS recall_at_k
    FROM exact_topk e
    LEFT JOIN adc_topk a
           ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
)
def sim_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of PQ ADC search against the exact cosine
    top-{TOP_K} — the accuracy half of the compression trade
    sim_pq_adc_topk makes (ADC ranks by L2 over codewords on
    unnormalized vectors, so its agreement with cosine ranking is an
    empirical property of the corpus, and THIS is the number that
    says whether {PQ_M}x{PQ_SUBDIM}-dim codebooks suffice or the
    codebook needs more codes/subspaces). Same eval harness shape as
    sim_ann_recall_eval: both top-k sets are per-query bounded, the
    comparison joins {TOP_K}-row frames. Scale: cost is one ADC pass
    + one exact pass over the query batch; the exact side is the
    audit's price and runs on a query SAMPLE at 100 TB.

    Both top-k frames are materialized with localCheckpoint BEFORE
    the comparison join: composing the two deep subtrees into one
    plan makes Spark's exchange-reuse machinery substitute exchanges
    ACROSS them, and the ADC side then loses one of its two
    union-leg subspace rows per pair — approx distances come out
    halved and the top-k set is wrong (measured: every pair n_rows=1
    composed vs n_rows=2 standalone; the standalone plans are the
    hash-green gated ones). The checkpoint is {N_QUERIES}x{TOP_K}
    rows per side — free at any corpus scale — and pins each side to
    exactly the plan its own gate verified.
    tests/test_plan_shapes.py::test_pq_recall_matches_independent_runs
    locks this against regression."""
    exact = sim_cosine_topk_brute(spark, sf_dir).select(
        "query_id", "neighbor_id"
    ).localCheckpoint()
    adc = sim_pq_adc_topk(spark, sf_dir).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    ).localCheckpoint()
    return (
        exact.join(
            adc,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("a_nid").alias("n_hit"))
        .select(
            "query_id",
            F.col("n_hit").cast("long").alias("n_hit"),
            (F.col("n_hit") * F.lit(1.0) / TOP_K).alias("recall_at_k"),
        )
    )


def _sql_flip(bucket: str, i: int) -> str:
    """Flip character i (0-based) of a '0'/'1' bucket string."""
    return (
        f"substr({bucket}, 1, {i}) || "
        f"(CASE WHEN substr({bucket}, {i + 1}, 1) = '1' THEN '0' ELSE '1' END) || "
        f"substr({bucket}, {i + 2})"
    )


def _flip_bit(bucket: Column, i: int) -> Column:
    return F.concat(
        F.substring(bucket, 1, i),
        F.when(F.substring(bucket, i + 1, 1) == "1", "0").otherwise("1"),
        F.substring(bucket, i + 2, LSH_PLANES),
    )


@register(
    "sim_ann_lsh_multiprobe",
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
    probes AS (
        SELECT vec_id AS query_id, bucket AS probe FROM buckets
        WHERE vec_id < {N_QUERIES}
        {"".join(f'''
        UNION ALL
        SELECT vec_id, {_sql_flip("bucket", i)} FROM buckets
        WHERE vec_id < {N_QUERIES}''' for i in range(LSH_PLANES))}
    ),
    cand AS (
        SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id
        FROM probes p JOIN buckets b ON b.bucket = p.probe
        WHERE b.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM (
        SELECT c.query_id, c.neighbor_id,
               {_sql_dot('eq.emb', 'en.emb')} / (eq.norm * en.norm) AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY c.query_id
                   ORDER BY {_sql_dot('eq.emb', 'en.emb')} / (eq.norm * en.norm) DESC,
                            c.neighbor_id
               ) AS rnk
        FROM cand c
        JOIN emb eq ON eq.vec_id = c.query_id
        JOIN emb en ON en.vec_id = c.neighbor_id
    ) r WHERE rnk <= {TOP_K}
    """,
)
def sim_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane LSH search: each query probes its own
    sign bucket AND every Hamming-1 neighbor bucket ({LSH_PLANES}
    flips) — the standard trick (multi-probe LSH) that recovers the
    recall extra hash TABLES would buy without storing extra tables:
    a near neighbor that lands one sign flip away is still found.
    Query-side twin of sim_ivf_multiprobe, completing the ANN stack
    (corpus pair generation, probe-1, and now multi-probe retrieval
    over the same index). Scale: the probe set is queries x
    ({LSH_PLANES}+1) rows and BROADCASTS onto the corpus bucket scan
    (bucket keys only — the corpus never self-joins); verification
    touches candidates only; per-query top-k is a WindowGroupLimit."""
    emb = _embeddings(spark, sf_dir)
    buckets = emb.select(
        "vec_id",
        F.concat(*[_sign_bit(p) for p in range(LSH_PLANES)]).alias("bucket"),
    ).persist()  # lazy (r9): the probe build and the corpus scan share
    # the first job's cache fill; the old eager count() paid one extra
    # job launch (same conversion as the r8 sim_ann_recall_eval)
    qb = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("bucket").alias("q_bucket")
    )
    probes = qb.select("query_id", F.col("q_bucket").alias("probe"))
    for i in range(LSH_PLANES):
        probes = probes.unionByName(
            qb.select("query_id", _flip_bit(F.col("q_bucket"), i).alias("probe"))
        )
    cand = (
        buckets.join(F.broadcast(probes), F.col("bucket") == F.col("probe"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    scored = (
        cand.join(
            emb.select(F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb"),
                       F.col("norm").alias("q_norm")).hint("broadcast"),
            "query_id",
        )
        .join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "emb", "norm"),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("norm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


# --- sim_hard_negatives --------------------------------------------------

HN_QUERIES = 8  # vec_id < 8 are the anchor vectors (sim_* idiom)
HN_K = 5  # hard negatives kept per anchor

# Persisted scored-pair frame of the LAST invocation (the negatives
# ranking and the positive-ceiling aggregate both consume it).
_HN_PAIRS_PERSISTED: list[DataFrame] = []


@register(
    "sim_hard_negatives",
    tier="staged",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    pairs AS (
        SELECT q.vec_id AS query_id, q.label AS q_label,
               c.vec_id AS neighbor_id, c.label AS label,
               {_sql_dot('q.emb', 'c.emb')} / NULLIF(q.norm * c.norm, 0) AS cosine
        FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {HN_QUERIES}
    ),
    neg AS (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC NULLS LAST, neighbor_id
               ) AS neg_rank
        FROM pairs WHERE label <> q_label
    ),
    pos AS (
        SELECT query_id, MAX(cosine) AS pos_best_cosine
        FROM pairs WHERE label = q_label GROUP BY query_id
    )
    SELECT n.query_id, CAST(n.neg_rank AS BIGINT) AS neg_rank,
           n.neighbor_id, n.cosine AS neg_cosine,
           p.pos_best_cosine,
           p.pos_best_cosine - n.cosine AS margin
    FROM neg n LEFT JOIN pos p USING (query_id)
    WHERE n.neg_rank <= {HN_K}
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor
    vector, the top-{HN_K} most-similar vectors of a DIFFERENT label
    (the negatives that actually move an InfoNCE/triplet loss),
    alongside the anchor's positive ceiling (best same-label cosine)
    and the margin between them — the number a curriculum scheduler
    thresholds on (margin <= 0 means a negative currently outranks
    every positive: the anchor is in the loss's active set). The
    label-constrained retrieval shape the similarity family lacked:
    brute/ANN/IVF entries rank over the whole corpus; this ranks
    within a predicate partition of it.

    Exactness: every cosine goes through the decimal-dot VARCHAR hop
    (bit-identical doubles both engines), MAX and subtraction are
    single IEEE ops on those bits, rankings tie-break on neighbor_id,
    and zero-norm vectors score NULL (NULLIF) and sort last; anchors
    with no same-label peer carry NULL ceiling/margin on both sides.

    Scale: ONE anchor-broadcast pass scores the corpus (persisted —
    both the negatives window and the positives aggregate consume
    it); per-anchor top-k is a WindowGroupLimit; the positives
    ceiling is a {HN_QUERIES}-row aggregate broadcast back onto the
    k-row output. The corpus is scanned once and never shuffled.

    Measured (BENCH_SCALE, r11 third session): x5 1.95x (job floor),
    x20 0.81x, x100 0.73x (Spark 3.4 s vs DuckDB 4.7 s at 200k
    vectors), x200 1.54x (Spark 8.2 s vs 5.3 s at 400k) — recorded
    honestly: Spark's wall grows ~linearly with the pair volume
    (compute-bound on the decimal folds) while DuckDB's stays
    near-flat 4.7 -> 5.3 s across the doubling (the same fixed
    hash/threading regime the PCA covariance rows documented), so
    the single-box ratio crosses 1 between x100 and x200 while
    staying under the 2x bar; at cluster scale the scoring pass is
    embarrassingly parallel. cluster2x16 within the serialization-tax
    band at a sub-second wall (BENCH_CLUSTER)."""
    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < HN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    pairs = _swap_persisted(
        _HN_PAIRS_PERSISTED,
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
            "query_id",
            "q_label",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            (
                _dot(F.col("q_emb"), F.col("emb"))
                / F.nullif(F.col("q_norm") * F.col("norm"), F.lit(0.0))
            ).alias("cosine"),
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("cosine"), F.asc("neighbor_id")
    )
    neg = (
        pairs.filter(F.col("label") != F.col("q_label"))
        .withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= HN_K)
    )
    pos = (
        pairs.filter(F.col("label") == F.col("q_label"))
        .groupBy("query_id")
        .agg(F.max("cosine").alias("pos_best_cosine"))
    )
    return neg.join(F.broadcast(pos), "query_id", "left").select(
        "query_id",
        "neg_rank",
        "neighbor_id",
        F.col("cosine").alias("neg_cosine"),
        "pos_best_cosine",
        (F.col("pos_best_cosine") - F.col("cosine")).alias("margin"),
    )
