"""IVF+PQ vector search: the faiss IndexIVFPQ shape, in-session and
over a prebuilt on-disk index.

- ``sim_ivf_pq_adc_search`` — probe the nprobe nearest cells,
  ADC-score only within them. Composes the separately-proven halves
  (sim_ivf_multiprobe x sim_pq_adc_topk) into the shape a
  billion-vector deployment actually runs.
- ``sim_ivf_pq_residual_search`` — RESIDUAL-encoded IVF+PQ (the
  faithful faiss IndexIVFPQ): vectors quantize as x - centroid and
  each query builds a per-probed-cell ADC table from its own
  residual — the encoding that makes real IVFPQ indexes quantize
  well.
- the prebuilt index (``build_pq_index`` / ``declare_pq_index`` /
  ``pq_index_available``) materializes centroids, codewords and
  corpus codes as parquet, keyed by the lake's content and by
  ``plan_source_digest`` of the build code; the two searches route
  through it when a declared index exists, and the staged
  ``*_prebuilt`` entries run it directly under their parents' oracles.
"""

from __future__ import annotations

import hashlib
import inspect
import sys
import types

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import CATALOG, register
from .common import _swap_persisted
from .similarity import (
    DIM,
    NPROBE,
    N_QUERIES,
    PQ_SUBDIM,
    TOP_K,
    _DEC,
    _SQL_CENTROIDS,
    _SQL_DEC,
    _SQL_EMB,
    _SQL_PQ_PREFIX,
    _SQL_SQDIST,
    _centroid_vectors,
    _embeddings,
    _pq_best_codes,
    _pq_codewords,
    _pq_subvectors,
    _sqdist,
    _sqdist_dbl,
    _sql_sqdist,
)


def _reuse_or_swap(slot: list[DataFrame], frame: DataFrame) -> DataFrame:
    """``_swap_persisted`` with SAME-PLAN REUSE (r13): a repeat
    invocation on the same lake rebuilds a byte-identical logical
    plan, and swapping would drop the materialized cache only to
    rebuild it from scratch on the next action — for slots that hold
    a built search INDEX (subvectors, codewords, corpus codes) the
    production contract is faiss's add-once/search-many, so the warm
    frame is returned instead. A different lake reaches a different
    leaf relation (tables._TABLE_CACHE keys relations by content
    fingerprint), sameResult is false, and the swap path keeps the
    bounded one-invocation-per-slot cache contract. A frame whose
    owning session was stopped (test fixtures) fails the comparison
    and falls through to the swap."""
    if slot:
        prev = slot[0]
        try:
            same = prev._jdf.queryExecution().analyzed().sameResult(
                frame._jdf.queryExecution().analyzed()
            )
        except Exception:  # noqa: BLE001 - stopped-session py4j errors
            same = False
        if same:
            return prev
    return _swap_persisted(slot, frame)


def reset_search_index_slots() -> None:
    """Drop every IVFPQ index slot (adc + residual), forcing the next
    invocation to pay the full index BUILD (codeword training + corpus
    code assignment). Benchmark hook: tools/bench_scale.py calls this
    to record the cold build-inclusive wall beside each repeated-run
    point, so the reuse lifecycle can never hide the build cost from
    the scale curve (r13 VERDICT: "the cold number must keep
    travelling with the curve")."""
    for slot in (
        _ADC_SUB_PERSISTED,
        _ADC_CODEWORDS_PERSISTED,
        _ADC_CODES_PERSISTED,
        _RESID_CVECS_PERSISTED,
        _RESID_RSUB_PERSISTED,
        _RESID_CODEWORDS_PERSISTED,
        _RESID_CODES_PERSISTED,
    ):
        for frame in slot:
            try:
                frame.unpersist()
            except Exception:  # noqa: BLE001 - stopped-session py4j errors
                pass
        slot.clear()


# --- sim_ivf_pq_adc_search ----------------------------------------------

# Persisted frames of the LAST invocation (graph_eval lifecycle): the
# subvector explode feeds three subtrees (code assignment, the
# codeword training inside it, the query ADC tables) and the codeword
# table two — without the persists each consumer re-runs the corpus
# pass (the r12 residual-search finding; same ~25%-of-wall class).
# The entry threads the persisted codewords frame EXPLICITLY into its
# own query-ADC join (r12 ADVICE: don't lean on cache matching where
# a variable will do); the one remaining implicit reader is the
# identical _pq_codewords(sub) plan rebuilt INSIDE _pq_best_codes
# (whose signature belongs to plans/similarity.py and is shared by
# three registered entries there), which hits the cache through
# CacheManager's SEMANTIC plan matching — a behavior
# tests/test_staging_r11.py::test_adc_codeword_cache_actually_hits
# pins with an InMemoryTableScan count, so a canonicalization miss
# can't silently turn the persist into dead weight.
_ADC_SUB_PERSISTED: list[DataFrame] = []
_ADC_CODEWORDS_PERSISTED: list[DataFrame] = []
# r13: the corpus code-assignment frame (the built PQ INDEX — one
# row per (vector, subspace) with its argmin codeword) gets its own
# slot. The x500 profile pinned the code assignment as THE wall of
# the whole entry (the scored corpus x codes-per-subspace decimal
# folds + the argmin window): ~27 s of the 27.3 s x500 run, paid on
# EVERY execution while the search itself (broadcast probes + ADC
# lookups + top-k) is seconds. In production IVFPQ (faiss: add()
# vs search()) the index is built once per ingest batch and amortized
# across queries — persisting codes makes the entry's repeated-run
# cost match that contract, exactly like the residual search's three
# r12 slots.
_ADC_CODES_PERSISTED: list[DataFrame] = []


@register(
    "sim_ivf_pq_adc_search",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    {_SQL_PQ_PREFIX},
    ccomps AS (
        SELECT label, unnest(emb) AS val, generate_subscripts(emb, 1) AS dim
        FROM emb
    ),
    centroids AS (
        SELECT label, dim,
               CAST(CAST(SUM(CAST(val AS {_SQL_DEC})) AS VARCHAR) AS DOUBLE)
                   / COUNT(*) AS cval
        FROM ccomps GROUP BY label, dim
    ),
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
    codes AS (
        SELECT b.vec_id, e.label, b.s, b.code
        FROM best b JOIN emb e ON e.vec_id = b.vec_id
        WHERE b.rn = 1
    ),
    qdist AS (
        SELECT v.vec_id AS query_id, v.s, c.code,
               {_sql_sqdist('v.svec', 'c.cw')} AS qd
        FROM sub v JOIN codewords c ON c.s = v.s
        WHERE v.vec_id < {N_QUERIES}
    ),
    adc AS (
        SELECT p.query_id, cd.vec_id AS neighbor_id, SUM(q.qd) AS approx_d
        FROM codes cd
        JOIN probes p ON p.cell = cd.label
        JOIN qdist q ON q.query_id = p.query_id
                    AND q.s = cd.s AND q.code = cd.code
        WHERE cd.vec_id <> p.query_id
        GROUP BY p.query_id, cd.vec_id
    )
    SELECT query_id, neighbor_id,
           CAST(CAST(approx_d AS VARCHAR) AS DOUBLE) AS approx_dist_sq, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY approx_d, neighbor_id
        ) AS rnk
        FROM adc
    ) r WHERE rnk <= {TOP_K}
    """,
)
def sim_ivf_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF+PQ search (the faiss IndexIVFPQ shape):
    each query probes its {NPROBE} nearest IVF cells by exact
    centroid distance, and within the probed cells scores candidates
    by ADC — the sum of precomputed per-subspace codeword distances —
    instead of full-dimension dot products. Composes the two halves
    the registry already proves separately: sim_ivf_multiprobe
    (cell probing, full-precision scoring) and sim_pq_adc_topk
    (ADC scoring, full-corpus scan); this entry is the shape a real
    billion-vector deployment runs, where neither full-corpus ADC nor
    full-precision cell scans are affordable.

    Exactness: centroid ranking and the ADC lookup tables reuse the
    decimal + VARCHAR-hop machinery (bit-identical ranking across
    engines; ties break on cell / code / neighbor_id); cell ranking
    orders on the string->double hop of the decimal distance
    (similarity._sqdist_dbl), the same DOUBLE the oracle's
    _SQL_SQDIST ranks by (r10 ADVICE: ranking on the raw decimal
    tie-broke differently when two distances rounded to one double);
    the final approx distance is a {2}-term sum of decimal-derived
    doubles.

    Scale: the centroid table (k x dim) and the per-query artifacts
    (probe list: queries x nprobe rows; ADC tables: queries x
    subspaces x codes entries — kilobytes) all BROADCAST onto the
    corpus-codes scan; the probed-cell restriction is a broadcast
    semi-filter, per-(query, vector) sums combine map-side, and
    per-query top-k is a WindowGroupLimit. The corpus never shuffles
    and the scored volume drops from corpus x queries (sim_pq_adc_topk)
    to corpus x queries x nprobe / k — the IVF contract applied to
    the compressed domain.

    Routing (r15, the r14 VERDICT task-2 close): when a DECLARED
    materialized index matches this lake's content+construction
    fingerprint (pq_index_available below — the
    bucketed_lake_available ladder), the entry serves the SAME rows
    from the published parquet layout instead of building the index
    in-session: probed-cell restriction becomes storage-level dynamic
    partition pruning on the inverted-list files, and a cold session
    pays search-only cost (GATE_LOG r14 index-as-data numbers:
    ~27 s build vs ~0.9 s prebuilt search at x500). Output is
    bit-identical (fuzz-proven through the parquet round-trip), so
    the oracle covers both legs; SPARK_GRAFT_PQ_INDEX=0/1 pins the
    leg deterministically for gates and benches."""
    if pq_index_available(spark, sf_dir):
        return sim_ivf_pq_adc_prebuilt(spark, sf_dir)
    emb = _embeddings(spark, sf_dir)
    sub = _reuse_or_swap(_ADC_SUB_PERSISTED, _pq_subvectors(emb))
    codewords = _reuse_or_swap(_ADC_CODEWORDS_PERSISTED, _pq_codewords(sub))
    codes = _reuse_or_swap(
        _ADC_CODES_PERSISTED,
        _pq_best_codes(sub).select("vec_id", "label", "s", "code"),
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
    )
    cellrank = q.crossJoin(F.broadcast(_centroid_vectors(emb))).select(
        "query_id",
        F.col("label").alias("cell"),
        _sqdist_dbl(F.col("q_emb"), F.col("cvec")).alias("d2"),
    )
    cw = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        cellrank.withColumn("crnk", F.row_number().over(cw))
        .filter(F.col("crnk") <= NPROBE)
        .select("query_id", "cell")
    )
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
        codes.join(F.broadcast(probes), codes.label == F.col("cell"))
        .join(F.broadcast(qdist), ["query_id", "s", "code"])
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


# --- sim_ivf_pq_residual_search ------------------------------------------

# residual codebook size: codewords are keyed by vec_id % RESID_CODES
# (the registry's deterministic stand-in for a k-means assignment —
# the BUILD_MOD / label idiom), so training stays closed-form and the
# oracle expressible. Residual codes must NOT key on the IVF cell:
# within one cell the residual mean is ~0, which would collapse the
# codebook to near-zero words.
RESID_CODES = 4

# Persisted frames of the LAST invocation (graph_eval lifecycle, one
# slot per frame). Why three: the entry's tiny broadcast frames
# (centroids, residual codewords) and the corpus-code input (rsub)
# are each CONSUMED FROM MULTIPLE SUBTREES of one plan, and every
# BroadcastExchange re-runs its subtree as its own job — without the
# persists one search call pays the corpus scan+explode ~4x (r12
# profile at x200: cvecs built 3x, the 25.6M-row codebook agg 2x,
# the rsub explode 2x — 10.5 s wall, 2.11x DuckDB, vs 1.71x at x100
# because DuckDB's materialized CTEs pay each subtree ONCE). Lazy
# persists (no count — the construction-laziness test still holds);
# the first consumer fills each cache.
_RESID_CVECS_PERSISTED: list[DataFrame] = []
_RESID_RSUB_PERSISTED: list[DataFrame] = []
_RESID_CODEWORDS_PERSISTED: list[DataFrame] = []
_RESID_CODES_PERSISTED: list[DataFrame] = []

_SQL_RESID_SUBS = f"""
    resid AS (
        SELECT e.vec_id, e.label, e.vec_id % {RESID_CODES} AS ckey,
               list_transform(list_zip(e.emb, v.cvec), x -> x[1] - x[2]) AS remb
        FROM emb e JOIN cvecs v ON v.label = e.label
    ),
    rsub AS (
        SELECT vec_id, label, ckey, s,
               CASE s WHEN 0 THEN remb[1:{PQ_SUBDIM}]
                      ELSE remb[{PQ_SUBDIM + 1}:{DIM}] END AS svec
        FROM resid, (SELECT 0 AS s UNION ALL SELECT 1) subs
    ),
    rcomps AS (
        SELECT s, ckey, unnest(svec) AS val,
               generate_subscripts(svec, 1) AS dim
        FROM rsub
    ),
    rcodebook AS (
        SELECT s, ckey AS code, dim,
               CAST(CAST(SUM(CAST(val AS {_SQL_DEC})) AS VARCHAR) AS DOUBLE)
                   / COUNT(*) AS cval
        FROM rcomps GROUP BY s, ckey, dim
    ),
    rcodewords AS (
        SELECT s, code, list(cval ORDER BY dim) AS cw
        FROM rcodebook GROUP BY s, code
    ),
    rdists AS (
        SELECT v.vec_id, v.label, v.s, c.code,
               {_sql_sqdist('v.svec', 'c.cw')} AS d
        FROM rsub v JOIN rcodewords c ON c.s = v.s
    ),
    rbest AS (
        SELECT vec_id, label, s, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d, code) AS rn
        FROM rdists
    )"""


@register(
    "sim_ivf_pq_residual_search",
    oracle=f"""
    WITH emb AS ({_SQL_EMB}),
    {_SQL_CENTROIDS},
    cvecs AS (
        SELECT label, list(cval ORDER BY dim) AS cvec FROM centroids GROUP BY label
    ),
    {_SQL_RESID_SUBS},
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
    qresid AS (
        SELECT p.query_id, p.cell,
               list_transform(list_zip(q.q_emb, v.cvec), x -> x[1] - x[2]) AS remb
        FROM probes p
        JOIN queries q ON q.query_id = p.query_id
        JOIN cvecs v ON v.label = p.cell
    ),
    qrsub AS (
        SELECT query_id, cell, s,
               CASE s WHEN 0 THEN remb[1:{PQ_SUBDIM}]
                      ELSE remb[{PQ_SUBDIM + 1}:{DIM}] END AS svec
        FROM qresid, (SELECT 0 AS s UNION ALL SELECT 1) subs
    ),
    qdist AS (
        SELECT v.query_id, v.cell, v.s, c.code,
               {_sql_sqdist('v.svec', 'c.cw')} AS qd
        FROM qrsub v JOIN rcodewords c ON c.s = v.s
    ),
    adc AS (
        SELECT q.query_id, cd.vec_id AS neighbor_id, SUM(q.qd) AS approx_d
        FROM rbest cd
        JOIN qdist q ON q.cell = cd.label
                    AND q.s = cd.s AND q.code = cd.code
        WHERE cd.rn = 1 AND cd.vec_id <> q.query_id
        GROUP BY q.query_id, cd.vec_id
    )
    SELECT query_id, neighbor_id,
           CAST(CAST(approx_d AS VARCHAR) AS DOUBLE) AS approx_dist_sq, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY approx_d, neighbor_id
        ) AS rnk
        FROM adc
    ) r WHERE rnk <= {TOP_K}
    """,
)
def sim_ivf_pq_residual_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL-encoded IVF+PQ search — the faithful faiss IndexIVFPQ:
    vectors are PQ-encoded as the residual x - centroid(cell(x))
    rather than the raw vector, and each query builds a SEPARATE ADC
    lookup table per probed cell from ITS residual q - centroid(cell).
    Residual encoding is why real IVFPQ indexes quantize well: within
    a cell the residual distribution is centered, so a shared codebook
    spends its codewords on the local geometry instead of the global
    spread. Completes the staged sim_ivf_pq_adc_search (raw-vector
    ADC) to the production algorithm.

    Exactness: centroids, residual codebooks, code assignment, and
    ADC tables all reuse the decimal + VARCHAR-hop machinery; cell
    ranking orders on the string->double hop (the r10 ADVICE
    convention); residuals themselves are single IEEE double
    subtractions of decimal-derived values — bit-identical across
    engines. Ties break on code / cell / neighbor_id everywhere.

    Scale: same contract as the non-residual search — the centroid
    table, residual codebooks (RESID_CODES x {2} x subdim), probe
    lists, and the per-(query, cell) ADC tables (queries x nprobe x
    subspaces x codes rows — kilobytes) all BROADCAST onto the
    corpus-codes scan; per-(query, vector) sums combine map-side;
    per-query top-k is a WindowGroupLimit; the corpus never shuffles.
    The extra nprobe factor on the ADC tables is the documented
    faiss trade: residual tables cannot be shared across cells.

    Measured (r12, x200 = 400k vecs, same-session A/B): the lazy
    persists above are worth ~25% of the wall — 11.7 s/1.55x with
    them vs 14.7 s/2.06x without (paired against DuckDB 7.1-7.6 s on
    the same box state; an earlier 10.5 s/2.11x pre-persist pair sat
    on a DuckDB page-cache-cold 5.0 s denominator — the ratio, not
    the raw wall, is the comparable number across box drift). Curve:
    2.66x (x20) -> 1.71x (x100) -> 1.55x (x200).

    Routing (r15, the r14 VERDICT task-2 close): identical ladder to
    sim_ivf_pq_adc_search — a DECLARED materialized index (v2 layout:
    resid_codewords + resid_codes inverted lists) serves the same
    rows with file-level partition pruning and search-only cold cost;
    SPARK_GRAFT_PQ_INDEX pins the leg; outputs are bit-identical
    through the parquet round-trip (fuzz-proven), so the oracle
    covers both legs."""
    if pq_index_available(spark, sf_dir):
        return sim_ivf_pq_residual_prebuilt(spark, sf_dir)
    emb = _embeddings(spark, sf_dir)
    cvecs = _reuse_or_swap(_RESID_CVECS_PERSISTED, _centroid_vectors(emb))
    resid = emb.join(F.broadcast(cvecs), "label").select(
        "vec_id",
        "label",
        (F.col("vec_id") % RESID_CODES).alias("ckey"),
        F.zip_with("emb", "cvec", lambda x, c: x - c).alias("emb"),
    )
    rsub = _reuse_or_swap(
        _RESID_RSUB_PERSISTED,
        _pq_subvectors(resid).withColumn("ckey", F.col("vec_id") % RESID_CODES),
    )
    # closed-form residual codebook: per (s, ckey) subvector means
    rcomps = rsub.select("s", "ckey", F.posexplode("svec").alias("dim", "val"))
    rcodebook = rcomps.groupBy("s", F.col("ckey").alias("code"), "dim").agg(
        (
            F.sum(F.col("val").cast(_DEC)).cast("string").cast("double")
            / F.count("*")
        ).alias("cval")
    )
    rcodewords = _reuse_or_swap(
        _RESID_CODEWORDS_PERSISTED,
        rcodebook.groupBy("s", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                lambda st: st["cval"],
            ).alias("cw")
        ),
    )
    rdists = rsub.join(F.broadcast(rcodewords), "s").select(
        "vec_id",
        "label",
        "s",
        "code",
        _sqdist(F.col("svec"), F.col("cw")).alias("d"),
    )
    rw = Window.partitionBy("vec_id", "s").orderBy("d", "code")
    codes = _reuse_or_swap(
        _RESID_CODES_PERSISTED,
        rdists.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "s", "code"),
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
    )
    cellrank = q.crossJoin(F.broadcast(cvecs)).select(
        "query_id",
        F.col("label").alias("cell"),
        "q_emb",
        _sqdist_dbl(F.col("q_emb"), F.col("cvec")).alias("d2"),
    )
    cw = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        cellrank.withColumn("crnk", F.row_number().over(cw))
        .filter(F.col("crnk") <= NPROBE)
        .select("query_id", "cell", "q_emb")
    )
    qresid = probes.join(
        F.broadcast(cvecs.select(F.col("label").alias("cell"), "cvec")), "cell"
    ).select(
        F.col("query_id").alias("vec_id"),
        F.col("cell").alias("label"),  # rides through _pq_subvectors
        F.zip_with("q_emb", "cvec", lambda x, c: x - c).alias("emb"),
    )
    qrsub = _pq_subvectors(qresid).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("cell"),
        "s",
        "svec",
    )
    qdist = qrsub.join(F.broadcast(rcodewords), "s").select(
        "query_id",
        "cell",
        "s",
        "code",
        _sqdist(F.col("svec"), F.col("cw")).alias("qd"),
    )
    adc = (
        codes.join(
            F.broadcast(qdist),
            (codes.label == qdist.cell) & (codes.s == qdist.s) & (codes.code == qdist.code),
        )
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


# --- plan-source digest (the prebuilt index's code key) -----------------


def _module_assignments(mod) -> dict[str, str]:
    """name -> SOURCE TEXT of every top-level assignment in ``mod``.
    The digest hashes the assignment text, not the runtime value:
    values like ``_COMPACT_ROOT = f"/tmp/..._{os.getpid()}"`` vary
    per process while their source is stable, and the source is what
    an edit actually changes."""
    import ast

    cache = getattr(mod, "__plan_digest_assigns__", None)
    if cache is not None:
        return cache
    out: dict[str, str] = {}
    try:
        src = inspect.getsource(mod)
        tree = ast.parse(src)
    except (OSError, TypeError, SyntaxError):
        mod.__plan_digest_assigns__ = out
        return out
    for node in tree.body:
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        seg = ast.get_source_segment(src, node) or ""
        for t in targets:
            if isinstance(t, ast.Name):
                out[t.id] = seg
    mod.__plan_digest_assigns__ = out
    return out


def _referenced_names(fn) -> set[str]:
    """Every global name the function's code (and nested lambdas /
    inner defs / comprehensions) references, plus its free variables
    (r13 ADVICE: a same-module helper reached through a closure cell
    appears in co_freevars, not co_names — without this walk it would
    escape the digest closure)."""
    names: set[str] = set()
    codes = [fn.__code__]
    while codes:
        c = codes.pop()
        names.update(c.co_names)
        names.update(c.co_freevars)
        for const in c.co_consts:
            if isinstance(const, types.CodeType):
                codes.append(const)
    return names


def _closure_functions(fn):
    """Functions captured in ``fn``'s closure cells (same-module
    helpers bound as freevars rather than globals)."""
    out = []
    for cell in fn.__closure__ or ():
        try:
            val = cell.cell_contents
        except ValueError:  # empty cell
            continue
        if isinstance(val, types.FunctionType):
            out.append(val)
    return out


def plan_source_digest(fn) -> str:
    """sha256 (16 hex chars) over the transitive same-module source
    closure of ``fn``: its own source, the source of every same-module
    function it reaches (through globals, nested code objects and
    closure cells), and the assignment text of every same-module
    constant it reads. An edit to a helper or a constant therefore
    changes the digest, not only an edit to ``fn``'s own body."""
    mod = sys.modules.get(fn.__module__)
    assigns = _module_assignments(mod) if mod is not None else {}
    seen: set[tuple[str, str]] = set()
    stack = [fn]
    parts: list[str] = []
    consts: dict[str, str] = {}
    while stack:
        f = stack.pop()
        # key includes firstlineno (r13 ADVICE: two module-level
        # assigned lambdas are both qualnamed '<lambda>' — a
        # name-only key would silently drop the second one's source)
        key = (f.__module__, f.__qualname__, f.__code__.co_firstlineno)
        if key in seen:
            continue
        seen.add(key)
        try:
            parts.append(inspect.getsource(f))
        except (OSError, TypeError):
            # dynamically-built function without retrievable source:
            # contribute its qualname so at least identity changes show
            parts.append(f"<nosource:{f.__module__}.{f.__qualname__}>")
            continue
        for g in _closure_functions(f):
            if g.__module__ == fn.__module__:
                stack.append(g)
        if mod is None:
            continue
        for name in sorted(_referenced_names(f)):
            g = getattr(mod, name, None)
            if isinstance(g, types.FunctionType) and g.__module__ == fn.__module__:
                stack.append(g)
            elif name in assigns:
                consts[name] = assigns[name]
    parts.sort()
    parts.extend(f"{k}::{v}" for k, v in sorted(consts.items()))
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


# --- prebuilt PQ index (the index as lake data) --------------------------

# The r13 _reuse_or_swap lifecycle amortizes the PQ index build
# (codeword training + corpus code assignment — ~27 s of the adc
# entry's 27.3 s x500 wall) across invocations WITHIN a session. This
# experiment takes the design to its production conclusion (the r13
# VERDICT task-6 suggestion): materialize the index AS LAKE TABLES —
# centroids, codewords, and the corpus codes written as parquet by an
# explicit build step — so even a COLD session pays only the search.
# faiss writes its index to disk for exactly this reason; in Spark the
# natural encoding is "the index is data":
#
# - codes are written PARTITIONED BY label (the IVF cell): the
#   inverted-list file layout. The probed-cell restriction then
#   becomes storage-level partition pruning — a query that probes 2 of
#   k cells never reads the other cells' files at all, which at 100 TB
#   is the difference between scanning the corpus-codes table and
#   scanning nprobe/k of it. (In-session the same restriction is a
#   broadcast semi-filter AFTER the scan.)
# - codewords / centroids are kilobyte tables; they broadcast.
#
# Build cost is paid once per ingest batch (the faiss add() contract),
# publish is atomic (staging dir + rename, the bucketed-layout
# protocol), and the tag fingerprints the embeddings file AND the
# construction source so neither a regenerated lake nor drifted build
# code can ever serve a stale index.
#
# Root (r14 ADVICE, r14 VERDICT task 5): per-user and env-overridable,
# NOT a fixed world-writable /tmp path — a shared predictable root let
# any local user pre-create a tag dir and poison the manifest, and
# made makedirs fail when another uid owned it. The default lives
# under tempdir with a uid suffix and 0o700; deployments point
# SPARK_GRAFT_PQ_INDEX_ROOT at a lake-adjacent durable path (the
# bucketed warehouse precedent).
_PQ_ROOT_ENV = "SPARK_GRAFT_PQ_INDEX_ROOT"
# bumped whenever the published layout gains/changes tables (v2 added
# the residual codebook + residual codes); part of the tag, so stale
# layouts are simply orphaned, never half-read
_PQ_INDEX_VERSION = 2


def _pq_index_root() -> str:
    """Resolve (and create, 0o700) the index root. Refuses a root
    owned by another uid: a poisoned pre-created root must fail loudly
    rather than serve someone else's manifests."""
    import os as _os
    import tempfile as _tempfile

    root = _os.environ.get(_PQ_ROOT_ENV)
    if not root:
        uid = _os.getuid() if hasattr(_os, "getuid") else "win"
        root = _os.path.join(
            _tempfile.gettempdir(), f"noaa_spark_pq_index_{uid}"
        )
    _os.makedirs(root, mode=0o700, exist_ok=True)
    if hasattr(_os, "getuid"):
        st = _os.stat(root)
        if st.st_uid != _os.getuid():
            raise RuntimeError(
                f"PQ index root {root!r} is owned by uid {st.st_uid}, "
                f"not {_os.getuid()} — refusing to trust its manifests "
                f"(set {_PQ_ROOT_ENV} to a directory you own)"
            )
    return root


# Computed once per process: the construction-source fingerprint that
# rides the tag (r14 ADVICE). The published dir outlives the session
# AND the commit that built it, so the tag must change whenever the
# build ALGORITHM changes — not only when _PQ_INDEX_VERSION is
# remembered to be bumped. plan_source_digest walks the transitive
# same-module closure (helpers + referenced constants, RESID_CODES
# included), so hashing it for build_pq_index plus the cross-module
# similarity helpers it composes covers every constant that shapes
# the stored bytes: PQ_M/PQ_SUBDIM/_DEC inside the similarity
# closures.
_PQ_CODE_DIGEST: list[str] = []


def _pq_index_code_digest() -> str:
    import hashlib as _hashlib

    if _PQ_CODE_DIGEST:
        return _PQ_CODE_DIGEST[0]
    from . import similarity as _sim

    parts = [
        plan_source_digest(fn)
        for fn in (
            build_pq_index,
            _sim._pq_subvectors,
            _sim._pq_codewords,
            _sim._pq_best_codes,
            _sim._centroid_vectors,
            _sim._sqdist,
            _sim._embeddings,
        )
    ]
    h = _hashlib.sha256("|".join(parts).encode()).hexdigest()[:12]
    _PQ_CODE_DIGEST.append(h)
    return h


def _pq_lake_base(sf_dir: str) -> str:
    import re as _re

    return _re.sub(r"[^a-z0-9]+", "_", sf_dir.strip("/").split("/")[-1].lower())


def _pq_index_tag(sf_dir: str) -> str:
    """Cache key: lake basename + hash of (full path, file count,
    total bytes, max mtime) of the embeddings parquet — the
    _bucket_tag recipe (plans/scale.py) — folded with the layout
    version AND the construction-source digest, so lake regeneration
    and build-code drift each orphan the published dir automatically."""
    import glob as _glob
    import hashlib as _hashlib
    import os as _os

    base = _pq_lake_base(sf_dir)
    n_files, total, mtime = 0, 0, 0.0
    for p in _glob.glob(_os.path.join(sf_dir, "embeddings*")):
        paths = (
            [
                q
                for q in _glob.glob(_os.path.join(p, "**", "*"), recursive=True)
                if _os.path.isfile(q)
            ]
            if _os.path.isdir(p)
            else [p]
        )
        for q in paths:
            st = _os.stat(q)
            n_files += 1
            total += st.st_size
            mtime = max(mtime, st.st_mtime)
    fp = _hashlib.sha256(
        f"{_os.path.abspath(sf_dir)}|{n_files}|{total}|{mtime}"
        f"|v{_PQ_INDEX_VERSION}|code{_pq_index_code_digest()}".encode()
    ).hexdigest()[:12]
    return f"{base}_{fp}"


def _read_pq_manifest(tag: str) -> dict | None:
    """Manifest of a published index dir, or None when absent or
    unreadable/mismatched (a half-deleted or foreign dir reads as
    no index — the bucketed half-deleted-layout rule)."""
    import json as _json
    import os as _os

    path = _os.path.join(_pq_index_root(), tag, "manifest.json")
    try:
        with open(path) as fh:
            m = _json.load(fh)
    except (OSError, ValueError):
        return None
    if m.get("tag") != tag or m.get("version") != _PQ_INDEX_VERSION:
        return None
    return m


def build_pq_index(
    spark: SparkSession, sf_dir: str, declare: bool | None = None
) -> str:
    """Explicit PQ index BUILD step: train codewords, assign corpus
    codes, and publish {centroids, codewords, codes} as parquet under
    a content-fingerprinted directory. Idempotent attach: if the tag
    is already published, returns immediately without a job. The
    build persists the subvector explode (three consumers) for the
    duration of the write and unpersists after — the one-time ingest
    cost the prebuilt search amortizes across sessions.

    ``declare`` marks the manifest as a DECLARED serving index (the
    bucketed warehouse:true precedent, plans/scale.py): only declared
    indexes flip env-unset routing in :func:`pq_index_available`, so
    an INCIDENTAL build (a fuzz test, a one-off staged run) never
    changes which physical plan a later cold session executes.
    Default: declared iff SPARK_GRAFT_PQ_INDEX=1 (the warehouse
    profile). A successful publish also garbage-collects orphans —
    same-lake dirs with a different fingerprint, wrong-version or
    wrong-code-digest layouts, abandoned staging dirs — bounding the
    root's growth (r14 VERDICT task 5)."""
    import json as _json
    import os as _os
    import shutil as _shutil

    from pyspark.sql import Window as _Window

    from .similarity import (
        _DEC,
        _centroid_vectors,
        _embeddings,
        _pq_best_codes,
        _pq_codewords,
        _pq_subvectors,
        _sqdist,
    )

    if declare is None:
        declare = _os.environ.get("SPARK_GRAFT_PQ_INDEX") == "1"
    root = _pq_index_root()
    tag = _pq_index_tag(sf_dir)
    final = _os.path.join(root, tag)
    existing = _read_pq_manifest(tag)
    if existing is not None:
        if declare and not existing.get("declared"):
            # durable declaration upgrade without a rebuild: atomic
            # manifest swap (write-new + rename) inside the published
            # dir, so concurrent readers see old-or-new, never half
            existing["declared"] = True
            tmp = _os.path.join(final, ".manifest.json.tmp")
            with open(tmp, "w") as fh:
                _json.dump(existing, fh)
            _os.replace(tmp, _os.path.join(final, "manifest.json"))
        return final
    staging = _os.path.join(root, f".build_{tag}_{_os.getpid()}")
    _shutil.rmtree(staging, ignore_errors=True)
    _os.makedirs(staging, exist_ok=True)
    emb = _embeddings(spark, sf_dir)
    sub = _pq_subvectors(emb).persist()
    codewords = _pq_codewords(sub).persist()
    cvecs = _centroid_vectors(emb).persist()
    # residual half (v2): the same expression construction as the
    # registered sim_ivf_pq_residual_search index frames, so the
    # parquet round-trip stays bit-identical to the in-session entry
    resid = emb.join(F.broadcast(cvecs), "label").select(
        "vec_id",
        "label",
        (F.col("vec_id") % RESID_CODES).alias("ckey"),
        F.zip_with("emb", "cvec", lambda x, c: x - c).alias("emb"),
    )
    rsub = (
        _pq_subvectors(resid)
        .withColumn("ckey", F.col("vec_id") % RESID_CODES)
        .persist()
    )
    rcomps = rsub.select("s", "ckey", F.posexplode("svec").alias("dim", "val"))
    rcodebook = rcomps.groupBy("s", F.col("ckey").alias("code"), "dim").agg(
        (
            F.sum(F.col("val").cast(_DEC)).cast("string").cast("double")
            / F.count("*")
        ).alias("cval")
    )
    rcodewords = rcodebook.groupBy("s", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cval"))),
            lambda st: st["cval"],
        ).alias("cw")
    ).persist()
    rdists = rsub.join(F.broadcast(rcodewords), "s").select(
        "vec_id",
        "label",
        "s",
        "code",
        _sqdist(F.col("svec"), F.col("cw")).alias("d"),
    )
    rw = _Window.partitionBy("vec_id", "s").orderBy("d", "code")
    rcodes = (
        rdists.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "code", "label")
    )
    try:
        cvecs.write.parquet(_os.path.join(staging, "centroids"))
        codewords.write.parquet(_os.path.join(staging, "codewords"))
        rcodewords.write.parquet(_os.path.join(staging, "resid_codewords"))
        # inverted-list layout: one partition dir per IVF cell, so the
        # probed-cell join prunes at the file level (see module note)
        (
            _pq_best_codes(sub)
            .select("vec_id", "s", "code", "label")
            .write.partitionBy("label")
            .parquet(_os.path.join(staging, "codes"))
        )
        rcodes.write.partitionBy("label").parquet(
            _os.path.join(staging, "resid_codes")
        )
        with open(_os.path.join(staging, "manifest.json"), "w") as fh:
            _json.dump(
                {
                    "sf_dir": _os.path.abspath(sf_dir),
                    "tag": tag,
                    "version": _PQ_INDEX_VERSION,
                    "code_digest": _pq_index_code_digest(),
                    "declared": bool(declare),
                },
                fh,
            )
        try:
            _os.rename(staging, final)
        except OSError:
            # lost the publish race to a concurrent builder: keep the
            # winner's complete index (rename onto an existing
            # non-empty dir fails on POSIX — unlike file renames, so
            # link(2) is not needed here)
            _shutil.rmtree(staging, ignore_errors=True)
    finally:
        for frame in (sub, codewords, cvecs, rsub, rcodewords):
            frame.unpersist()
    _gc_pq_index_root(keep_tag=tag, lake_base=_pq_lake_base(sf_dir))
    return final


def declare_pq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (if absent) and durably DECLARE the lake's serving index:
    after this, a cold env-unset session routes the registered IVFPQ
    searches through the materialized layout — the declare_warehouse
    twin (plans/scale.py) for the vector index."""
    return build_pq_index(spark, sf_dir, declare=True)


def pq_index_available(spark: SparkSession, sf_dir: str) -> bool:
    """Index-layout router predicate (the bucketed_lake_available
    ladder, plans/scale.py):

    1. ``SPARK_GRAFT_PQ_INDEX=1`` — warehouse profile: route through
       the materialized index; the first consumer builds/publishes it
       via :func:`build_pq_index`.
    2. ``SPARK_GRAFT_PQ_INDEX=0`` — pin the in-session build (the
       correctness gates set this leg explicitly so oracle evidence
       deterministically covers the un-routed plans).
    3. env unset — route iff a DECLARED manifest for this exact lake
       fingerprint + construction-source digest exists on disk. An
       incidental (undeclared) publish never flips routing; a
       declared one serves cold sessions with search-only cost.
    """
    import os as _os

    env = _os.environ.get("SPARK_GRAFT_PQ_INDEX")
    if env == "1":
        return True
    if env == "0":
        return False
    m = _read_pq_manifest(_pq_index_tag(sf_dir))
    return bool(m and m.get("declared"))


# staging dirs older than this are abandoned (a crashed builder's pid
# may have been recycled, so age — not liveness — is the tombstone)
_PQ_GC_STAGING_AGE_S = 3600.0


def _gc_pq_index_root(keep_tag: str, lake_base: str) -> None:
    """Prune orphans under the index root after a successful publish:

    - same-lake dirs (``{lake_base}_*``) whose tag differs from the
      one just published — superseded by lake regeneration or build-
      code drift (the content tag makes them unreachable anyway);
    - any published dir whose manifest is missing, unreadable, or
      carries a stale version / construction digest — unreachable by
      every current reader (:func:`_read_pq_manifest` rejects them);
    - abandoned ``.build_*`` staging dirs older than an hour.

    Never touches the just-published ``keep_tag`` or other lakes'
    current-version dirs (sf0.001/sf0.01/sf0.1 coexist)."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import time as _time

    root = _pq_index_root()
    now = _time.time()
    for name in _os.listdir(root):
        path = _os.path.join(root, name)
        if name == keep_tag or not _os.path.isdir(path):
            continue
        if name.startswith(".build_"):
            try:
                age = now - _os.stat(path).st_mtime
            except OSError:
                continue
            if age > _PQ_GC_STAGING_AGE_S:
                _shutil.rmtree(path, ignore_errors=True)
            continue
        try:
            with open(_os.path.join(path, "manifest.json")) as fh:
                m = _json.load(fh)
        except (OSError, ValueError):
            m = None
        stale = (
            m is None
            or m.get("tag") != name
            or m.get("version") != _PQ_INDEX_VERSION
            or m.get("code_digest") != _pq_index_code_digest()
            # source lake gone (fuzz tmp dirs): the content tag can
            # never be recomputed to reach this dir again
            or not _os.path.isdir(m.get("sf_dir", ""))
        )
        if stale or name.startswith(f"{lake_base}_"):
            _shutil.rmtree(path, ignore_errors=True)


# Attached index frames, keyed by (applicationId, published dir):
# re-attaching the same static index on every construction would
# re-read the parquet footers (three driver jobs per call — the
# laziness test catches it); the published dir is immutable once the
# manifest exists, so the DataFrames are safely reusable for the
# session's lifetime. Bounded: one published dir per lake fingerprint.
_PQ_ATTACH_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def _attach_pq_index(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    import os as _os

    idx = build_pq_index(spark, sf_dir)
    key = (spark.sparkContext.applicationId, idx)
    cached = _PQ_ATTACH_CACHE.get(key)
    if cached is None:
        cached = {
            name: spark.read.parquet(_os.path.join(idx, name))
            for name in (
                "codes",
                "codewords",
                "centroids",
                "resid_codewords",
                "resid_codes",
            )
        }
        _PQ_ATTACH_CACHE[key] = cached
    return cached


@register(
    "sim_ivf_pq_adc_prebuilt",
    tier="staged",
    oracle=CATALOG["sim_ivf_pq_adc_search"].oracle,  # the parent's oracle, byte for byte
)
def sim_ivf_pq_adc_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivf_pq_adc_search semantics over the MATERIALIZED index:
    reads centroids/codewords/codes from the published parquet index
    (building it first if absent) and runs only the search — probe
    ranking, query ADC tables, the probed-cell candidate scan, top-k.
    Output is bit-identical to the in-session entry (doubles
    round-trip parquet exactly; the code/cell integers trivially so),
    so it shares that entry's DuckDB oracle verbatim.

    Scale story vs the in-session entry: identical search plan, but
    the candidate scan reads the inverted-list layout, so the
    probed-cell restriction prunes unread cells at the FILE level and
    a cold session pays index-scan-not-index-build. Numbers in
    GATE_LOG (r14 index-as-data comparison)."""
    from .similarity import (
        NPROBE,
        N_QUERIES,
        TOP_K,
        _embeddings,
        _pq_subvectors,
        _sqdist,
        _sqdist_dbl,
    )
    from pyspark.sql import Window

    tables = _attach_pq_index(spark, sf_dir)
    codes, codewords, cvecs = (
        tables["codes"],
        tables["codewords"],
        tables["centroids"],
    )
    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
    )
    cellrank = q.crossJoin(F.broadcast(cvecs)).select(
        "query_id",
        F.col("label").alias("cell"),
        _sqdist_dbl(F.col("q_emb"), F.col("cvec")).alias("d2"),
    )
    cw = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        cellrank.withColumn("crnk", F.row_number().over(cw))
        .filter(F.col("crnk") <= NPROBE)
        .select("query_id", "cell")
    )
    qdist = (
        _pq_subvectors(emb.filter(F.col("vec_id") < N_QUERIES))
        .join(F.broadcast(codewords), "s")
        .select(
            F.col("vec_id").alias("query_id"),
            "s",
            "code",
            _sqdist(F.col("svec"), F.col("cw")).alias("qd"),
        )
    )
    adc = (
        codes.join(F.broadcast(probes), codes.label == F.col("cell"))
        .join(F.broadcast(qdist), ["query_id", "s", "code"])
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
    "sim_ivf_pq_residual_prebuilt",
    tier="staged",
    oracle=CATALOG["sim_ivf_pq_residual_search"].oracle,  # the parent's oracle, byte for byte
)
def sim_ivf_pq_residual_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivf_pq_residual_search semantics over the MATERIALIZED
    index (the v2 layout adds resid_codewords + resid_codes, the
    latter as inverted lists): probe ranking against the stored
    centroids, per-(query, cell) residual ADC tables against the
    stored residual codebook, candidate scan over the resid_codes
    partitions with the probed-cell restriction pruning at the file
    level. Bit-identical to the in-session entry (same construction,
    doubles round-trip parquet exactly) — shares its DuckDB oracle
    verbatim. The residual completion of sim_ivf_pq_adc_prebuilt."""
    from .similarity import (
        NPROBE,
        N_QUERIES,
        TOP_K,
        _embeddings,
        _pq_subvectors,
        _sqdist,
        _sqdist_dbl,
    )
    from pyspark.sql import Window

    tables = _attach_pq_index(spark, sf_dir)
    cvecs, rcodewords, rcodes = (
        tables["centroids"],
        tables["resid_codewords"],
        tables["resid_codes"],
    )
    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
    )
    cellrank = q.crossJoin(F.broadcast(cvecs)).select(
        "query_id",
        F.col("label").alias("cell"),
        "q_emb",
        _sqdist_dbl(F.col("q_emb"), F.col("cvec")).alias("d2"),
    )
    cw = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        cellrank.withColumn("crnk", F.row_number().over(cw))
        .filter(F.col("crnk") <= NPROBE)
        .select("query_id", "cell", "q_emb")
    )
    qresid = probes.join(
        F.broadcast(cvecs.select(F.col("label").alias("cell"), "cvec")), "cell"
    ).select(
        F.col("query_id").alias("vec_id"),
        F.col("cell").alias("label"),  # rides through _pq_subvectors
        F.zip_with("q_emb", "cvec", lambda x, c: x - c).alias("emb"),
    )
    qrsub = _pq_subvectors(qresid).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("cell"),
        "s",
        "svec",
    )
    qdist = qrsub.join(F.broadcast(rcodewords), "s").select(
        "query_id",
        "cell",
        "s",
        "code",
        _sqdist(F.col("svec"), F.col("cw")).alias("qd"),
    )
    adc = (
        rcodes.join(
            F.broadcast(qdist),
            (rcodes.label == qdist.cell)
            & (rcodes.s == qdist.s)
            & (rcodes.code == qdist.code),
        )
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
