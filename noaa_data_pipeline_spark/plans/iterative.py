"""Iterative algorithms as driver-looped DataFrame programs.

Spark's model for iteration is a driver loop over declarative steps
with persisted intermediates — each iteration is one distributed
pass, lineage is cut between rounds so plans stay bounded. K-means
over the embeddings table is the demonstrator (it is also the real
assignment step the IVF index in plans/similarity.py stands on).

Determinism: centroids initialize from the k lowest vec_ids,
distance comparisons break ties by centroid id, and centroid means
use scaled-long exact sums — the result is reproducible across
partitionings and runs. No SQL oracle (multi-round iteration isn't a
single query); tests/test_iterative.py checks against an independent
numpy implementation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from . import register
from .common import SCALE, _swap_persisted

K = 8
ITERATIONS = 5
DIM = 64


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest centroid per vector by squared L2; ties -> lowest cid.
    Scale: centroids broadcast (k x dim doubles); assignment is one
    map-side pass over the corpus, no shuffle."""
    dist = F.aggregate(
        F.zip_with(F.col("emb"), F.col("c_emb"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        emb.crossJoin(F.broadcast(centroids))
        .select("vec_id", "emb", "cid", dist.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "emb", "cid")
    )


def _recompute(assigned: DataFrame) -> DataFrame:
    """New centroid = per-dimension mean of member vectors, computed
    with scaled-long exact sums then reassembled into an array.
    Scale: one shuffle on (cid, dim) — map-side combined; the
    centroid frame is k rows."""
    comps = assigned.select(
        "cid", F.posexplode("emb").alias("dim", "val")
    )
    means = comps.groupBy("cid", "dim").agg(
        (
            (F.sum(F.floor(F.col("val") * SCALE).cast("long")).cast("double") / SCALE)
            / F.count("val")
        ).alias("mean")
    )
    return (
        means.groupBy("cid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "mean"))), lambda s: s.mean
            ).alias("c_emb")
        )
    )


def kmeans(
    spark: SparkSession, emb: DataFrame, k: int = K, iterations: int = ITERATIONS
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means: returns (assignments, centroids)."""
    centroids = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("c_emb"))
    )
    assigned = None
    for _ in range(iterations):
        assigned = _assign(emb, centroids)
        # persist + materialize: cuts lineage so iteration i+1's plan
        # doesn't replay iterations 0..i, and stops the concurrent
        # broadcast build from re-running the previous round
        assigned = assigned.persist()
        assigned.count()
        centroids = _recompute(assigned).persist()
        centroids.count()
    return assigned, centroids


def _kmeans_oracle_sql(k: int = K, iterations: int = ITERATIONS) -> str:
    """DuckDB exact twin of the Lloyd loop, unrolled: ``iterations``
    assign CTEs interleaved with ``iterations - 1`` recompute CTEs
    (the final recompute never reaches the output). Cross-engine
    determinism: centroid means use the identical scaled-long
    formula as :func:`_recompute`; squared-L2 distances accumulate
    dimension-by-dimension in index order in both engines (Spark
    F.aggregate fold vs DuckDB list_sum) and argmin ties break on
    cid; and the emitted columns are integers only."""
    dist = (
        "list_sum(list_transform(list_zip(e.emb, c.c_emb), "
        "x -> (x[1] - x[2]) * (x[1] - x[2])))"
    )
    parts = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
        f"cent0 AS (SELECT vec_id AS cid, emb AS c_emb FROM emb ORDER BY vec_id LIMIT {k})",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""assign{i} AS (
            SELECT vec_id, emb, cid FROM (
                SELECT e.vec_id, e.emb, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id ORDER BY {dist}, c.cid
                       ) AS rn
                FROM emb e CROSS JOIN cent{i - 1} c
            ) ranked WHERE rn = 1
        )"""
        )
        if i < iterations:
            parts.append(
                f"""cent{i} AS (
                SELECT cid, list(mean ORDER BY dim) AS c_emb FROM (
                    SELECT cid, dim,
                           (CAST(SUM(CAST(FLOOR(val * {SCALE}) AS BIGINT)) AS DOUBLE)
                               / {SCALE}) / COUNT(val) AS mean
                    FROM (
                        SELECT cid, generate_subscripts(emb, 1) AS dim,
                               unnest(emb) AS val
                        FROM assign{i}
                    ) comps
                    GROUP BY cid, dim
                ) m GROUP BY cid
            )"""
            )
    ctes = ",\n".join(parts)
    return f"""
    WITH {ctes}
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(vec_id) AS lowest_member
    FROM assign{iterations}
    GROUP BY cid
    """


@register("kmeans_embeddings", oracle=_kmeans_oracle_sql())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster sizes after {ITERATIONS} Lloyd iterations.
    Oracle-checked: the driver loop has an exact unrolled-SQL twin
    (_kmeans_oracle_sql) — centroid means are scaled-long exact in
    both engines, distance argmin ties break on cid, and the output
    is integer-only, so the hash gate applies to an iterative
    algorithm. pytest additionally verifies assignments against a
    numpy reference."""
    raw = load_table(spark, sf_dir, "embeddings")
    emb = raw.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    assigned, centroids = kmeans(spark, emb)
    return (
        assigned.groupBy("cid")
        .agg(F.count("*").alias("n_members"), F.min("vec_id").alias("lowest_member"))
        .orderBy("cid")
    )


# --- connected components over the near-dup pair graph ---------------

# Per-partition edge budget for the propagation shuffles. Measured
# hazard (GATE_LOG r12): narrowing every CC round to 8 partitions —
# right for the sf-lake candidate graphs the narrowing was built for —
# puts 53M rows in each partition of the x100mut 425M-edge graph, and
# the per-task join maps become ~2 GB humongous allocations that
# starve the JVM's GCLocker ("Retried waiting for GCLocker too often"
# -> UNABLE_TO_ACQUIRE_MEMORY), killing the round even under a 48 GB
# heap. 8M edges/partition keeps the maps in the hundreds of MB;
# the narrow value stays the small-graph FLOOR, and the width scales
# with the edge budget with NO session-width ceiling (r12 VERDICT
# task 5 / r14 lift — see _cc_shuffle_width): the per-task edge
# budget, not the core count, is the binding constraint.
CC_EDGES_PER_PARTITION = 8_000_000


def _cc_shuffle_width(n_edges: int, narrow: int) -> int:
    """Width for the per-round propagation shuffles: at least
    ``narrow`` (the small-graph floor), scaled up by the edge budget
    with NO session-width cap (r12 VERDICT task 5): the x200mut
    robustness point logged GCLocker retry warnings at 27M
    edges/task under the session-capped width — the per-task edge
    budget, not the core count, is the binding constraint, and
    partitions beyond the core count just queue."""
    need = -(-n_edges // CC_EDGES_PER_PARTITION)  # ceil div
    return max(narrow, need)


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    shuffle_partitions: int | None = 8,
) -> DataFrame:
    """Minimum-label propagation over an undirected edge list
    (src, dst) -> (node, component) where component is the smallest
    node id reachable — the clustering step a dedup pipeline runs on
    its candidate-pair graph to pick one representative per
    duplicate group.

    Each round joins current labels across edges both ways, takes the
    min, then POINTER-JUMPS: component := component's own component
    (path compression), so labels shortcut through already-labeled
    chains and convergence needs O(log diameter) rounds instead of
    O(diameter) — a 2^20-long chain converges in ~20 rounds where
    plain propagation needs a million. Near-dup clusters are tiny
    (2-3 rounds either way); the jump is what makes the operator safe
    on pathological graphs (crawl link chains, long event threads).
    Scale per round: two node-id shuffles (propagate + jump);
    persisted labels cut lineage between rounds.

    ``shuffle_partitions`` is the NARROW FLOOR for the per-round
    shuffles on small candidate graphs (a dozen multi-stage rounds at
    the session's full width is pure scheduling overhead); the actual
    round width scales with the materialized edge count with NO
    session-width cap (_cc_shuffle_width: ~{CC_EDGES_PER_PARTITION}
    edges per partition — r12 VERDICT task 5: the per-task edge
    budget, not the core count, is the binding constraint, and
    partitions beyond the core count just queue) so dense graphs keep
    bounded per-task join maps — see the GCLocker hazard note above.
    Pass None on a real cluster to inherit the session setting."""
    spark = edges.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_coalesce = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled"
    )
    both = None
    try:
        # materialize the edge list once: every round consumes it, and
        # without the persist each iteration re-runs the upstream
        # candidate-generation pipeline that produced the pairs.
        # This count runs under the SESSION width (the conf narrowing
        # happens after it): the one-time candidate materialization
        # wants full parallelism — it is the dozen label-propagation
        # rounds the narrowing targets — and the count's result sizes
        # the round width below.
        # Mirror via explode, not a two-leg union (r15): each union
        # leg re-ran the upstream candidate-generation pipeline that
        # produced the pairs, so the one-time materialization paid
        # the expensive verify subtree twice. Explode emits both
        # directions from a single evaluated row — same multiset of
        # edges (union here was bag-semantics UNION ALL), half the
        # build cost; rounds are unchanged.
        both = edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("e")
        ).select("e.src", "e.dst").persist()
        n_edges = both.count()
        if shuffle_partitions is not None:
            width = _cc_shuffle_width(n_edges, shuffle_partitions)
            spark.conf.set("spark.sql.shuffle.partitions", str(width))
            if width < int(prev_parts):
                # narrow small-graph rounds only: AQE's per-stage
                # barriers and re-planning are pure overhead on a
                # dozen tiny label-propagation rounds (measured
                # 7s -> 16s with AQE on). That measurement does NOT
                # cover dense graphs, so AQE keeps the session
                # setting when the computed width reaches the session
                # width — exactly where a giant skewed component
                # makes AQE's skew-join splitting matter (r12 ADVICE).
                spark.conf.set("spark.sql.adaptive.enabled", "false")
            else:
                # dense branch: AQE stays ON for skew-join splitting,
                # but its partition COALESCING is pinned off — AQE
                # sizes merges on compressed shuffle bytes, and the
                # edge-budget partitions are ~16-byte rows that
                # compress far below the 64MB advisory target, so
                # coalescing would quietly merge them back past the
                # ~8M-edges/task bound the width lift exists to
                # enforce (r14 ADVICE). The computed width is a
                # floor, not a hint.
                spark.conf.set(
                    "spark.sql.adaptive.coalescePartitions.enabled", "false"
                )
        nodes = both.select(F.col("src").alias("node")).distinct()
        labels = nodes.select("node", F.col("node").alias("component")).persist()
        labels.count()
        changed = -1
        for _ in range(max_iterations):
            neighbor_min = (
                both.join(labels, both.src == labels.node)
                .groupBy(F.col("dst").alias("node2"))
                .agg(F.min("component").alias("nbr_component"))
            )
            propagated = (
                labels.join(neighbor_min, labels.node == neighbor_min.node2, "left")
                .select(
                    "node",
                    F.least(
                        "component", F.coalesce("nbr_component", "component")
                    ).alias("component"),
                )
                .persist()  # the jump self-join reads it twice
            )
            # pointer jump: a label is always the id of a node in the
            # same component, so re-labeling through that node's own
            # label stays in-component and is monotone non-increasing
            # — this halves the remaining chain length every round.
            # localCheckpoint (not persist) is load-bearing: the
            # self-join doubles the plan subtree, so without true
            # lineage truncation the logical plan grows exponentially
            # in rounds and analysis time dwarfs execution (measured
            # 177s for a 100-chain; ~8s after).
            new_labels = (
                propagated.alias("c")
                .join(
                    propagated.alias("p"),
                    F.col("c.component") == F.col("p.node"),
                )
                .select(
                    F.col("c.node").alias("node"),
                    F.col("p.component").alias("component"),
                )
                .localCheckpoint()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            propagated.unpersist()
            # for the round-1 persisted frame this frees it directly;
            # for later checkpointed frames unpersist is a no-op and
            # the snapshot's blocks are released by the ContextCleaner
            # once this (last) reference drops on the next line —
            # bounded by max_iterations tiny label frames either way
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                break
        if changed != 0:
            # silent wrong answers are worse than a loud stop: a
            # component chain longer than max_iterations has not
            # converged (switch to pointer-doubling for such graphs)
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} rounds"
            )
        return labels
    finally:
        if both is not None:
            both.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", prev_coalesce
        )


def _cc_labels_cte() -> str:
    """Shared CTE prefix: transitive closure by recursive CTE over the
    same verified LSH pair set (dedup.SQL_LSH_VERIFIED_PAIRS),
    yielding ``labels(node, component)``. For every node the set of
    starts that can reach it IS its undirected component, so
    MIN(start) per node is the component label — the same labeling
    the label-propagation loop converges to."""
    from .dedup import SQL_LSH_VERIFIED_PAIRS

    return f"""{SQL_LSH_VERIFIED_PAIRS},
    cc_edges AS MATERIALIZED (
        -- MATERIALIZED: the recursive step below re-reads this CTE
        -- every iteration; without the hint DuckDB inlines the whole
        -- LSH pipeline into each round (~36s -> ~1s at sf0.01)
        SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs
    ),
    reach(node, start) AS (
        SELECT src, src FROM cc_edges
        UNION
        SELECT e.dst, r.start FROM reach r JOIN cc_edges e ON e.src = r.node
    ),
    labels AS (SELECT node, MIN(start) AS component FROM reach GROUP BY node)"""


def _cc_oracle_sql() -> str:
    return f"""
    WITH RECURSIVE {_cc_labels_cte()}
    SELECT component AS cluster_rep,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
    FROM labels
    GROUP BY component
    """


@register("dedup_clusters_cc", oracle=_cc_oracle_sql())
def dedup_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster extraction: connected components over the
    MinHash-LSH near-dup pairs, reporting one row per cluster with
    its representative (smallest doc_id), size, and member list —
    the final step that turns pairwise near-dup evidence into a
    keep/drop decision per document. Oracle-checked: the multi-round
    label-propagation loop has an exact single-query twin in DuckDB
    (recursive-CTE transitive closure, see _cc_oracle_sql);
    tests/test_iterative.py additionally verifies against a
    pure-Python union-find on the same pairs.

    The member list is emitted as a comma-joined string, not an
    array column: the gate canonicalizer compares flat cells, and a
    delimited string carries the same information for a keep/drop
    consumer (the first id is the kept representative)."""
    from .dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(
            F.count("*").alias("n_members"),
            F.array_join(
                F.sort_array(F.collect_list("node")).cast("array<string>"), ","
            ).alias("members"),
        )
        .select(
            F.col("component").alias("cluster_rep"),
            "n_members",
            "members",
        )
        .orderBy("cluster_rep")
    )


def _purge_oracle_sql() -> str:
    return f"""
    WITH RECURSIVE {_cc_labels_cte()},
    removed AS (SELECT node AS doc_id FROM labels WHERE node <> component)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_before,
           CAST(COUNT(r.doc_id) AS BIGINT) AS docs_removed,
           CAST(COUNT(*) - COUNT(r.doc_id) AS BIGINT) AS docs_after
    FROM documents d
    LEFT JOIN removed r ON d.doc_id = r.doc_id
    GROUP BY d.source
    """


@register("dedup_purge_report", oracle=_purge_oracle_sql())
def dedup_purge_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop decision applied: per source, how many documents
    survive near-dup purging when each MinHash-LSH duplicate cluster
    keeps only its smallest-id representative — the accounting a
    curation pipeline reports (and mixes on) after dedup. Non-canonical
    members are exactly the nodes whose component label differs from
    their own id, so the purge set falls directly out of
    :func:`connected_components`; singletons never enter the edge set
    and are kept implicitly.

    Scale: the removed set is a projection of the CC labels (already
    far smaller than the corpus — only docs with at least one near-dup
    pair); the left join against documents hash-partitions on doc_id
    and the per-source rollup combines map-side. Nothing here touches
    the corpus text a second time."""
    from .dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    removed = (
        connected_components(pairs)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"), F.lit(1).alias("is_removed"))
    )
    # shuffle_hash on the removed side (the docs_curation_pipeline_e2e
    # precedent): SMJ sorted the CORPUS side within every partition;
    # the build side is the non-canonical dup-doc id set — 8-byte rows,
    # partition-bounded under scale-adaptive widths. NOTE (r15 ADVICE):
    # Spark honors a SHUFFLE_HASH hint UNCONDITIONALLY when the side is
    # buildable — there is no size-based fallback and AQE cannot demote
    # SHJ back to SMJ — so safety rests entirely on the build side
    # being id-only with partition count scaling with data; an
    # oversized build partition OOMs rather than degrading.
    return (
        docs.join(removed.hint("shuffle_hash"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("docs_before"),
            F.count("is_removed").alias("docs_removed"),
            (F.count("*") - F.count("is_removed")).alias("docs_after"),
        )
    )


# --- BPE tokenizer training ------------------------------------------

BPE_MERGES = 12
WORD_END = "</w>"


def _pair_counts(words: DataFrame) -> DataFrame:
    """(pair struct(l, r), cnt) — adjacent-symbol pair frequencies
    weighted by word count. Map-side: pairs come from zipping each
    symbol array with its own tail; the only shuffle is the tiny
    groupBy on pair."""
    tail = F.slice(
        F.col("syms"), 2, F.greatest(F.size("syms") - 1, F.lit(0))
    )
    pair_col = F.zip_with(
        F.col("syms"), tail, lambda l, r: F.struct(l.alias("l"), r.alias("r"))
    )
    return (
        words.select("wcount", F.explode(pair_col).alias("p"))
        .filter(F.col("p.r").isNotNull())
        .groupBy("p")
        .agg(F.sum("wcount").alias("cnt"))
    )


def _merge_pair(syms: F.Column, left: str, right: str) -> F.Column:
    """One BPE merge applied to a symbol array: leftmost-first,
    non-overlapping, single pass — an aggregate fold carrying
    (emitted symbols, pending symbol)."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, s):
        hit = acc["pend"].eqNullSafe(F.lit(left)) & (s == F.lit(right))
        return F.when(
            hit,
            F.struct(
                F.concat(acc["out"], F.array(F.lit(left + right))).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc["pend"].isNull(), acc["out"])
                .otherwise(F.concat(acc["out"], F.array(acc["pend"])))
                .alias("out"),
                s.alias("pend"),
            )
        )

    def finish(acc):
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(syms, init, step, finish)


def bpe_train(
    spark: SparkSession, docs: DataFrame, n_merges: int = BPE_MERGES
) -> list[tuple[int, str, str, int]]:
    """Learn BPE merges over a document corpus, Sennrich-style: words
    split into characters (last char carries {WORD_END}), then
    n_merges rounds of count-adjacent-pairs -> merge the argmax.

    Determinism: the argmax orders by (count DESC, left, right) so
    ties never depend on partitioning. Scale: the corpus collapses to
    the distinct-word frame ONCE (weighted by frequency — the classic
    BPE trick that makes each round O(vocabulary), not O(corpus));
    each round is one tiny pair-count shuffle plus a map-side merge
    rewrite, with persist-per-round lineage cuts. Only the single
    argmax row ever reaches the driver per round.
    """
    from ..operators import textops

    # Pair-count shuffles are vocabulary-sized (thousands of rows),
    # so the session's fact-scale shuffle width only adds per-round
    # scheduling overhead — but a fixed width would throttle a real
    # cluster, so scale with the input's own partitioning instead
    # (one reduce slot per input partition, floor of 8).
    spark_parts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions")
    width = max(8, docs.rdd.getNumPartitions())
    docs.sparkSession.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        toks = textops.tokens_df(docs)
        chars = F.split(F.col("tok"), "")
        syms = F.concat(
            F.slice(chars, 1, F.greatest(F.size(chars) - 1, F.lit(0))),
            F.array(F.concat(F.element_at(chars, -1), F.lit(WORD_END))),
        )
        words = (
            toks.filter(F.col("tok") != "")
            .groupBy("tok")
            .agg(F.count("*").alias("wcount"))
            .select("wcount", syms.alias("syms"))
            .persist()
        )
        words.count()
        merges: list[tuple[int, str, str, int]] = []
        for rank in range(n_merges):
            top = (
                _pair_counts(words)
                .orderBy(F.desc("cnt"), F.asc("p.l"), F.asc("p.r"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["cnt"] < 2:
                break
            left, right, cnt = top[0]["p"]["l"], top[0]["p"]["r"], top[0]["cnt"]
            merges.append((rank, left, right, int(cnt)))
            new_words = words.select(
                "wcount", _merge_pair(F.col("syms"), left, right).alias("syms")
            ).persist()
            new_words.count()
            words.unpersist()
            words = new_words
        words.unpersist()
        return merges
    finally:
        docs.sparkSession.conf.set("spark.sql.shuffle.partitions", spark_parts)


def _bpe_cte_parts(n_merges: int = BPE_MERGES, final_words: bool = False) -> list[str]:
    """Shared CTE chain for both BPE oracles: the Sennrich training
    loop, unrolled.

    Symbol sequences are encoded as strings with every symbol wrapped
    in parentheses (parens cannot occur in [a-z0-9]/``</w>`` symbol
    text), so applying one merge IS one sequential ``replace``:
    scanning left to right and resuming after each replacement gives
    exactly the leftmost-first non-overlapping semantics of the
    Spark fold in :func:`_merge_pair` — e.g. ``(a)(a)(a)`` with
    pattern ``(a)(a)`` becomes ``(aa)(a)``, and a symbol that merely
    suffixes another token cannot match because every symbol start
    is anchored by ``(``. Each round: adjacent-pair counts from the
    split symbol string, argmax with the same (cnt DESC, l, r)
    tie-break, then the replace. A round whose best count drops
    below 2 yields an EMPTY best CTE; the LEFT JOIN in words{{i}}
    then passes the frame through unchanged, so every later round
    re-derives the same empty best — mirroring the Spark loop's
    break. ``final_words`` additionally emits words{n_merges} (the
    trainer's final per-word segmentation), which the encode oracle
    reads directly. ``tok`` rides along untouched so the final state
    can be joined back to the token stream."""
    from ..operators import textops

    parts = [
        f"toks AS ({textops.sql_tokens('documents')})",
        """wordcounts AS (
            SELECT tok, COUNT(*) AS wcount FROM toks
            WHERE tok <> '' GROUP BY tok
        )""",
        """words0 AS (
            SELECT tok, wcount,
                   array_to_string(list_transform(
                       range(1, length(tok) + 1),
                       i -> '(' || substr(tok, i, 1)
                            || CASE WHEN i = length(tok) THEN '</w>' ELSE '' END
                            || ')'
                   ), '') AS w
            FROM wordcounts
        )""",
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""pairs{i} AS (
            SELECT syms[idx] AS l, syms[idx + 1] AS r, SUM(wcount) AS cnt
            FROM (
                SELECT wcount, string_split(trim(w, '()'), ')(') AS syms
                FROM words{i - 1}
            ) s, UNNEST(range(1, len(syms))) AS t(idx)
            GROUP BY 1, 2
        )""")
        parts.append(
            f"""best{i} AS (
            SELECT l, r, cnt FROM pairs{i} WHERE cnt >= 2
            ORDER BY cnt DESC, l, r LIMIT 1
        )""")
        if i < n_merges or final_words:
            # MATERIALIZED: each words CTE feeds both the next round's
            # pair count AND the next replace; inlined, the 12-round
            # chain re-evaluates exponentially (times out at sf0.1)
            parts.append(
                f"""words{i} AS MATERIALIZED (
                SELECT tok, wcount,
                       CASE WHEN b.l IS NULL THEN w
                            ELSE replace(w, '(' || b.l || ')(' || b.r || ')',
                                         '(' || b.l || b.r || ')') END AS w
                FROM words{i - 1} LEFT JOIN best{i} b ON TRUE
            )""")
    return parts


def _bpe_oracle_sql(n_merges: int = BPE_MERGES) -> str:
    """Training oracle: the merge table read off the unrolled chain."""
    ctes = ",\n".join(_bpe_cte_parts(n_merges))
    selects = "\nUNION ALL\n".join(
        f"""SELECT CAST({i - 1} AS INT) AS rank, l AS "left", r AS "right",
               l || r AS merged, CAST(cnt AS BIGINT) AS pair_count
        FROM best{i}"""
        for i in range(1, n_merges + 1)
    )
    return f"WITH {ctes}\n{selects}"


def _bpe_encode_oracle_sql(n_merges: int = BPE_MERGES) -> str:
    """Encode oracle: the trainer's final words{n} CTE IS the
    segmentation of every corpus word under rank-order merge
    application, so encoding = join each position-preserving token
    to its final symbol string and re-concatenate in document
    order. No per-token merge loop needed on the SQL side."""
    parts = _bpe_cte_parts(n_merges, final_words=True)
    parts.append(
        f"""final AS (
        SELECT tok, string_split(trim(w, '()'), ')(') AS syms
        FROM words{n_merges}
    )""")
    parts.append(
        """doc_syms AS (
        SELECT t.doc_id, t.pos, u.idx, f.syms[u.idx] AS sym
        FROM toks t
        JOIN final f ON f.tok = t.tok,
             UNNEST(range(1, len(f.syms) + 1)) AS u(idx)
        WHERE t.tok <> ''
    )""")
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
    SELECT d.doc_id,
           CAST(COUNT(s.sym) AS BIGINT) AS n_symbols,
           md5(COALESCE(string_agg(s.sym, ' ' ORDER BY s.pos, s.idx), '')) AS symbols_hash,
           COALESCE(array_to_string(
               list_slice(list(s.sym ORDER BY s.pos, s.idx), 1, 8), ' '
           ), '') AS preview
    FROM documents d
    LEFT JOIN doc_syms s ON s.doc_id = d.doc_id
    GROUP BY d.doc_id"""


@register("bpe_train_merges", oracle=_bpe_oracle_sql())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table ({BPE_MERGES} ranks) over the
    documents corpus — the tokenizer-training step of a data
    pipeline, as a driver-looped DataFrame program. Oracle-checked:
    the iterative argmax loop has an exact unrolled-SQL twin
    (_bpe_oracle_sql, paren-delimited string replace == the
    leftmost-first merge fold); tests/test_iterative.py additionally
    replays a pure-Python Sennrich BPE on the same corpus and
    asserts the identical merge table."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(spark, docs)
    return spark.createDataFrame(
        [(r, l, rt, l + rt, c) for r, l, rt, c in merges],
        "rank INT, left STRING, right STRING, merged STRING, pair_count LONG",
    )


def _bpe_encode_token(tok: str, merges: list[tuple[str, str]]) -> list[str]:
    """Training-consistent BPE encode for one pre-tokenized word:
    start from characters (last carries WORD_END), then apply the
    learned merges IN RANK ORDER, each as one leftmost-first
    non-overlapping pass — the identical fold the trainer applies to
    the word corpus (:func:`_merge_pair`), so every corpus word
    reproduces the trainer's final symbol state exactly. (The
    rank-priority-queue encode differs from the trainer on words
    where a late merge recreates an early pair; rank-order
    application is the variant with a closed form over the training
    state, which is what makes the operator oracle-checkable.)"""
    if not tok:
        return []
    syms = list(tok[:-1]) + [tok[-1] + WORD_END]
    for left, right in merges:
        out: list[str] = []
        i, n = 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


@register("bpe_encode_docs", oracle=_bpe_encode_oracle_sql())
def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode every document with the merge
    table learned by :func:`bpe_train` — the inference half of the
    BPE story (training is ``bpe_train_merges``). The merge table is
    driver-small and ships in the UDF closure; encoding is an
    Arrow-batched scalar pandas UDF (one Python crossing, no
    per-row pickling) over the same normalization the trainer used,
    so round-tripping the symbols reconstructs the normalized text
    exactly — tests/test_iterative.py asserts that property plus
    merge-vocabulary closure per symbol. Oracle-checked (promoted in
    r6): merges apply in rank order, so a corpus word's encoding IS
    the trainer's final segmentation of that word, and the oracle
    (:func:`_bpe_encode_oracle_sql`) reads it off the last words CTE
    of the same unrolled twin that verifies training — no SQL-side
    merge loop. Scale: training collapses to the distinct-word
    frame; encoding is map-side over the corpus with the merge list
    broadcast by closure — the standard deploy shape for a learned
    tokenizer."""
    import re

    from pyspark.sql.functions import pandas_udf

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(spark, docs)
    merge_list = [(left, right) for _rank, left, right, _cnt in merges]
    norm_re = re.compile(r"[^a-z0-9]+")

    @pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        def enc(text: str) -> list[str]:
            out: list[str] = []
            for tok in norm_re.sub(" ", (text or "").lower()).strip().split():
                out.extend(_bpe_encode_token(tok, merge_list))
            return out

        return texts.map(enc)

    n = spark.sparkContext.defaultParallelism
    return (
        docs.repartition(n, "doc_id")
        .select("doc_id", encode(F.col("text")).alias("syms"))
        .select(
            "doc_id",
            F.size("syms").cast("long").alias("n_symbols"),
            F.md5(F.array_join("syms", " ")).alias("symbols_hash"),
            F.array_join(F.slice("syms", 1, 8), " ").alias("preview"),
        )
    )


def _leakage_safe_split_oracle_sql() -> str:
    from .text import _HASH_PCT

    canon_pct = _HASH_PCT.replace(
        "CAST(doc_id AS VARCHAR)", "CAST(canon_id AS VARCHAR)"
    )
    return f"""
    WITH RECURSIVE {_cc_labels_cte()},
    canon AS (
        SELECT d.doc_id, d.n_chars,
               COALESCE(l.component, d.doc_id) AS canon_id,
               CASE WHEN l.node IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        FROM documents d
        LEFT JOIN labels l ON d.doc_id = l.node
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(is_dup) AS BIGINT) AS n_dup_members
    FROM (
        SELECT n_chars, is_dup,
               CASE WHEN {canon_pct} < 90 THEN 'train'
                    WHEN {canon_pct} < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM canon
    ) s GROUP BY split
    """


@register("split_leakage_safe", oracle=_leakage_safe_split_oracle_sql())
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: the split hash is taken
    over each document's CANONICAL id (its MinHash-LSH duplicate
    cluster representative; its own id for singletons), so every
    member of a duplicate cluster lands in the same split — the
    plain per-doc hash split (split_train_val_hash) can put two
    near-identical documents on opposite sides of the train/eval
    boundary, which is evaluation contamination by construction.

    Scale: the CC label table is tiny (only docs with at least one
    near-dup pair, see dedup_purge_report) and hash-joins against
    the corpus on doc_id; the split itself stays a map-side hash
    bucket, so the operator costs one broadcast-or-hash join more
    than the naive split. Output is the per-split rollup plus a
    dup-member count so curation dashboards can see how much
    near-dup mass each split carries."""
    from .dedup import minhash_lsh_pairs
    from .text import _hash_pct

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )
    # shuffle_hash on the label side (the docs_curation_pipeline_e2e
    # precedent): SMJ sorted the CORPUS side within every partition;
    # the build side is the dup-cluster label set — 16-byte (node,
    # component) rows, partition-bounded. NOTE (r15 ADVICE): the hint
    # is honored unconditionally when buildable (no size fallback,
    # no AQE demotion) — safety rests on the label side staying
    # partition-bounded.
    canon = docs.join(labels.hint("shuffle_hash"), "doc_id", "left").select(
        "n_chars",
        F.coalesce("component", "doc_id").alias("canon_id"),
        F.col("component").isNotNull().cast("int").alias("is_dup"),
    )
    pct = _hash_pct(F.col("canon_id"))
    split = F.when(pct < 90, "train").when(pct < 95, "val").otherwise("test")
    return (
        canon.select(split.alias("split"), "n_chars", "is_dup")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("is_dup").cast("long").alias("n_dup_members"),
        )
    )


SMOOTH_ROUNDS = 2

# Persisted directed-edge frame of the LAST graph_quality_smoothing
# invocation (one slot per entry — the graph_eval._swap_persisted
# contract).
_SMOOTH_EDGES_PERSISTED: list[DataFrame] = []


def _smoothing_oracle_sql() -> str:
    from .dedup import SQL_LSH_VERIFIED_PAIRS

    prev = "s0"
    rounds = []
    for r in range(1, SMOOTH_ROUNDS + 1):
        rounds.append(f"""
    r{r} AS (
        SELECT p.doc_id,
               CASE WHEN n.doc_id IS NULL THEN p.s
                    ELSE (p.s + n.avg_s) // 2 END AS s
        FROM {prev} p
        LEFT JOIN (
            SELECT e.src AS doc_id, SUM(x.s) // COUNT(*) AS avg_s
            FROM sm_edges e JOIN {prev} x ON x.doc_id = e.dst
            GROUP BY e.src
        ) n ON n.doc_id = p.doc_id
    )""")
        prev = f"r{r}"
    return f"""
    WITH {SQL_LSH_VERIFIED_PAIRS},
    sm_edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs
    ),
    s0 AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS s FROM documents),
    {",".join(rounds)}
    SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS raw_score,
           CAST({prev}.s AS BIGINT) AS smoothed_score
    FROM documents d JOIN {prev} ON {prev}.doc_id = d.doc_id
    """


@register("graph_quality_smoothing", oracle=_smoothing_oracle_sql())
def graph_quality_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score propagation over the near-dup graph: each document's
    quality seed (n_chars stands in for any scalar quality score)
    is averaged with its LSH-neighborhood over {SMOOTH_ROUNDS}
    rounds, s' = (s + mean(neighbor s)) / 2 — the label-smoothing
    step that makes boilerplate CLUSTERS share one quality penalty
    instead of letting individual members slip a threshold (the
    same message-passing shape as PageRank, with the damping mean
    in integer arithmetic). All math is 64-bit integer (floor
    division), so a billion-row propagation is bit-identical
    regardless of partitioning — no float accumulation order to
    diverge between engines or runs. Scale: per round, one
    edges⋈scores shuffle on dst + one groupBy src (both combine
    map-side) + one left join back to scores; edges come from the
    banded LSH path, so the graph is the sparse near-dup set, never
    a corpus self-join. Rounds are unrolled (fixed small constant),
    each a pure DataFrame stage — no driver-side collect."""
    from .dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(spark, sf_dir)
    # Both directed edges from ONE evaluation of the verified-pairs
    # pipeline (r15): the former two-leg union re-planned the whole
    # LSH verify subtree per leg (exchange reuse saved the shuffles
    # but the post-shuffle verify joins ran twice), and each
    # smoothing round references edges again. Explode emits the
    # mirror row from the same scored input, and the lazy persist
    # (module slot, the graph_eval convention) makes the remaining
    # per-round references cache reads. Same-session A/B at sf0.1:
    # 1.22 s -> 0.46 s steady-state, identical output hash.
    edges = _swap_persisted(
        _SMOOTH_EDGES_PERSISTED,
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        ).select("e.src", "e.dst"),
    )
    scores = docs.select("doc_id", F.col("n_chars").cast("long").alias("s"))
    for _ in range(SMOOTH_ROUNDS):
        nbr = (
            edges.join(
                scores.select(F.col("doc_id").alias("dst"), F.col("s").alias("ns")),
                "dst",
            )
            .groupBy("src")
            .agg(F.expr("sum(ns) div count(1)").alias("avg_s"))
            .select(F.col("src").alias("doc_id"), "avg_s")
        )
        scores = (
            scores.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.when(
                    F.col("avg_s").isNull(), F.col("s")
                ).otherwise(F.expr("(s + avg_s) div 2")).alias("s"),
            )
        )
    return docs.select("doc_id", F.col("n_chars").cast("long").alias("raw_score")).join(
        scores.select("doc_id", F.col("s").alias("smoothed_score")), "doc_id"
    )
