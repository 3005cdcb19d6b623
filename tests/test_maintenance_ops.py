"""Maintenance operators: value-level and plan-shape checks.

These four operators were staged in round 8 (staging_r9.py) and
promoted into the driver registry in round 9 (plans/maintenance.py),
so the per-entry DuckDB hash compare now runs in
tests/test_registry_oracle.py with every other registry entry; this
file keeps the checks the oracle gate cannot express — adversarial
and differential-fuzz lakes, plan shapes, and non-degeneracy
assertions so a tuning regression can't quietly turn a rule or flag
into a constant."""

from __future__ import annotations

import pytest

from noaa_data_pipeline_spark.plans import load_all
from tools.check_correctness import frame_digest

# the promoted entries, fetched from the real registry so these tests
# exercise exactly what the driver gate runs
MAINTENANCE = {
    n: q
    for n, q in load_all().items()
    if n
    in {
        "ivf_centroid_drift_report",
        "ivf_cell_rebalance",
        "ivf_retrain_centroids",
        "docs_gopher_rule_filter",
    }
}


def test_maintenance_entries_are_registered():
    """Promotion landed: all four round-8-staged names are registry
    entries with oracles (the r9 driver gate window covers them)."""
    assert len(MAINTENANCE) == 4
    assert all(q.oracle is not None for q in MAINTENANCE.values())


def test_drift_flag_not_degenerate(spark, sf_dir):
    """DRIFT_C must SPLIT the cells (a saturated flag caught the
    first parameterization: every cell flagged at sf0.01)."""
    rows = MAINTENANCE["ivf_centroid_drift_report"].fn(spark, sf_dir).collect()
    flags = {r.needs_retrain for r in rows}
    assert flags == {0, 1}
    assert all(r.n_then > 0 and r.n_now > r.n_then for r in rows)


def test_rebalance_splits_some_cells_and_preserves_vectors(spark, sf_dir):
    rows = MAINTENANCE["ivf_cell_rebalance"].fn(spark, sf_dir).collect()
    split = [r for r in rows if r.new_cell.endswith(("_hi", "_lo"))]
    kept = [r for r in rows if r.new_cell == str(r.old_cell)]
    assert split and kept and len(split) + len(kept) == len(rows)
    # a split cell really lands on both sides of its midpoint
    sides = {r.new_cell for r in split}
    assert any(c[:-3] + "_hi" in sides and c in sides for c in sides if c.endswith("_lo"))


def _gate_compare(spark, lake, name, views):
    """The driver-gate compare against a hand-built adversarial lake."""
    import duckdb

    q = load_all()[name]
    con = duckdb.connect()
    for t in views:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet')"
        )
    sdf = q.fn(spark, lake)
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(q.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    sh, _ = frame_digest(sdf.columns, srows)
    oh, _ = frame_digest(ocols, orows)
    assert sh == oh
    return srows


@pytest.fixture(scope="module")
def adversarial_docs_lake(tmp_path_factory):
    """Text shapes the synthetic corpus never exercises: unicode,
    emoji, CJK, control/quote chars, empty, and NULL text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = str(tmp_path_factory.mktemp("gopher_docs"))
    docs = [
        (1, "héllo wörld — ünïcode"),
        (2, "emoji 🎉🎉🎉 and more 🎉 text"),
        (3, "ab"),
        (4, ""),
        (5, "a\nb\tc'd\"e\\f"),
        (6, "日本語のテキストです"),
        (7, "combining á chars é"),
        (8, "aaa aaa aaa aaa"),
        (9, None),
        (10, "the a " + " ".join("word%d" % (i % 40) for i in range(60))),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs], pa.string()),
                "lang": pa.array(["xx"] * len(docs), pa.string()),
                "source": pa.array(["s"] * len(docs), pa.string()),
                "n_chars": pa.array([0] * len(docs), pa.int64()),
            }
        ),
        f"{tmp}/documents.parquet",
    )
    return tmp


def test_gopher_adversarial_text(spark, adversarial_docs_lake):
    """NULL text must be REJECTED before rule evaluation in both
    engines (Spark's NULL-propagating rule bits scored it as an
    all-rules-fail row while the oracle's inner join dropped it —
    the fuzz lake caught the divergence); unicode/emoji/empty text
    must hash-match; only the stop-word-seeded long doc passes."""
    rows = _gate_compare(
        spark, adversarial_docs_lake, "docs_gopher_rule_filter", ["documents"]
    )
    assert {r[0] for r in rows} == set(range(1, 9)) | {10}  # 9 (NULL) rejected
    assert [r[0] for r in rows if r[-1] == 1] == [10]


@pytest.fixture(scope="module")
def adversarial_emb_lake(tmp_path_factory):
    """Cells the synthetic lake never produces: an oversized cell
    with a zero vector and exact duplicates, a single-member cell
    that is entirely post-build inserts (vec_id % 5 == 4 -> the
    drift report's n_then = 0 division guard), a zero-spread cell
    (split midpoint == every value), plus a NULL and an empty
    embedding."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = 8
    vecs = [
        (0, [0.0] * dim, 0),
        (1, [1.0] * dim, 0),
        (2, [1.0] * dim, 0),
        (5, [0.5] * dim, 0),
        (10, [-1.0] * dim, 0),
        (15, [0.25] * dim, 0),
        (20, [2e-8] * dim, 0),
        (30, [], 0),  # EMPTY row inside the OVERSIZED cell: the split
        # projection must yield NULL->'_lo' via try_element_at, not an
        # ANSI INVALID_ARRAY_INDEX abort (review r8)
        (4, [3.0] * dim, 1),
        (6, [7.0] * dim, 2),
        (11, [7.0] * dim, 2),
        (3, None, 2),
        (14, [], 1),
        # cell 3 is PARTIALLY ragged: the build-snapshot vector (25)
        # is shorter than the insert (9), so dims 5-6 have zero build
        # members — m_then NULL on SOME dims only; the drift fold must
        # skip them like DuckDB's list_sum, not NULL-poison (review r8)
        (25, [1.0, 2.0, 3.0, 4.0], 3),
        (9, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0], 3),
    ]
    tmp = str(tmp_path_factory.mktemp("ivf_emb"))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
                "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
                "label": pa.array([v[2] for v in vecs], pa.int32()),
            }
        ),
        f"{tmp}/embeddings.parquet",
    )
    return tmp


@pytest.mark.parametrize(
    "name",
    ["ivf_centroid_drift_report", "ivf_cell_rebalance", "ivf_retrain_centroids"],
)
def test_ivf_trio_adversarial_embeddings(spark, adversarial_emb_lake, name):
    """Zero vectors, exact duplicates, an all-inserts cell (n_then=0
    -> NULL drift, needs_retrain=1 via the guard, no ANSI
    divide-by-zero), a zero-spread split, and NULL/empty embeddings
    hash-match the oracle."""
    rows = _gate_compare(spark, adversarial_emb_lake, name, ["embeddings"])
    assert rows
    if name == "ivf_centroid_drift_report":
        flags = {r[0]: r[4] for r in rows}
        assert flags[1] == 1  # the all-inserts cell must flag retrain


def _plan(spark, sf_dir, name: str) -> str:
    df = MAINTENANCE[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_gopher_plan_is_single_exchange(spark, sf_dir):
    """The explicit doc_id repartition satisfies the clustered
    distribution of BOTH groupBys ((doc_id, tok) counts, then the
    per-doc feature fold), so the whole pipeline runs on exactly one
    exchange, with map-side partial aggregation and no join."""
    plan = _plan(spark, sf_dir, "docs_gopher_rule_filter")
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan
    assert "Join" not in plan


def test_drift_plan_shuffles_components_once(spark, sf_dir):
    """Exactly one (cell, dim) exchange with map-side partials plus
    the k-row cell regroup — and nothing else: the maintenance loader
    (_emb_cells) carries no corpus repartition, so the corpus is
    scanned once and never shuffled or joined (the round-9 rewrite;
    the similarity loader's repartition was the dominant cost)."""
    plan = _plan(spark, sf_dir, "ivf_centroid_drift_report")
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Exchange") == 2  # no corpus repartition either
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "partial" in plan  # map-side combine before the exchange


@pytest.mark.parametrize("name", ["ivf_cell_rebalance", "ivf_retrain_centroids"])
def test_rebalance_family_never_shuffles_corpus_joins(spark, sf_dir, name):
    """The split plan (sizes -> cap -> oversized -> split_dims) joins
    back into the corpus scan by broadcast only; a sort-merge join or
    cartesian would mean the corpus was shuffled."""
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_retrain_covers_split_cells_consistently(spark, sf_dir):
    """Retrained centroids must cover every post-rebalance cell
    (including the _hi/_lo splits), report one membership count per
    cell across all dims, and place a split pair's centroids on
    opposite sides of the split midpoint implicitly (their means
    must differ on at least one dimension)."""
    rows = MAINTENANCE["ivf_retrain_centroids"].fn(spark, sf_dir).collect()
    assign = MAINTENANCE["ivf_cell_rebalance"].fn(spark, sf_dir).collect()
    cells = {r.new_cell for r in assign}
    got = {r.cell for r in rows}
    assert got == cells
    assert any(c.endswith("_hi") for c in got)
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, set()).add(r.n_vectors)
    assert all(len(v) == 1 for v in by_cell.values())
    # membership counts agree with the assignment
    from collections import Counter

    counts = Counter(r.new_cell for r in assign)
    assert {c: v.pop() for c, v in by_cell.items()} == dict(counts)
    # a split pair's centroids differ somewhere
    lo = [r for r in rows if r.cell.endswith("_lo")]
    assert lo
    base = lo[0].cell[:-3]
    hi = {r.dim: r.centroid for r in rows if r.cell == base + "_hi"}
    lo_c = {r.dim: r.centroid for r in rows if r.cell == base + "_lo"}
    assert any(hi[d] != lo_c[d] for d in hi)


def test_gopher_rules_not_degenerate(spark, sf_dir):
    rows = MAINTENANCE["docs_gopher_rule_filter"].fn(spark, sf_dir).collect()
    assert {r.keep for r in rows} == {0, 1}
    # at least two distinct rules actually reject documents
    rejecting = [
        c
        for c in ("r_wordcount", "r_meanlen", "r_stopwords", "r_topword")
        if any(getattr(r, c) == 0 for r in rows)
    ]
    assert len(rejecting) >= 2


# --- differential fuzz (random lakes x gate compare) -------------------

from hypothesis import HealthCheck, example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(
                alphabet=st.characters(
                    codec="utf-8", categories=("L", "N", "P", "Z", "S")
                ),
                max_size=60,
            ),
        ),
        min_size=1,
        max_size=12,
    )
)
@example(texts=["İ0"])  # Spark lowers U+0130 to 'i' + U+0307, DuckDB to 'i'
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_gopher_differential_fuzz(spark, tmp_path_factory, texts):
    """Random-unicode lakes (NULLs included) must hash-match the
    oracle for ANY text content — catches tokenization / char-class /
    NULL-semantics drift the fixed fixture can't."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = str(tmp_path_factory.mktemp("gopher_fuzz"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["xx"] * len(texts), pa.string()),
                "source": pa.array(["s"] * len(texts), pa.string()),
                "n_chars": pa.array([0] * len(texts), pa.int64()),
            }
        ),
        f"{tmp}/documents.parquet",
    )
    _gate_compare(spark, tmp, "docs_gopher_rule_filter", ["documents"])


@given(
    st.lists(
        st.tuples(
            st.one_of(
                st.none(),
                st.lists(
                    st.floats(
                        min_value=-10, max_value=10,
                        allow_nan=False, allow_infinity=False, width=32,
                    ),
                    min_size=0,
                    max_size=6,
                ),
            ),
            st.integers(min_value=0, max_value=3),  # cell label
        ),
        min_size=2,
        max_size=24,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_ivf_trio_differential_fuzz(spark, tmp_path_factory, vecs):
    """Random ragged/NULL/zero embedding lakes with random skewed
    cell sizes must hash-match all three maintenance oracles — the
    oversize threshold, widest-dim tie-breaks, try_element_at NULLs,
    and the NULL-skip drift fold under arbitrary shapes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = str(tmp_path_factory.mktemp("ivf_fuzz"))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(
                    [v[0] for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array([v[1] for v in vecs], pa.int32()),
            }
        ),
        f"{tmp}/embeddings.parquet",
    )
    for name in (
        "ivf_centroid_drift_report",
        "ivf_cell_rebalance",
        "ivf_retrain_centroids",
    ):
        _gate_compare(spark, tmp, name, ["embeddings"])


# --- docs_exact_substring_purge (registered r9) -----------------------


def test_substring_purge_accounting_consistent(spark, sf_dir):
    """Purge accounting invariants: purged <= dup occurrences <=
    spans; keep-first really keeps one occurrence of every duplicated
    span (global purged = dup_occ - distinct dup spans); trimmed
    tokens are positive iff something was purged and never exceed
    PURGE_N x purged spans; and the corpus splits (some docs purged,
    some clean) so the rule is not degenerate."""
    q = load_all()["docs_exact_substring_purge"]
    rows = q.fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_purged_spans <= r.n_dup_span_occ <= r.n_spans
        if r.n_purged_spans == 0:
            assert r.n_tokens_removed == 0
        else:
            assert 0 < r.n_tokens_removed <= r.n_purged_spans * 8
    assert any(r.n_purged_spans > 0 for r in rows)
    assert any(r.n_purged_spans == 0 for r in rows)


def test_substring_purge_plan_reuses_both_exchanges(spark, sf_dir):
    """The span construction (doc_id window + concat + digest) and
    the occurrence-verdict join must each evaluate ONCE: the explicit
    digest and doc_id repartitions are read back by both of their
    consumers as ReusedExchange (r9 rewrite, 52 s -> 34 s at x100);
    the stats join is co-partitioned (shuffled hash, no join-time
    exchange, no sort of the corpus-sized probe side)."""
    q = load_all()["docs_exact_substring_purge"]
    plan = q.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") == 2
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    # r15: keep-first is a DECIMAL-packed min, so the per-span
    # aggregate hash-aggregates; a reappearing SortAggregate means
    # the struct-min fallback (a per-partition sort of the pair-scale
    # span frame) crept back in
    assert "SortAggregate" not in plan


def test_substring_purge_keep_first_semantics(spark, tmp_path_factory):
    """Hand-built lake with a known repeated 8-token span: doc 1
    (earliest) keeps its copy, docs 2 and 3 purge theirs; a doc with
    two SELF-repeats of the span purges the later one; overlapping
    purged spans trim their interval UNION, not the sum. Gate-compared
    against the oracle on the same lake."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = [
        (1, f"{span} unique tail one"),
        (2, f"other head {span}"),
        (3, f"{span} and {span}"),  # cross-doc dup AND self-repeat
        (4, "completely different words with no repeats at all"),
    ]
    tmp = str(tmp_path_factory.mktemp("purge_lake"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs], pa.string()),
                "lang": pa.array(["en"] * len(docs), pa.string()),
                "source": pa.array(["s"] * len(docs), pa.string()),
                "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
            }
        ),
        f"{tmp}/documents.parquet",
    )
    rows = _gate_compare(spark, tmp, "docs_exact_substring_purge", ["documents"])
    by_doc = {r[0]: r for r in rows}
    # doc 1 holds the canonical copy: nothing purged
    assert by_doc[1][3] == 0 and by_doc[1][4] == 0
    # docs 2 and 3 purge their occurrences of the shared span
    assert by_doc[2][3] >= 1 and by_doc[2][4] >= 8
    assert by_doc[3][3] >= 2  # cross-doc copy + self-repeat
    # doc 4 is clean
    assert by_doc[4][3] == 0 and by_doc[4][4] == 0


def test_substring_purge_plan_shape(spark, sf_dir):
    """No corpus self-join: the span-stats join is an equi-join on
    the span key (never cartesian/nested-loop), and per-span counts
    partially aggregate map-side before the span exchange."""
    df = load_all()["docs_exact_substring_purge"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan  # map-side combine on span stats
