"""Lifecycle operators: value-level and plan-shape checks.

These six operators were staged in round 7 and promoted into the
driver registry in round 8 (plans/lifecycle.py), so the per-entry
DuckDB hash compare now runs in tests/test_registry_oracle.py with
every other registry entry; this file keeps the checks the oracle
gate cannot express — compaction file counts and incrementality,
adversarial/fuzz lakes, numpy fold exactness, cache invalidation."""

from __future__ import annotations

import os

import pytest

from noaa_data_pipeline_spark.plans import load_all
from noaa_data_pipeline_spark.plans.lifecycle import (
    FRAG_FILES,
    _parquet_files,
    compact_events,
)
from tools.check_correctness import frame_digest

# the promoted entries, fetched from the real registry so these tests
# exercise exactly what the driver gate runs
LIFECYCLE = {
    n: q
    for n, q in load_all().items()
    if n
    in {
        "dedup_semantic_clusters",
        "dedup_semantic_purge",
        "dedup_incremental_minhash",
        "text_perplexity_proxy",
        "stream_compaction_report",
        "sim_incremental_ivf_insert",
    }
}


def test_lifecycle_entries_are_registered():
    """Promotion landed: all six round-7-staged names are registry
    entries with oracles (the r8 driver gate window covers them)."""
    assert len(LIFECYCLE) == 6
    assert all(q.oracle is not None for q in LIFECYCLE.values())


def test_compaction_reduces_file_count(spark, sf_dir):
    frag, comp = compact_events(spark, sf_dir)
    n_frag = len(_parquet_files(frag))
    n_comp = len(_parquet_files(comp))
    assert n_frag == FRAG_FILES
    assert 0 < n_comp < n_frag


def test_compaction_is_cached_per_fingerprint(spark, sf_dir):
    """A second invocation for the same source is an in-process cache
    hit: same dirs back, COMPACTED outputs untouched (mtimes equal)."""
    frag, comp = compact_events(spark, sf_dir)
    before = {f: os.path.getmtime(f) for f in _parquet_files(comp)}
    frag2, comp2 = compact_events(spark, sf_dir)
    assert (frag2, comp2) == (frag, comp)
    after = {f: os.path.getmtime(f) for f in _parquet_files(comp)}
    assert after == before


def test_compaction_processes_only_new_files(spark, sf_dir, tmp_path):
    """The checkpointed availableNow pass is genuinely incremental: a
    second pass after one new micro-batch file lands must append only
    that file's rows and leave every earlier output untouched."""
    from noaa_data_pipeline_spark.plans.lifecycle import run_compaction
    from noaa_data_pipeline_spark.tables import load_table

    frag, comp, ckpt = (str(tmp_path / d) for d in ("frag", "comp", "ckpt"))
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.limit(50).repartition(4).write.parquet(frag)
    run_compaction(spark, frag, comp, ckpt)
    first = {f: os.path.getmtime(f) for f in _parquet_files(comp)}
    assert spark.read.parquet(comp).count() == 50
    # a new micro-batch lands
    ev.limit(7).coalesce(1).write.mode("append").parquet(frag)
    run_compaction(spark, frag, comp, ckpt)
    assert spark.read.parquet(comp).count() == 57
    untouched = {f: os.path.getmtime(f) for f in first}
    assert untouched == first  # earlier outputs not rewritten


def test_np_assign_tie_breaks_to_lowest_cid():
    """Two bit-identical distances must assign to the lower cid —
    the property the oracle's ORDER BY dist, cid encodes, and the
    reason _np_assign accumulates dimension-sequentially instead of
    letting np.sum reorder the fold."""
    import numpy as np

    from noaa_data_pipeline_spark.plans.lifecycle import _np_assign

    mat = np.array([[0.0, 0.0]])
    cents = [(3, [1.0, 0.0]), (7, [0.0, 1.0])]  # equidistant from origin
    assert _np_assign(mat, cents).tolist() == [3]
    with pytest.raises(AssertionError):
        _np_assign(mat, list(reversed(cents)))  # unsorted cids must fail loudly


def test_perplexity_proxy_excludes_short_docs(spark, sf_dir):
    """Documents shorter than one trigram are excluded, not emitted
    with n_trigrams <= 0 (which would make the ppm division crash or
    go negative)."""
    out = LIFECYCLE["text_perplexity_proxy"].fn(spark, sf_dir)
    rows = out.collect()
    assert all(r["n_trigrams"] >= 1 for r in rows)
    assert all(0 <= r["rare_ppm"] <= 1_000_000 for r in rows)


def _write_parquet(path, table):
    import pyarrow.parquet as pq

    pq.write_table(table, path)


@pytest.fixture(scope="module")
def adversarial_docs_lake(tmp_path_factory):
    """Mini documents lake with the text shapes the synthetic data
    never exercises: unicode, emoji, CJK, control/quote chars, empty,
    sub-trigram-length, and NULL text."""
    import pyarrow as pa

    tmp = str(tmp_path_factory.mktemp("docs_lake"))
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
    ]
    _write_parquet(
        f"{tmp}/documents.parquet",
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs], pa.string()),
                "lang": pa.array(["xx"] * len(docs), pa.string()),
                "source": pa.array(["s"] * len(docs), pa.string()),
                "n_chars": pa.array([0] * len(docs), pa.int64()),
            }
        ),
    )
    return tmp


@pytest.fixture(scope="module")
def adversarial_emb_lake(tmp_path_factory):
    """Mini embeddings lake with a zero vector (NaN cosine), exact
    duplicates, a colinear pair, and fewer vectors than SEM_K."""
    import random

    import pyarrow as pa

    random.seed(7)
    dim = 64
    v = [random.uniform(-1, 1) for _ in range(dim)]
    tiny = [2e-8] * dim  # decimal(·,15) x*x rounds to 0 -> decimal norm 0,
    vecs = [  # while the float norm (and GEMM cosine vs its twin) is nonzero
        (0, [0.0] * dim, 0),
        (1, v, 0),
        (2, list(v), 0),
        (3, [x * 2 for x in v], 0),
        (4, [random.uniform(-1, 1) for _ in range(dim)], 1),
        (5, tiny, 1),
        (6, list(tiny), 1),
    ]
    tmp = str(tmp_path_factory.mktemp("emb_lake"))
    _write_parquet(
        f"{tmp}/embeddings.parquet",
        pa.table(
            {
                "vec_id": pa.array([x[0] for x in vecs], pa.int64()),
                "embedding": pa.array([x[1] for x in vecs], pa.list_(pa.float32())),
                "label": pa.array([x[2] for x in vecs], pa.int32()),
            }
        ),
    )
    return tmp


def _gate_compare(spark, lake, name, views):
    import duckdb

    q = LIFECYCLE[name]
    con = duckdb.connect()
    for t in views:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet')")
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


def test_perplexity_proxy_adversarial_text(spark, adversarial_docs_lake):
    """Cross-engine char semantics (substring vs substr) must agree on
    multibyte text; NULL/empty/short docs drop in both engines."""
    rows = _gate_compare(
        spark, adversarial_docs_lake, "text_perplexity_proxy", ["documents"]
    )
    assert {r[0] for r in rows} == {1, 2, 5, 6, 7, 8}  # 3/4/9 excluded


def test_semantic_dedup_adversarial_embeddings(spark, adversarial_emb_lake):
    """Zero vectors (NaN cosine) drop identically in numpy, decimal,
    and the oracle; vectors whose DECIMAL norm rounds to 0 while the
    float cosine vs their twin is 1.0 must be excluded by the norm>0
    guard, not crash Spark's ANSI division; exact duplicates survive
    with cosine ~1; the entry tolerates fewer vectors than SEM_K."""
    rows = _gate_compare(
        spark, adversarial_emb_lake, "dedup_semantic_clusters", ["embeddings"]
    )
    assert any(r[1] == 1 and r[2] == 2 for r in rows)  # the duplicate pair
    dropped = {0, 5, 6}  # zero vector + the decimal-norm-0 twins
    assert not any(r[1] in dropped or r[2] in dropped for r in rows)


def _staged_plan(spark, sf_dir, name):
    df = LIFECYCLE[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_incremental_dedup_plan_has_no_cartesian(spark, sf_dir):
    """The band join and the verification join are equi-joins; the
    corpus must never cross-join."""
    plan = _staged_plan(spark, sf_dir, "dedup_incremental_minhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_verification_joins_are_equi(spark, sf_dir):
    plan = _staged_plan(spark, sf_dir, "dedup_semantic_clusters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_perplexity_rare_join_is_semi_and_broadcast(spark, sf_dir):
    """Only rare occurrences shuffle: the rare-set join must be a
    broadcast LEFT SEMI, and the doc-level join must not shuffle the
    corpus through a sort-merge."""
    plan = _staged_plan(spark, sf_dir, "text_perplexity_proxy")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan


def test_perplexity_prunes_document_payload(spark, sf_dir):
    """The trigram scan needs doc_id + text only — lang/source must
    not be read."""
    plan = _staged_plan(spark, sf_dir, "text_perplexity_proxy")
    scans = [ln for ln in plan.split("\n") if "ReadSchema" in ln]
    assert scans and all("lang" not in ln and "source" not in ln for ln in scans)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@given(
    st.integers(2, 6).flatmap(
        lambda dim: st.tuples(
            st.lists(
                st.lists(
                    st.floats(-10, 10, allow_nan=False, allow_infinity=False),
                    min_size=dim,
                    max_size=dim,
                ),
                min_size=1,
                max_size=8,
            ),
            st.lists(
                st.lists(
                    st.floats(-10, 10, allow_nan=False, allow_infinity=False),
                    min_size=dim,
                    max_size=dim,
                ),
                min_size=1,
                max_size=5,
            ),
        )
    )
)
@settings(max_examples=100, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_np_assign_matches_sequential_fold_reference(data):
    """_np_assign's vectorized accumulation must equal a pure-Python
    per-row sequential fold bit-for-bit (the property the oracle
    parity rests on), including the lowest-cid tie-break."""
    import numpy as np

    from noaa_data_pipeline_spark.plans.lifecycle import _np_assign

    rows, cents = data
    mat = np.array(rows, dtype=np.float64)
    centroids = [(i * 3 + 1, c) for i, c in enumerate(cents)]  # sorted cids
    got = _np_assign(mat, centroids).tolist()
    expected = []
    for r in rows:
        best = None
        for cid, c in centroids:
            acc = 0.0
            for a, b in zip(r, c):
                d = a - b
                acc = acc + d * d
            if best is None or acc < best[0] or (acc == best[0] and cid < best[1]):
                best = (acc, cid)
        expected.append(best[1])
    assert got == expected


def test_perplexity_proxy_matches_python_reference(spark, adversarial_docs_lake):
    """Independent pure-Python referee (not the DuckDB twin): trigram
    counts, rare-ppm integer division, and bucketing recomputed from
    scratch on the adversarial lake must equal the Spark result."""
    from collections import Counter

    import pyarrow.parquet as pq

    from noaa_data_pipeline_spark.plans.lifecycle import (
        PPM_HIGH,
        PPM_LOW,
        RARE_MAX,
    )

    tbl = pq.read_table(f"{adversarial_docs_lake}/documents.parquet")
    docs = {
        d: t
        for d, t in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())
        if t is not None and len(t) >= 3
    }
    trigrams = {d: [t[i : i + 3] for i in range(len(t) - 2)] for d, t in docs.items()}
    counts = Counter(tg for tgs in trigrams.values() for tg in tgs)
    expected = {}
    for d, tgs in trigrams.items():
        n_rare = sum(1 for tg in tgs if counts[tg] <= RARE_MAX)
        ppm = (1_000_000 * n_rare) // len(tgs)
        bucket = "low" if ppm > PPM_LOW else ("medium" if ppm > PPM_HIGH else "high")
        expected[d] = (len(tgs), ppm, bucket)
    out = LIFECYCLE["text_perplexity_proxy"].fn(spark, adversarial_docs_lake).collect()
    got = {r["doc_id"]: (r["n_trigrams"], r["rare_ppm"], r["quality_bucket"]) for r in out}
    assert got == expected


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("L", "N", "P", "Z", "S")
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_perplexity_proxy_differential_fuzz(spark, tmp_path_factory, texts):
    """Random-unicode-lake differential fuzz (the translator-fuzzer
    approach applied to data): Spark vs the DuckDB twin on generated
    documents must hash-match for ANY text content — catching char
    semantics drift the fixed adversarial fixture can't."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = str(tmp_path_factory.mktemp("fuzz_lake"))
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
    q = LIFECYCLE["text_perplexity_proxy"]
    sdf = q.fn(spark, tmp)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp}/documents.parquet')")
    res = con.execute(q.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    con.close()
    assert len(srows) == len(orows)
    assert frame_digest(sdf.columns, srows)[0] == frame_digest(ocols, orows)[0]


def test_package_zip_importable_standalone():
    """The executor-shipping zip (session.package_zip) must be a
    self-sufficient import root: a fresh interpreter with ONLY the
    zip on sys.path — no repo checkout — must import the plan modules
    an executor's pandas UDF closures reference by module path."""
    import subprocess
    import sys as _sys

    from noaa_data_pipeline_spark.session import package_zip

    zip_path = package_zip()
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);\n"
        "import noaa_data_pipeline_spark.plans.lifecycle as s\n"
        "import noaa_data_pipeline_spark.plans.multimodal\n"
        "import noaa_data_pipeline_spark.operators.textops\n"
        "assert s._np_assign is not None\n"
        "print('zip-import-ok')\n"
    )
    out = subprocess.run(
        [_sys.executable, "-c", code, zip_path],
        capture_output=True,
        text=True,
        cwd="/tmp",  # not the repo root: the zip must stand alone
        env={"PATH": os.environ.get("PATH", "")},
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "zip-import-ok" in out.stdout


def test_semantic_centroid_cache_invalidates_on_lake_change(spark, tmp_path):
    """The per-fingerprint centroid cache must never serve stale
    centroids after the embeddings table is rewritten in place (the
    r6-ADVICE cache-invalidation contract, applied to the staged
    cache)."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from noaa_data_pipeline_spark.plans.lifecycle import _semantic_centroids

    lake = str(tmp_path)

    def write(vals):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(len(vals)), pa.int64()),
                    "embedding": pa.array(vals, pa.list_(pa.float32())),
                    "label": pa.array([0] * len(vals), pa.int32()),
                }
            ),
            f"{lake}/embeddings.parquet",
        )

    write([[float(i), 0.0] for i in range(12)])
    first = _semantic_centroids(spark, lake)
    again = _semantic_centroids(spark, lake)
    assert again is first  # cache hit for identical content
    _time.sleep(0.05)  # ensure the rewrite lands a distinct mtime
    write([[0.0, float(i * 5)] for i in range(12)])
    second = _semantic_centroids(spark, lake)
    assert second != first  # rewritten lake -> fresh centroids


def test_incremental_ivf_insert_excludes_zero_norm(spark, tmp_path_factory):
    """Zero-norm vectors (cosine undefined) must be excluded from
    BOTH the index and the new batch in BOTH engines (review r8: a
    zero-norm new vector's all-NaN GEMM row silently dropped every
    candidate Spark-side while the oracle emitted NULL-cosine rows;
    a zero-norm index vector could poison np.partition's kth)."""
    import random

    import duckdb
    import pyarrow as pa

    random.seed(3)
    dim = 16
    rows = []
    zero_ids = set()
    for i in range(120):
        if i % 17 == 0:
            v = [0.0] * dim
            zero_ids.add(i)
        else:
            v = [random.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, v, i % 4))
    tmp = str(tmp_path_factory.mktemp("ivf_zero"))
    _write_parquet(
        f"{tmp}/embeddings.parquet",
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        ),
    )
    out = _gate_compare(spark, tmp, "sim_incremental_ivf_insert", ["embeddings"])
    assert out, "the 120-vector lake must produce some inserts"
    touched = {r[0] for r in out} | {r[2] for r in out}
    assert not (touched & zero_ids)
