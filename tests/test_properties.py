"""Property-based checks (hypothesis) for the scalar/ranking logic
whose edge cases example tests can miss: the ETL's half-away
rounding in Spark, per-event winner selection with NULL scores,
token-bucket invariants, and the BIP-340 roundtrip."""

from __future__ import annotations

import decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from noaa_data_pipeline_spark.weather.fetcher import RateLimiter


def _spark_round_half_away(spark, xs: list[float]) -> list[int]:
    """The ETL's observed-temperature rounding,
    ``F.round(x, 0).cast("long")`` (run.run_etl_batch and
    etl._metric_values), over a list of doubles in one Spark job."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    rows = df.select("i", F.round("x", 0).cast("long").alias("r")).collect()
    return [r.r for r in sorted(rows, key=lambda r: r.i)]


def _half_up(x: float) -> int:
    """Rust f64::round: Decimal(x) is the exact binary value, so
    HALF_UP quantization rounds halves away from zero exactly."""
    return int(decimal.Decimal(x).quantize(0, rounding=decimal.ROUND_HALF_UP))


@given(st.lists(st.floats(min_value=-1e9, max_value=1e9, allow_nan=False), min_size=1, max_size=40))
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_round_half_away_matches_decimal_half_up(spark, xs):
    assert _spark_round_half_away(spark, xs) == [_half_up(x) for x in xs]


def test_round_half_away_known_edges(spark):
    # the floor(x + 0.5) idiom fails on the largest double below 0.5
    # (the addition rounds up to exactly 1.0); f64::round gives 0;
    # banker's rounding would give 22 for 22.5
    edges = [0.49999999999999994, -0.49999999999999994, 0.5, -0.5, 21.5, -21.5, 22.5]
    assert _spark_round_half_away(spark, edges) == [0, 0, 1, -1, 22, -22, 23]


@given(
    st.lists(
        st.tuples(
            st.integers(0, 40),
            st.integers(0, 2),
            st.one_of(st.none(), st.integers(0, 10**6)),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 5),
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_winners_matches_reference_model(spark, entries, k):
    """etl.winners_batch == the reference's procedure
    (oracle.rs:598-617) for each of 1-3 events at once: stable sort
    by Reverse(Option<score>) (None last), truncate k, indices into
    the event's full id-sorted list."""
    from noaa_data_pipeline_spark.weather import etl

    rows = [(f"{eid:032x}", f"ev{ev}", score) for eid, ev, score in entries]
    df = spark.createDataFrame(rows, "entry_id string, event_id string, score long")
    got = [
        (r.event_id, r.entry_id, r.canonical_idx)
        for r in etl.winners_batch(df, k=k).orderBy("event_id", "rank").collect()
    ]
    # reference model, one event at a time
    expected = []
    for ev in sorted({r[1] for r in rows}):
        ev_rows = [r for r in rows if r[1] == ev]
        id_sorted = sorted(r[0] for r in ev_rows)
        ranked = sorted(
            ev_rows, key=lambda r: (r[2] is None, -(r[2] or 0), r[0])
        )[:k]
        expected += [(ev, r[0], id_sorted.index(r[0])) for r in ranked]
    assert got == expected


@given(
    st.integers(1, 10),
    st.floats(0.0, 5.0, allow_nan=False),
    st.lists(st.floats(0.0, 100.0, allow_nan=False), max_size=30),
)
def test_rate_limiter_invariants(capacity, rate, gaps):
    """Token balance stays within [0, capacity] and an acquire only
    succeeds when a full token was available."""
    clock_t = [0.0]
    rl = RateLimiter(
        capacity, rate, clock=lambda: clock_t[0], sleep=lambda s: None
    )
    for gap in gaps:
        clock_t[0] += gap
        before = rl.tokens
        ok = rl.try_acquire(1.0, max_waits=0)
        assert 0.0 <= rl.tokens <= capacity
        refilled = min(before + gap * rate, capacity)
        assert ok == (refilled >= 1.0)


@given(st.integers(1, 2**256 - 2**32 - 1000), st.binary(min_size=0, max_size=64))
@settings(max_examples=10, deadline=None)
def test_schnorr_roundtrip_property(d, msg):
    from noaa_data_pipeline_spark.functions import schnorr

    sk = (d % (schnorr.N - 1) + 1).to_bytes(32, "big")
    sig = schnorr.sign(msg, sk, aux=b"\x42" * 32)
    assert schnorr.verify(msg, schnorr.pubkey(sk), sig)
    assert not schnorr.verify(msg + b"!", schnorr.pubkey(sk), sig)


def test_pack_sequences_invariants(spark, duck):
    """Sharded packing invariants: every doc lands in exactly one
    bin, bins fill to < budget + largest-doc overshoot, and bin ids
    are dense from 0 within each shard."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.01"
    rows = entrymod.queries()["docs_pack_sequences"](spark, sf).collect()
    n_docs = duck.execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    assert sum(r.n_docs for r in rows) == n_docs  # full coverage, no dupes
    budget = 2048
    max_tok = duck.execute(
        "SELECT MAX(len(string_split(trim(regexp_replace(lower(text),"
        " '[^a-z0-9]+', ' ', 'g')), ' '))) FROM documents"
    ).fetchone()[0]
    by_shard: dict[int, list] = {}
    for r in rows:
        assert r.total_tokens < budget + max_tok  # bounded overshoot
        by_shard.setdefault(r.shard, []).append(r.bin_in_shard)
    for shard, bins in by_shard.items():
        assert sorted(bins) == list(range(len(bins))), shard  # dense ids


@given(
    st.sampled_from(["select", "SELECT", "with", "WITH"]),
    st.sampled_from(
        ["update", "delete", "drop table x", "insert into t", "create view v",
         "truncate t", "merge into t", "set x=1"]
    ),
)
def test_sql_guard_rejects_embedded_dml(prefix, payload):
    from noaa_data_pipeline_spark.sql_surface import SqlGuardError, validate_select_only

    import pytest as _pytest

    # DML keyword anywhere in a SELECT -> rejected (conservative guard)
    with _pytest.raises(SqlGuardError):
        validate_select_only(f"{prefix} * from t where c = '{payload}' ; {payload}")
    with _pytest.raises(SqlGuardError):
        validate_select_only(payload)
    # plain reads pass
    validate_select_only(f"{prefix} 1")


_SYM = st.text(alphabet="ab</w>", min_size=1, max_size=3)


@given(
    st.lists(st.lists(_SYM, min_size=1, max_size=8), min_size=1, max_size=6),
    _SYM,
    _SYM,
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_bpe_merge_fold_matches_python(spark, word_syms, left, right):
    """The Spark aggregate-fold merge (_merge_pair) implements exactly
    the leftmost-nonoverlapping single-pass merge, for arbitrary
    symbol arrays including overlap chains like a,a,a."""
    from pyspark.sql import functions as F

    from noaa_data_pipeline_spark.plans.iterative import _merge_pair

    def py_merge(syms):
        out, pend = [], None
        for s in syms:
            if pend == left and s == right:
                out.append(left + right)
                pend = None
            else:
                if pend is not None:
                    out.append(pend)
                pend = s
        if pend is not None:
            out.append(pend)
        return out

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(word_syms)], "i INT, syms ARRAY<STRING>"
    )
    got = {
        r.i: r.merged
        for r in df.select(
            "i", _merge_pair(F.col("syms"), left, right).alias("merged")
        ).collect()
    }
    for i, syms in enumerate(word_syms):
        assert got[i] == py_merge(syms), (syms, left, right)


def test_scd2_intervals_partition_orders(spark, duck, sf_dir):
    """SCD2 invariants per customer: exactly one open run (NULL
    valid_to); n_orders sums to the customer's order count; and the
    runs form one chain — the multiset of valid_to values equals the
    multiset of valid_from values minus one occurrence of the
    earliest (the chain head has no predecessor)."""
    from collections import Counter

    import __spark_entry__ as entrymod

    rows = entrymod.queries()["orders_scd2_status_intervals"](spark, sf_dir).collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    counts = dict(
        duck.execute(
            "SELECT o_custkey, COUNT(*) FROM orders GROUP BY o_custkey"
        ).fetchall()
    )
    for cust, runs in by_cust.items():
        opens = [r for r in runs if r.valid_to is None]
        assert len(opens) == 1  # exactly one current run
        assert sum(r.n_orders for r in runs) == counts[cust]
        froms = Counter(r.valid_from for r in runs)
        froms[min(froms)] -= 1
        tos = Counter(r.valid_to for r in runs if r.valid_to is not None)
        assert tos == +froms, cust


def test_chunk_overlap_invariants(spark, sf_dir):
    """docs_chunk_overlap: full coverage (every token lands in some
    chunk), exact overlap between consecutive chunks, and lossless
    reconstruction when each chunk contributes its leading stride
    tokens."""
    from noaa_data_pipeline_spark.plans.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        docs_chunk_overlap,
    )

    rows = docs_chunk_overlap(spark, sf_dir).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    assert set(by_doc) == set(docs)
    overlap = CHUNK_TOKENS - CHUNK_STRIDE
    for doc_id, chunks in by_doc.items():
        toks = docs[doc_id].split(" ")
        n = len(toks)
        expected_nch = max(1, -(-(n - overlap) // CHUNK_STRIDE))
        assert sorted(chunks) == list(range(expected_nch))
        # each chunk is exactly the tokens at its window
        for idx, r in chunks.items():
            window = toks[idx * CHUNK_STRIDE : idx * CHUNK_STRIDE + CHUNK_TOKENS]
            assert r.chunk_text.split(" ") == window
            assert r.n_tokens == len(window)
        # last chunk reaches the end of the document -> full coverage
        last = max(chunks)
        assert last * CHUNK_STRIDE + chunks[last].n_tokens == n
        # consecutive full chunks share exactly `overlap` tokens
        if expected_nch > 1:
            a = chunks[0].chunk_text.split(" ")
            b = chunks[1].chunk_text.split(" ")
            assert a[CHUNK_STRIDE:] == b[:overlap]


def test_purge_report_consistent_with_clusters(spark, sf_dir):
    """Per-source removed counts must equal the keep-one-per-cluster
    decision implied by dedup_clusters_cc: sum(n_members - 1) over
    clusters == total docs_removed, and before/after totals add up."""
    from noaa_data_pipeline_spark.plans.iterative import (
        dedup_clusters_cc,
        dedup_purge_report,
    )

    report = dedup_purge_report(spark, sf_dir).collect()
    clusters = dedup_clusters_cc(spark, sf_dir).collect()

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.docs_before for r in report) == n_docs
    for r in report:
        assert r.docs_after == r.docs_before - r.docs_removed

    expected_removed = sum(c.n_members - 1 for c in clusters)
    assert sum(r.docs_removed for r in report) == expected_removed


def test_embed_hash_matches_pure_python(spark, sf_dir):
    """docs_embed_hash against an independent hashlib referee: same
    buckets, signs, and per-(doc, dim) signed counts."""
    import hashlib
    import re
    from collections import Counter

    from noaa_data_pipeline_spark.plans.text import HASH_DIM, docs_embed_hash

    got = {
        (r.doc_id, r.dim): r.weight
        for r in docs_embed_hash(spark, sf_dir).collect()
    }

    expected: Counter = Counter()
    for row in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        norm = re.sub(r"[^a-z0-9]+", " ", row.text.lower()).strip()
        for tok in norm.split(" "):
            if not tok:
                continue
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            expected[(row.doc_id, h % HASH_DIM)] += 1 if (h >> 31) & 1 else -1
    assert got == dict(expected)


@given(st.integers(0, 15), st.integers(0, 15))
def test_zorder_interleave_is_invertible(x, y):
    """The Morton key is a bijection on (x, y) bucket pairs: both
    coordinates recover exactly by de-interleaving, so clustering on
    z loses no information about either dimension (the property the
    per-file min-max envelopes rely on)."""
    from noaa_data_pipeline_spark.plans.scale import Z_BITS

    z = 0
    for i in range(Z_BITS):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    rx = sum(((z >> (2 * i)) & 1) << i for i in range(Z_BITS))
    ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(Z_BITS))
    assert (rx, ry) == (x, y)
    assert 0 <= z < (1 << (2 * Z_BITS))


@given(
    st.lists(st.integers(1, 500), min_size=2, max_size=10),
    st.lists(st.integers(1, 3), min_size=2, max_size=10),
)
@settings(max_examples=50, deadline=None)
def test_mixture_rates_satisfy_target_without_upsampling(counts, weights):
    """docs_domain_mixture_resample's rate formula: keep fractions
    never exceed 1 (no upsampling), the binding source keeps
    everything, and expected kept counts are proportional to the
    target weights."""
    n = min(len(counts), len(weights))
    counts, weights = counts[:n], weights[:n]
    w_total = float(sum(weights))
    t = min(c * w_total / w for c, w in zip(counts, weights))
    fracs = [w * t / (w_total * c) for c, w in zip(counts, weights)]
    assert all(f <= 1.0 + 1e-9 for f in fracs)
    assert any(abs(f - 1.0) < 1e-9 for f in fracs)  # binding source
    kept = [f * c for f, c in zip(fracs, counts)]
    # kept counts follow the target mixture exactly
    for (k1, w1), (k2, w2) in zip(
        list(zip(kept, weights))[:-1], list(zip(kept, weights))[1:]
    ):
        assert abs(k1 * w2 - k2 * w1) < 1e-6 * max(k1, k2, 1.0)
