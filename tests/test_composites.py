"""Composed-pipeline shapes (plans/composites.py): gate-equivalent
oracle compare plus the structural claims the composition makes."""

from __future__ import annotations

import pytest

from noaa_data_pipeline_spark.plans import CATALOG, load_all, register, resolve
from tools.check_correctness import frame_digest


def _composite_names():
    load_all()
    return sorted(n for n, q in CATALOG.items() if q.tier == "composite")


def test_composites_do_not_collide_or_register():
    """Composites are a measurement surface: never on the driver
    surface, and never sharing a name with an entry of another tier
    (a collision would silently bench the wrong plan)."""
    registered = set(load_all())
    names = _composite_names()
    assert names
    for name in names:
        assert name not in registered
        assert resolve(name).tier == "composite"
    with pytest.raises(ValueError, match="duplicate"):
        register(names[0], tier="staged")(lambda spark, sf_dir: None)


@pytest.mark.parametrize("name", _composite_names())
def test_composite_matches_oracle(spark, duck, sf_dir, name):
    """The exact driver-gate compare (rows + columns + value hash)
    on the composed shape — the scale rows BENCH_SCALE records for a
    composite are only trustworthy if the two engines agree on what
    the composition computes."""
    q = resolve(name)
    sdf = q.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    assert q.oracle is not None
    res = duck.execute(q.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    sh, slines = frame_digest(sdf.columns, srows)
    oh, olines = frame_digest(ocols, orows)
    if sh != oh:
        only_s = [x for x in slines if x not in set(olines)][:3]
        only_o = [x for x in olines if x not in set(slines)][:3]
        pytest.fail(f"{name} hash mismatch; spark={only_s} oracle={only_o}")


def test_simhash_purge_pipeline_consumes_pairs(spark, sf_dir):
    """The composition's point: the verified pair list is consumed by
    CC + the report, never emitted — the result is the per-source
    accounting (one row per source), and the purge arithmetic is
    internally consistent."""
    rows = resolve("dedup_simhash_purge_pipeline").fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.docs_before == r.docs_removed + r.docs_after
        assert r.docs_removed >= 0


def test_pca_outlier_pipeline_rates_are_sane(spark, sf_dir):
    """Chebyshev bounds the 3-sigma outlier mass at 1/9 of the corpus
    regardless of distribution; per-label counts must sum consistently
    and the ppm must match its own count arithmetic."""
    rows = resolve("emb_pca_outlier_pipeline").fn(spark, sf_dir).collect()
    assert rows
    total = sum(r.n_vecs for r in rows)
    outliers = sum(r.n_outliers for r in rows)
    assert outliers * 9 <= total
    for r in rows:
        assert 0 <= r.n_outliers <= r.n_vecs
        assert r.outlier_ppm == (1_000_000 * r.n_outliers) // r.n_vecs


def test_weighted_shard_assembly_consistent_with_sampler(spark, sf_dir):
    """The composition must agree with its own first stage: per
    source, sampled_weight equals the sum of the staged sampler's
    weights, n_sampled equals its row count, the fill ratio is a
    proper ppm (<= 1e6 by the bin arithmetic: bins after the first
    open at a prefix boundary, so total tokens never exceed
    n_bins x budget ... except the last doc of a bin may overflow it,
    which is why fill can exceed 1e6 only via that documented
    spillover), and the weight share is a sub-stratum fraction."""
    shard = {
        r.source: r
        for r in resolve("docs_weighted_shard_assembly").fn(spark, sf_dir).collect()
    }
    sample = resolve("sample_weighted_priority").fn(spark, sf_dir).collect()
    by_src = {}
    for r in sample:
        a = by_src.setdefault(r.source, [0, 0])
        a[0] += 1
        a[1] += r.weight
    assert set(shard) == set(by_src)
    for src, (n, wsum) in by_src.items():
        row = shard[src]
        assert row.n_sampled == n
        assert row.sampled_weight == wsum
        assert 1 <= row.n_bins <= n
        assert 0 < row.weight_share_ppm <= 1_000_000
        from noaa_data_pipeline_spark.plans.text import PACK_BUDGET

        assert row.fill_ppm == (1_000_000 * row.sampled_tokens) // (
            row.n_bins * PACK_BUDGET
        )
