"""Every registered query runs on Spark and (when an oracle exists)
hash-matches DuckDB on the same parquet — mirrors the driver's gate
at sf0.001 for speed."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from noaa_data_pipeline_spark import plans
from noaa_data_pipeline_spark.plans import CATALOG, register, resolve
from tools.check_correctness import canon, frame_digest


def _all_names():
    return sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", _all_names())
def test_query_matches_oracle(spark, duck, sf_dir, name):
    fn = entrymod.queries()[name]
    oracle = entrymod.oracle_sql().get(name)
    sdf = fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    assert srows is not None
    if oracle is None:
        return  # rows-only check: it ran and produced a frame
    res = duck.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    sh, slines = frame_digest(sdf.columns, srows)
    oh, olines = frame_digest(ocols, orows)
    if sh != oh:
        only_s = [x for x in slines if x not in set(olines)][:3]
        only_o = [x for x in olines if x not in set(slines)][:3]
        pytest.fail(f"value hash mismatch; spark-only={only_s} oracle-only={only_o}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_canon_stability():
    assert canon(None) == "NULL"
    assert canon(1.5) == "1.5"
    assert canon([1, None]) == "[1,NULL]"


def test_plan_digest_sees_helper_and_constant_edits(tmp_path):
    """The plan-source digest (the prebuilt PQ index's code key) must
    catch edits to same-module HELPERS and CONSTANTS the entry
    references, not just the entry function's own body — and must be
    stable across processes for unchanged source."""
    import importlib.util
    import sys

    from noaa_data_pipeline_spark.plans.ivf_pq import plan_source_digest

    base = '''
WIDTH = 8

def _helper(x):
    return x + WIDTH

def entry(spark, sf_dir):
    return _helper(1)
'''

    def load(tag, text):
        p = tmp_path / f"digestmod_{tag}.py"
        p.write_text(text)
        spec = importlib.util.spec_from_file_location(f"digestmod_{tag}", p)
        mod = importlib.util.module_from_spec(spec)
        sys.modules[spec.name] = mod
        spec.loader.exec_module(mod)
        return mod

    d0 = plan_source_digest(load("a", base).entry)
    # identical source under a different module name -> same digest
    assert plan_source_digest(load("b", base).entry) == d0
    # helper body edit (entry fn source unchanged) -> digest changes
    d_helper = plan_source_digest(
        load("c", base.replace("x + WIDTH", "x * WIDTH")).entry
    )
    assert d_helper != d0
    # referenced module-level constant edit -> digest changes
    d_const = plan_source_digest(load("d", base.replace("WIDTH = 8", "WIDTH = 16")).entry)
    assert d_const != d0
    # entry body edit -> digest changes
    d_entry = plan_source_digest(load("e", base.replace("_helper(1)", "_helper(2)")).entry)
    assert d_entry != d0


# Every catalog entry outside the driver surface, with its tier.
UNLISTED_TIERS = {
    "docs_token_drift_tvd": "staged",
    "emb_pca_top2_deflation": "staged",
    "lake_bloom_semijoin_prune": "staged",
    "sample_weighted_priority": "staged",
    "sim_hard_negatives": "staged",
    "sim_ivf_pq_adc_prebuilt": "staged",
    "sim_ivf_pq_residual_prebuilt": "staged",
    "emb_matryoshka_truncate_eval": "folded",
    "events_value_percentiles": "folded",
    "q1_pricing_summary_exact_agg": "folded",
    "q21_waiting_suppliers_bucketed": "folded",
    "q9_product_type_profit_bucketed": "folded",
    "skew_salted_user_join": "folded",
    "dedup_simhash_purge_pipeline": "composite",
    "docs_weighted_shard_assembly": "composite",
    "emb_pca_outlier_pipeline": "composite",
}

# Entries promoted from a staged candidate into the driver surface.
PROMOTED = [
    "dedup_containment_ngram",
    "emb_dim_reduction_eval",
    "emb_pca_power_iteration",
    "emb_pca_project_scores",
    "events_kmv_theta_sketch_overlap",
    "sim_ivf_pq_adc_search",
    "sim_ivf_pq_residual_search",
]


def test_catalog_tiers():
    """Only the registered tier reaches the driver surface; every tier
    resolves by name; a retired name resolves nowhere."""
    driver = set(entrymod.queries())
    assert len(driver) == 147
    unlisted = {n: q.tier for n, q in CATALOG.items() if q.tier != "registered"}
    assert unlisted == UNLISTED_TIERS
    for name, tier in UNLISTED_TIERS.items():
        assert resolve(name).tier == tier
        assert name not in driver
    for name in PROMOTED:
        assert name in driver
        assert resolve(name).tier == "registered"
    with pytest.raises(KeyError):
        resolve("emb_jl_projection_eval")


def test_register_rejects_duplicate_name():
    """Names are unique across tiers: re-registering one raises and
    leaves the catalog untouched."""
    plans.load_all()
    before = dict(CATALOG)
    with pytest.raises(ValueError, match="duplicate"):
        register("q1_pricing_summary", tier="staged")(lambda spark, sf_dir: None)
    assert CATALOG == before


def test_load_all_propagates_plan_module_import_error(monkeypatch):
    """A plan module that fails to import fails the load, instead of
    silently dropping its entries from the driver surface."""
    monkeypatch.setattr(plans, "PLAN_MODULES", [*plans.PLAN_MODULES, "no_such_family"])
    with pytest.raises(ModuleNotFoundError, match="no_such_family"):
        plans.load_all()
