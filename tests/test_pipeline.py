"""End-to-end `analyze_pair` test: the one-call restatement of the
reference notebook chain recovers the fixture's known truth."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from error_analysis_spark.fixtures import GridSpec, make_dem_fixture
from error_analysis_spark.pipeline import analyze_pair


def test_analyze_pair_recovers_truth(spark):
    fx = make_dem_fixture(n_rows=160, n_cols=160, range_m=32.0, sill=0.04,
                          noise_std=0.05, bias=0.15, feature_dz=-1.2,
                          seed=23)
    px = spark.createDataFrame(fx.pixels)
    ref = px.where(F.col("dataset_id") == "reference_dem")
    cmp_ = px.where(F.col("dataset_id") == "compare_dem")
    g = GridSpec("g", 160, 160, fx.truth["x0"], fx.truth["y0"],
                 fx.truth["res"])
    res = analyze_pair(ref, cmp_, g, g, spark.createDataFrame(fx.zones),
                       seed=23)

    # bias recovered within bootstrap uncertainty (A6/A7)
    assert abs(res.bias - 0.15) < max(5 * res.bias_std, 0.03)
    # rms ≈ sqrt(noise² + sill) on the stable area
    assert abs(res.rms - np.sqrt(0.05 ** 2 + 0.04)) < 0.05
    # zonal stats: unstable zones centred near feature_dz
    zonal = res.zonal.toPandas().set_index("zone_id")
    for z in ("unstable1", "unstable2"):
        assert abs(zonal.loc[z, "mean"] - (-1.2)) < 0.25
    # fitted sill in the right ballpark (stable-area variogram)
    total_sill = float(np.sum(res.fit["params"][:int(res.fit["n_comp"])]))
    if bool(res.fit["nugget"]):
        total_sill += float(res.fit["params"][-1])
    assert 0.01 < total_sill < 0.12, total_sill
    # σ_A present for both unstable zones, positive, and far below the
    # feature signal (detectability)
    assert set(res.sigma_a) == {"unstable1", "unstable2"}
    for v in res.sigma_a.values():
        assert 0 < v < 0.5


def test_analyze_pair_chain_is_one_lazy_dag(spark, no_jobs):
    """E3 relational spine: building the chain runs ZERO Spark jobs
    (everything defers to the caller's action), the plan never falls
    back to a CartesianProduct (the bias/centers cross joins are 1-row
    broadcasts; the variogram self-join is the bucketed range join),
    and the one collected result carries all four stages."""
    from error_analysis_spark.pipeline import analyze_pair_chain

    fx = make_dem_fixture(n_rows=60, n_cols=60, seed=7)
    px = spark.createDataFrame(fx.pixels)
    ref = px.where(F.col("dataset_id") == "reference_dem")
    cmp_ = px.where(F.col("dataset_id") == "compare_dem")
    g = GridSpec("g", 60, 60, fx.truth["x0"], fx.truth["y0"],
                 fx.truth["res"])

    with no_jobs():
        chain = analyze_pair_chain(ref, cmp_, g, g, max_lag=20.0,
                                   bin_width=5.0, k_centers=10)

    plan = chain._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan

    pdf = chain.toPandas()
    stages = set(pdf["stage"])
    assert stages == {"bias", "zonal", "vario", "sigma_a"}
    assert len(pdf[pdf["stage"] == "bias"]) == 1
    assert len(pdf[pdf["stage"] == "zonal"]) == 5
    assert len(pdf[pdf["stage"] == "sigma_a"]) == 1
    assert (pdf[pdf["stage"] == "vario"]["n"] > 0).all()
