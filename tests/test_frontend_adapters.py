"""Native-array ingestion facade — ports of the reference's frontend
tests that drive ``regridder(numpy_array)`` / ``regridder(DataArray)``
(xesmf/tests/test_frontend.py:117-137 periodic pair,
test_frontend.py:175-200 regrid_dataarray/broadcasting). xarray is not
installed in this container, so the DataArray/Dataset paths are gated
tests; the numpy path — the shared compute core of all of them — is
exercised end-to-end.
"""

from __future__ import annotations

import uuid

import numpy as np
import pytest

from xesmf_spark.grids import grid_global, grid_from_arrays
from xesmf_spark.regridder import Regridder, _try_import_xarray


def _lonlat(grid):
    pdf = grid.df.select("cell_id", "lon", "lat").orderBy("cell_id").toPandas()
    return (
        pdf["lon"].to_numpy().reshape(grid.shape),
        pdf["lat"].to_numpy().reshape(grid.shape),
    )


def _wave(lon, lat):
    # xesmf/data.py:8-44 analytic benchmark field
    return 2.0 + np.cos(np.radians(lat)) ** 2 * np.cos(2.0 * np.radians(lon))


@pytest.fixture(scope="module")
def grids(spark):
    g_in = grid_global(spark, 20, 12)
    g_out = grid_global(spark, 15, 9)
    return g_in, g_out


def test_regrid_numpy_conservative(spark, grids):
    # test_frontend.py:175-192 numpy portion
    g_in, g_out = grids
    rg = Regridder(spark, g_in, g_out, "conservative")
    lon_i, lat_i = _lonlat(g_in)
    lon_o, lat_o = _lonlat(g_out)
    out = rg(_wave(lon_i, lat_i))  # ndarray dispatch through __call__
    assert out.shape == g_out.shape
    ref = _wave(lon_o, lat_o)
    rel = np.abs((ref - out) / ref)
    assert np.max(rel) < 0.05


def test_regrid_numpy_periodic_wrong_and_correct(spark, grids):
    # test_frontend.py:117-137: without periodic the seam cells are
    # unmapped (-> 0, rel err exactly 1); with periodic the wrap-union
    # brackets close the seam
    g_in, g_out = grids
    lon_i, lat_i = _lonlat(g_in)
    lon_o, lat_o = _lonlat(g_out)
    data, ref = _wave(lon_i, lat_i), _wave(lon_o, lat_o)

    out_wrong = Regridder(spark, g_in, g_out, "bilinear")(data)
    rel = np.abs((ref - out_wrong) / ref)
    assert np.max(rel) == 1.0

    g_in_p = grid_global(spark, 20, 12, periodic=True)
    out_right = Regridder(spark, g_in_p, g_out, "bilinear", periodic=True)(data)
    rel = np.abs((ref - out_right) / ref)
    assert np.max(rel) < 0.065


def test_regrid_numpy_4d_broadcast(spark, grids):
    # test_frontend.py:194-200: extra (time, lev) dims broadcast through
    # the SpMV; by linearity every slice must equal its scalar multiple
    # of the 2-D result
    g_in, g_out = grids
    rg = Regridder(spark, g_in, g_out, "conservative")
    lon_i, lat_i = _lonlat(g_in)
    data2d = _wave(lon_i, lat_i)
    time = np.arange(1, 5)[:, None, None, None]
    lev = np.arange(1, 4)[None, :, None, None]
    data4d = time * lev * data2d[None, None]
    out4d = rg(data4d)
    out2d = rg(data2d)
    assert out4d.shape == (4, 3) + g_out.shape
    expect = time * lev * out2d[None, None]
    np.testing.assert_allclose(out4d, expect, rtol=1e-12, atol=1e-12)


def test_regrid_numpy_from_1d_axes(spark):
    # test_frontend.py:105-113 + 151-168: grids built from plain 1-D
    # coordinate arrays (the dict-construction UX) regrid identically
    lon_axis = np.arange(-170.0, 180.0, 20.0)
    lat_axis = np.arange(-84.0, 90.0, 12.0)
    lon_axis_o = np.arange(-172.5, 180.0, 15.0)
    lat_axis_o = np.arange(-85.5, 90.0, 9.0)
    g_in = grid_from_arrays(spark, lon_axis, lat_axis, periodic=True)
    g_out = grid_from_arrays(spark, lon_axis_o, lat_axis_o)
    rg = Regridder(spark, g_in, g_out, "bilinear", periodic=True)
    data = _wave(lon_axis[None, :], lat_axis[:, None])
    out = rg(data)
    ref = _wave(lon_axis_o[None, :], lat_axis_o[:, None])
    rel = np.abs((ref - out) / ref)
    assert np.max(rel) < 0.065


def test_regrid_numpy_shape_validation(spark, grids):
    g_in, g_out = grids
    rg = Regridder(spark, g_in, g_out, "bilinear")
    with pytest.raises(ValueError):
        rg(np.zeros((3, 4)))
    with pytest.raises(TypeError):
        rg("not a field")


def test_xarray_facade_gated(spark, grids):
    # without xarray the DataArray path must fail with a clear message,
    # not an AttributeError mid-regrid
    if _try_import_xarray() is not None:
        pytest.skip("xarray present; gate not reachable")
    g_in, g_out = grids
    rg = Regridder(spark, g_in, g_out, "bilinear")
    with pytest.raises(ImportError, match="xarray"):
        rg.regrid_dataarray(object())


def _bincount_apply(rg, X):
    # independent reference: one np.bincount per slice over the
    # collected COO triplets (no CSR sort, no segment-sum)
    t = rg.weights.select("row", "col", "S").toPandas()
    row, col, s = t["row"].to_numpy(), t["col"].to_numpy(), t["S"].to_numpy()
    X = X.reshape(-1, rg.n_in)
    return np.stack([np.bincount(row, weights=s * x[col], minlength=rg.n_out) for x in X])


@pytest.fixture(scope="module")
def bilinear(spark, grids):
    g_in, g_out = grids
    return Regridder(spark, g_in, g_out, "bilinear")


@pytest.mark.parametrize("k", [1, 3, "dp+1", 16])
def test_regrid_numpy_matches_bincount(spark, bilinear, k):
    if k == "dp+1":
        k = spark.sparkContext.defaultParallelism + 1
    X = np.random.default_rng(k).standard_normal((k,) + bilinear.grid_in.shape)
    out = bilinear.regrid_numpy(X)
    assert out.shape == (k,) + bilinear.grid_out.shape
    np.testing.assert_allclose(
        out.reshape(k, -1), _bincount_apply(bilinear, X), rtol=1e-12, atol=0
    )


def test_regrid_numpy_locstream_source(spark, grids):
    from xesmf_spark.grids import locstream

    pts = locstream(spark, [-120.0, -40.0, 10.0, 75.0, 160.0], [-60.0, 10.0, 45.0, -20.0, 70.0])
    rg = Regridder(spark, pts, grids[1], "nearest_s2d")
    X = np.random.default_rng(7).standard_normal((2, 3, 5))  # (..., n_locations)
    out = rg.regrid_numpy(X)
    assert out.shape == (2, 3) + grids[1].shape
    np.testing.assert_allclose(out.reshape(6, -1), _bincount_apply(rg, X), rtol=1e-12, atol=0)


def test_regrid_numpy_nan_propagates_unmapped_stay_zero(spark, bilinear):
    t = bilinear.weights.select("row", "col").toPandas()
    row, col = t["row"].to_numpy(), t["col"].to_numpy()
    unmapped = np.setdiff1d(np.arange(bilinear.n_out), row)
    assert len(unmapped)  # the non-periodic seam leaves cells unmapped
    X = np.random.default_rng(1).standard_normal((2, bilinear.n_in)) + 3.0
    X[0, col[0]] = np.nan
    out = bilinear.regrid_numpy(X.reshape((2,) + bilinear.grid_in.shape)).reshape(2, -1)
    hit = np.unique(row[col == col[0]])
    assert np.isnan(out[0, hit]).all()
    assert np.isfinite(np.delete(out[0], hit)).all() and np.isfinite(out[1]).all()
    assert (out[:, unmapped] == 0.0).all()
    np.testing.assert_allclose(out, _bincount_apply(bilinear, X), rtol=1e-12, atol=0)


@pytest.fixture(params=["default", "0"], ids=["local-relation", "arrow-rdd"])
def arrow_relation_threshold(request, spark):
    # createDataFrame from Arrow makes a local relation below this size
    # and one partition per record batch above it; "0" forces the latter
    key = "spark.sql.execution.arrow.localRelationThreshold"
    if request.param == "default":
        yield
        return
    spark.conf.set(key, request.param)
    try:
        yield
    finally:
        spark.conf.unset(key)


def test_regrid_numpy_one_job_no_exchange(spark, bilinear, arrow_relation_threshold):
    from xesmf_spark.vectorized import _ndarray_frame

    sc = spark.sparkContext
    parts = min(16, sc.defaultParallelism)
    assert parts > 1
    X = np.random.default_rng(2).standard_normal((16,) + bilinear.grid_in.shape)
    bilinear.regrid_numpy(X[:1])  # caches the CSR broadcast
    group = f"regrid-numpy-plan-{uuid.uuid4().hex}"  # fresh per run: the tracker keeps old groups
    sc.setJobGroup(group, group)
    try:
        out = bilinear.regrid_numpy(X)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    stages = sc.statusTracker().getJobInfo(jobs[0]).stageIds
    assert len(stages) == 1, stages
    # spread over min(k, defaultParallelism) tasks, one per partition
    assert sc.statusTracker().getStageInfo(stages[0]).numTasks == parts
    np.testing.assert_allclose(
        out.reshape(16, -1), _bincount_apply(bilinear, X), rtol=1e-12, atol=0
    )

    frame = _ndarray_frame(spark, X.reshape(16, -1), bilinear.weights, bilinear.n_in, bilinear.n_out)
    assert frame.rdd.getNumPartitions() == parts
    assert "Exchange" not in frame._jdf.queryExecution().executedPlan().toString()
