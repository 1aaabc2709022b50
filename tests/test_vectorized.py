"""Differential test: the parquet-native ``smm_apply_files`` path ≡ the
relational join-agg path — the engine's analogue of the reference's
scipy≡ESMPy exactness test (xesmf/tests/test_backend.py:142-157). Sum
order differs between the two physical plans, so equality is to 1e-9
abs rather than bitwise.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

import xesmf_spark.vectorized as V
from xesmf_spark import grid_global, smm_apply, wave_smooth
from xesmf_spark.vectorized import smm_apply_files, smm_apply_ndarray, write_wide_parquet
from xesmf_spark.weights import conservative_weights


@pytest.mark.parametrize("part_naming", ["unique", "task"])
def test_files_matches_relational(spark, tmp_path, part_naming):
    g_in = grid_global(spark, 20, 12)
    g_out = grid_global(spark, 15, 9)
    w = conservative_weights(g_in, g_out)
    n_times = 10

    base = g_in.df.select("cell_id", wave_smooth().alias("v0"))
    times = spark.range(1, n_times + 1).select(F.col("id").alias("time"))
    field = base.crossJoin(times).select(
        "time", "cell_id", (F.col("time").cast("double") * F.col("v0")).alias("value")
    )
    rel = np.zeros((n_times, g_out.n_cells))
    for r in smm_apply(field, w, g_out, extra_keys=("time",), attach_coords=False).collect():
        rel[r.time - 1, r.cell_id] = r.value

    v0 = np.zeros(g_in.n_cells)
    for r in base.collect():
        v0[r.cell_id] = r.v0
    # several files, one row per row group: more splits than tasks, so
    # tasks fuse splits (some across files) into one kernel call
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    write_wide_parquet(
        [(t,) for t in range(1, n_times + 1)], in_dir, g_in.n_cells,
        lambda e: e[0] * v0, extra_names=("time",), files=3, rows_per_group=1,
    )

    def run():
        out = smm_apply_files(
            spark, in_dir, w, out_dir, n_in=g_in.n_cells, n_out=g_out.n_cells,
            extra_cols=("time",), part_naming=part_naming,
        )
        assert len(V.LAST_MANIFEST) < n_times
        assert sum(r.rows for r in V.LAST_MANIFEST) == n_times
        return out.select("time", "values").collect()

    rows = run()
    if part_naming == "task":
        rows = run()  # the re-run overwrites its parts in place
    assert sorted(r.time for r in rows) == list(range(1, n_times + 1))
    vec = np.zeros_like(rel)
    for r in rows:
        vec[r.time - 1] = r["values"]
    assert np.abs(rel).max() > 0
    assert np.abs(rel - vec).max() < 1e-9


def test_vectorized_shape_check(spark):
    g_in = grid_global(spark, 20, 12)
    g_out = grid_global(spark, 15, 9)
    w = conservative_weights(g_in, g_out)
    with pytest.raises(ValueError):
        smm_apply_ndarray(spark, np.zeros((2, 10)), w, n_in=10, n_out=5)


def test_smm_apply_files_discard_sink(spark, tmp_path):
    """sink='discard' must run the full scan+kernel (manifest populated,
    write_ms 0, no output files) and return None; results parity is
    covered by test_files_matches_relational above."""
    import os

    g_in = grid_global(spark, 20, 12)
    g_out = grid_global(spark, 15, 9)
    w = conservative_weights(g_in, g_out)
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    write_wide_parquet(
        [(t,) for t in range(1, 4)], in_dir, g_in.n_cells,
        lambda e: np.full(g_in.n_cells, float(e[0])), extra_names=("time",), files=2,
    )
    res = smm_apply_files(
        spark, in_dir, w, out_dir, n_in=g_in.n_cells, n_out=g_out.n_cells,
        extra_cols=("time",), sink="discard",
    )
    assert res is None
    assert sum(r.rows for r in V.LAST_MANIFEST) == 3
    assert all(r.write_ms == 0 and r.part == "<discarded>" for r in V.LAST_MANIFEST)
    assert not [f for f in os.listdir(out_dir) if f.endswith(".parquet")]
    with pytest.raises(ValueError):
        smm_apply_files(
            spark, in_dir, w, out_dir, n_in=g_in.n_cells, n_out=g_out.n_cells,
            extra_cols=("time",), sink="s3",
        )


def test_binary_slices_roundtrip(monkeypatch):
    import pyarrow as pa

    from xesmf_spark import vectorized

    M = np.arange(24.0).reshape(6, 4)
    monkeypatch.setattr(vectorized, "_BINARY_MAX_BYTES", 2 * 4 * 8)  # two rows per array
    parts = vectorized._matrix_to_binary(M)
    assert [len(p) for p in parts] == [2, 2, 2]
    whole = pa.concat_arrays(parts)
    for col in (whole, whole.cast(pa.large_binary())):
        np.testing.assert_array_equal(vectorized._binary_to_matrix(col, 4), M)
        np.testing.assert_array_equal(vectorized._binary_to_matrix(col.slice(1, 3), 4), M[1:4])
    assert vectorized._binary_to_matrix(whole.slice(0, 0), 4).shape == (0, 4)
    with pytest.raises(ValueError):
        vectorized._binary_to_matrix(whole, 3)
