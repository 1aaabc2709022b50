"""Differential test: vectorized mapInPandas path ≡ relational join-agg
path — the engine's analogue of the reference's scipy≡ESMPy exactness
test (xesmf/tests/test_backend.py:142-157). Sum order differs between
the two physical plans, so equality is to 1e-9 abs rather than bitwise.
"""

from pyspark.sql import functions as F

from xesmf_spark import grid_global, smm_apply, wave_smooth
from xesmf_spark.vectorized import long_to_wide, smm_apply_vectorized, wide_to_long
from xesmf_spark.weights import conservative_weights


def test_vectorized_matches_relational(spark):
    g_in = grid_global(spark, 20, 12)
    g_out = grid_global(spark, 15, 9)
    w = conservative_weights(g_in, g_out)

    times = spark.range(1, 4).select(F.col("id").alias("time"))
    field = (
        g_in.df.select("cell_id", wave_smooth().alias("v0"))
        .crossJoin(times)
        .select("time", "cell_id", (F.col("time").cast("double") * F.col("v0")).alias("value"))
    )

    rel = smm_apply(field, w, g_out, extra_keys=("time",), attach_coords=False)

    wide = long_to_wide(field, extra_keys=("time",))
    vec_wide = smm_apply_vectorized(
        wide, w, n_in=g_in.n_cells, n_out=g_out.n_cells, extra_cols=("time",)
    )
    vec = wide_to_long(vec_wide, extra_keys=("time",))

    diff = (
        rel.join(vec.withColumnRenamed("value", "v_vec"), ["time", "cell_id"])
        .select(F.max(F.abs(F.col("value") - F.col("v_vec"))).alias("d"))
        .first()["d"]
    )
    assert rel.count() == vec.count() == 3 * g_out.n_cells
    assert diff < 1e-9, diff


def test_wide_roundtrip(spark):
    g = grid_global(spark, 20, 12)
    field = g.df.select("cell_id", wave_smooth().alias("value")).withColumn(
        "time", F.lit(1)
    )
    wide = long_to_wide(field, extra_keys=("time",))
    assert wide.count() == 1
    back = wide_to_long(wide, extra_keys=("time",))
    assert back.count() == g.n_cells
    chk = (
        back.join(field.withColumnRenamed("value", "v0"), ["time", "cell_id"])
        .select(F.max(F.abs(F.col("value") - F.col("v0"))).alias("d"))
        .first()["d"]
    )
    assert chk == 0.0


def test_vectorized_shape_check(spark):
    import pytest

    g_in = grid_global(spark, 20, 12)
    g_out = grid_global(spark, 15, 9)
    w = conservative_weights(g_in, g_out)
    wide = long_to_wide(
        g_in.df.select("cell_id", wave_smooth().alias("value")).withColumn("time", F.lit(1)),
        extra_keys=("time",),
    )
    with pytest.raises(ValueError):
        smm_apply_vectorized(wide, w, n_in=10, n_out=5, extra_cols=("time",))


def test_smm_apply_files_discard_sink(spark, tmp_path):
    """sink='discard' must run the full scan+kernel (manifest populated,
    write_ms 0, no output files) and return None; results parity is
    covered by the parquet-sink differential above."""
    import os

    import xesmf_spark.vectorized as V
    from xesmf_spark.vectorized import smm_apply_files, write_wide_parquet

    g_in = grid_global(spark, 20, 12)
    g_out = grid_global(spark, 15, 9)
    w = conservative_weights(g_in, g_out)
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    import numpy as np

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
    import pytest as _pytest

    with _pytest.raises(ValueError):
        smm_apply_files(
            spark, in_dir, w, out_dir, n_in=g_in.n_cells, n_out=g_out.n_cells,
            extra_cols=("time",), sink="s3",
        )


def test_binary_slices_roundtrip(monkeypatch):
    import numpy as np
    import pyarrow as pa
    import pytest

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
