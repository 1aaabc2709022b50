"""Independent numpy reference for the benchmark's correctness gate.

Nothing here imports the program: grid centres are recomputed from the
grid definitions, the analytic field is recomputed in numpy, and the
sparse matrix-vector product is ``np.bincount`` over collected COO
triplets.
"""

from __future__ import annotations

import numpy as np

#: max relative error against the analytic field, for the methods that
#: have one in tests/test_regrid.py (conservative :48, bilinear :88)
TOLERANCE = {"bilinear": 0.065, "conservative": 0.05}

#: tolerance of the apply gates: outputs must equal the numpy reference
#: up to summation order
APPLY_RTOL = 1e-12

#: tolerance on the row (or, for nearest_d2s, column) sums of methods
#: checked structurally
SUM_TOL = 1e-9


def axis_centres(start: float, end: float, step: float) -> np.ndarray:
    """Cell centres of ``grid_1d(start, end, step)``: midpoints of the
    bounds ``start + k*step`` that ``np.arange(start, end + step, step)``
    produces."""
    n = len(np.arange(start, end + step, step)) - 1
    k = np.arange(n, dtype=np.float64)
    return ((start + k * step) + (start + (k + 1) * step)) / 2.0


def grid_centres(lon_spec, lat_spec) -> tuple[np.ndarray, np.ndarray]:
    """Flattened (lon, lat) centres in ``cell_id = j * n_x + i`` order."""
    lon2, lat2 = np.meshgrid(axis_centres(*lon_spec), axis_centres(*lat_spec))
    return lon2.ravel(), lat2.ravel()


def wave_smooth(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """``2 + cos^2(lat) * cos(2 lon)``, degrees in."""
    return 2.0 + np.cos(np.radians(lat)) ** 2 * np.cos(2.0 * np.radians(lon))


def spmv(trip: dict, x: np.ndarray, n_out: int) -> np.ndarray:
    """``A @ x`` over the last axis of ``x`` (shape ``(..., n_in)``)."""
    rows, cols, vals = trip["row"], trip["col"], trip["S"]
    flat = x.reshape(-1, x.shape[-1])
    out = np.stack(
        [np.bincount(rows, weights=vals * xs[cols], minlength=n_out) for xs in flat]
    )
    return out.reshape(x.shape[:-1] + (n_out,))


def check_weights(
    method: str,
    trip: dict,
    n_in: int,
    n_out: int,
    src: tuple[np.ndarray, np.ndarray],
    dst: tuple[np.ndarray, np.ndarray],
    expect_nnz: int | None = None,
    tolerance: dict | None = None,
) -> list[str]:
    """Problems found in one method's triplets; empty when they pass.

    Methods with a tolerance are held to it on the analytic field over
    the mapped destination cells. ``nearest_d2s`` must map every source
    cell exactly once (column sums of 1); every other method must have
    row sums of 1 on its mapped rows.
    """
    tolerance = TOLERANCE if tolerance is None else tolerance
    rows, cols, vals = trip["row"], trip["col"], trip["S"]
    problems = []
    nnz = len(rows)
    if expect_nnz is not None and nnz != expect_nnz:
        problems.append(f"{method}: nnz {nnz} != expected {expect_nnz}")
    if nnz == 0:
        return problems + [f"{method}: no weights"]
    if rows.min() < 0 or rows.max() >= n_out or cols.min() < 0 or cols.max() >= n_in:
        return problems + [f"{method}: index out of range"]
    if not np.all(np.isfinite(vals)):
        return problems + [f"{method}: non-finite weight"]
    if method in tolerance:
        y = spmv(trip, wave_smooth(*src), n_out)
        ref = wave_smooth(*dst)
        mapped = np.bincount(rows, minlength=n_out) > 0
        err = float(np.max(np.abs((y[mapped] - ref[mapped]) / ref[mapped])))
        if not err < tolerance[method]:
            problems.append(f"{method}: max rel err {err:.4g} >= {tolerance[method]}")
    else:
        key, n = (cols, n_in) if method == "nearest_d2s" else (rows, n_out)
        sums = np.bincount(key, weights=vals, minlength=n)
        hit = np.bincount(key, minlength=n) > 0
        if method == "nearest_d2s" and not hit.all():
            problems.append(f"{method}: {int((~hit).sum())} source cells unmapped")
        dev = float(np.max(np.abs(sums[hit] - 1.0)))
        if not dev <= SUM_TOL:
            problems.append(f"{method}: weight sums deviate from 1 by {dev:.3g}")
    return problems


def check_apply(name: str, y: np.ndarray, ref: np.ndarray) -> list[str]:
    """Problems in an applied output against its numpy reference: shapes
    must agree and ``max|y - ref| <= APPLY_RTOL * max|ref|``."""
    y = np.asarray(y, dtype=np.float64)
    if y.shape != ref.shape:
        return [f"{name}: shape {y.shape} != reference {ref.shape}"]
    scale = max(float(np.max(np.abs(ref))), np.finfo(np.float64).tiny)
    err = float(np.max(np.abs(y - ref))) / scale
    if not err <= APPLY_RTOL:
        return [f"{name}: rel err {err:.3g} > {APPLY_RTOL}"]
    return []


def dense_field(seed: int, n_slices: int, src: tuple[np.ndarray, np.ndarray]):
    """Seeded dense field generator: slice ``s`` is
    ``a[s] * wave + b[s] * noise`` for seeded coefficients and one
    seeded noise vector. Returns ``fn(s0, s1) -> (s1 - s0, n_in)``."""
    rng = np.random.default_rng([seed, 1])
    a = rng.uniform(0.5, 2.0, n_slices)
    b = rng.uniform(-0.5, 0.5, n_slices)
    wave = wave_smooth(*src)
    noise = rng.standard_normal(wave.size)

    def block(s0: int, s1: int) -> np.ndarray:
        return a[s0:s1, None] * wave[None, :] + b[s0:s1, None] * noise[None, :]

    return block
