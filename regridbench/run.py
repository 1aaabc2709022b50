#!/usr/bin/env python3
"""Regrid benchmark: closed-loop workloads over the xesmf_spark layers.

Run from the repository root::

    python3 regridbench/run.py --workload apply_vectorized --seed 1 --seconds 20 --trace 0

Each run starts a fresh Spark JVM with ``local[<nproc>]``, builds its
grids and inputs from ``--seed``, warms up, then runs whole passes of
the workload's operations in a closed loop (one client) until
``--seconds`` have passed. Outputs are checked against an independent
numpy reference outside the timed window. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics read from Spark's event log. Workloads, metrics and the reasons
behind them are listed in ``BENCHMARK.json`` and ``regridbench/README.md``.

Scratch data (per-run weight files, outputs, event logs, Spark local
dirs and the cached dense field) lives under ``.regridbench/`` in the
repository root.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import zlib  # noqa: E402
from collections import defaultdict  # noqa: E402

import numpy as np  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".regridbench")

METHODS = ("bilinear", "conservative", "nearest_s2d", "nearest_d2s", "patch")
SMALL_METHODS = ("bilinear", "conservative", "nearest_s2d")

#: grid definitions as ((lon0, lon1, dlon), (lat0, lat1, dlat)) bounds
#: specs; "canon_*" is the BASELINE.md pair 400x600 -> 300x400 and
#: "small_*" the paper's periodic global 12x18 -> 45x90 case
SCALES = {
    "full": {
        "canon_in": ((-120, 120, 0.4), (-60, 60, 0.3)),
        "canon_out": ((-120, 120, 0.6), (-60, 60, 0.4)),
        "canon_nnz": {
            "bilinear": 480_000,
            "conservative": 480_000,
            "nearest_s2d": 120_000,
            "nearest_d2s": 240_000,
            "patch": 1_914_404,
        },
        # 10 time x 72 lev x 240,000 float64 = 1.38 GB, over 4x the
        # 300 MiB last-level cache of the 4-core reference host
        "dense": (10, 72),
        "numpy_slices": 16,
        "long_slices": 10,
        "small_warmup": 3,
        "check_slices": 3,
    },
    # smoke-test sizes (regridbench/selftest.py)
    "tiny": {
        "canon_in": ((-120, 120, 4), (-60, 60, 3)),
        "canon_out": ((-120, 120, 6), (-60, 60, 4)),
        "canon_nnz": {
            "bilinear": 4_800,
            "conservative": 4_800,
            "nearest_s2d": 1_200,
            "nearest_d2s": 2_400,
            "patch": 18_644,
        },
        "dense": (2, 3),
        "numpy_slices": 2,
        "long_slices": 2,
        "small_warmup": 1,
        "check_slices": 2,
    },
}
SMALL_IN = ((-180, 180, 20), (-90, 90, 15))
SMALL_OUT = ((-180, 180, 4), (-90, 90, 4))


# -- process accounting ------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of this process plus the JVM tree below ``root_pid``
    (the JVM, the PySpark daemon and its workers; reaped workers count
    through their parent's cutime/cstime)."""
    children = defaultdict(list)
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children[int(st[1])].append(int(name))
    me = stats.get(os.getpid())
    total = (int(me[11]) + int(me[12])) if me else 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        total += sum(int(v) for v in st[11:15])
        todo += children.get(pid, [])
    return total / _TICK


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def note(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[{time.perf_counter() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# -- harness -----------------------------------------------------------------


class OpFailed(Exception):
    """A call into the program raised; already reported."""


class Harness:
    """Times operations (end to end) and calls (one layer each).

    Every call runs under its own Spark job group ``<span>#<n>`` so the
    traced run can attribute jobs, stages and tasks to it. Work the
    harness does itself (checks, clean-up) runs under ``harness``.
    """

    def __init__(self, spark, jvm_pid: int, traced: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.log_on = traced  # is the event log listener attached now
        self.samples = defaultdict(list)  # op kind -> wall seconds
        self.op_cpu = 0.0
        self.calls = []  # dicts: span, gid, wall, cpu, traced, extra
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._n = 0
        self.sc.setJobGroup("harness", "harness")

    def call(self, span: str, fn, **extra):
        self._n += 1
        gid = f"{span}#{self._n}"
        self.sc.setJobGroup(gid, span)
        c0, t0 = tree_cpu_s(self.jvm_pid), time.perf_counter()
        try:
            out = fn()
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            self.problems.append(f"{span}: {type(e).__name__}: {e}"[:300])
            raise OpFailed(span) from e
        finally:
            self.sc.setJobGroup("harness", "harness")
        wall = time.perf_counter() - t0
        self.calls.append(
            {
                "span": span,
                "gid": gid,
                "wall": wall,
                "cpu": tree_cpu_s(self.jvm_pid) - c0,
                "traced": self.log_on,
                **extra,
            }
        )
        return out

    def op(self, kind: str, fn):
        """One closed-loop operation; returns its result or None if it
        raised (counted as failed)."""
        self.attempted += 1
        c0, t0 = tree_cpu_s(self.jvm_pid), time.perf_counter()
        try:
            out = fn()
        except OpFailed:
            self.failed += 1
            return None
        wall = time.perf_counter() - t0
        self.op_cpu += tree_cpu_s(self.jvm_pid) - c0
        self.samples[kind].append(wall)
        note(f"{kind} {wall:.3f}s")
        return out

    def check(self, problems: list[str], ops: int = 1) -> None:
        """Record a correctness check covering ``ops`` operations."""
        if problems:
            self.problems += problems
            self.failed += ops

    def set_event_log(self, on: bool) -> None:
        """Attach or detach Spark's event-log listener (traced runs
        alternate passes so they can report the tracing overhead)."""
        if on == self.log_on:
            return
        jsc = self.sc._jsc.sc()
        listener = jsc.eventLogger().get()
        if on:
            jsc.listenerBus().addToEventLogQueue(listener)
        else:
            jsc.listenerBus().removeListener(listener)
        self.log_on = on


def read_triplets(path: str) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["row", "col", "S"])
    return {
        "row": t.column("row").to_numpy().astype(np.int64),
        "col": t.column("col").to_numpy().astype(np.int64),
        "S": t.column("S").to_numpy().astype(np.float64),
    }


def build_weights(method: str, g_in, g_out, periodic: bool):
    """The weights-layer builder the Regridder dispatches to."""
    from xesmf_spark.weights import (
        bilinear_weights,
        conservative_weights,
        nearest_weights,
        patch_weights,
    )

    if method == "bilinear":
        return bilinear_weights(g_in, g_out, periodic=periodic)
    if method == "conservative":
        return conservative_weights(g_in, g_out)
    if method in ("nearest_s2d", "nearest_d2s"):
        return nearest_weights(g_in, g_out, direction=method[-3:])
    return patch_weights(g_in, g_out, periodic=periodic)


# -- workloads ---------------------------------------------------------------


class Workload:
    """Subclasses set ``kinds`` (op kinds of one pass), ``weight_methods``
    (methods whose builders the traced run probes) and ``primary``
    (pair and method of the traced Regridder probe)."""

    kinds: tuple[str, ...] = ()
    weight_methods: tuple[str, ...] = ()
    weight_probe_reps = 1

    def __init__(self, h: Harness, cfg: dict, seed: int, run_dir: str):
        self.h, self.cfg, self.seed, self.run_dir = h, cfg, seed, run_dir
        self.rng = np.random.default_rng(seed)
        self.spark = h.spark
        self.weights_dir = os.path.join(run_dir, "weights")

    def build_grids(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> None:
        raise NotImplementedError

    def after_pass(self) -> None:
        """Checks and clean-up between passes, outside timed ops."""

    def final_check(self) -> None:
        """Checks after the window."""

    def regridder(self, method, g_in, g_out, periodic=False, reuse=False):
        from xesmf_spark import Regridder

        return Regridder(
            self.spark,
            g_in,
            g_out,
            method,
            periodic=periodic,
            reuse_weights=reuse,
            weights_dir=self.weights_dir,
        )

    def probes(self) -> None:
        """Traced runs only: time the weights builders and the Regridder
        directly, after the window."""
        import pyarrow.parquet as pq

        g_in, g_out, method, periodic = self.primary
        path = os.path.join(self.run_dir, "probe")
        for m in self.weight_methods:
            for _ in range(self.weight_probe_reps):
                p = f"{path}-{m}"
                self.h.call(
                    f"weights.{m}",
                    lambda m=m, p=p: build_weights(m, g_in, g_out, periodic)
                    .write.mode("overwrite")
                    .parquet(p),
                )
                self.h.calls[-1]["nnz"] = pq.ParquetDataset(p).read(columns=["row"]).num_rows
        for _ in range(2):
            self.h.call(
                "regridder.construct",
                lambda: self.regridder(method, g_in, g_out, periodic),
            )
            self.h.call(
                "regridder.write_alone",
                lambda: build_weights(method, g_in, g_out, periodic)
                .write.mode("overwrite")
                .parquet(path + "-alone"),
            )
        for _ in range(3):
            self.h.call(
                "regridder.reuse",
                lambda: self.regridder(method, g_in, g_out, periodic, reuse=True),
            )


class BuildCanonical(Workload):
    kinds = METHODS
    weight_methods = METHODS

    def build_grids(self):
        from xesmf_spark.grids import grid_2d

        c = self.cfg
        self.g_in = grid_2d(self.spark, *c["canon_in"][0], *c["canon_in"][1])
        self.g_out = grid_2d(self.spark, *c["canon_out"][0], *c["canon_out"][1])
        self.primary = (self.g_in, self.g_out, "bilinear", False)

    def setup(self):
        self.last = {}
        self.run_pass()  # warm-up: first builds in a fresh JVM

    def run_pass(self):
        for m in self.rng.permutation(METHODS):
            rg = self.h.op(
                m,
                lambda m=m: self.h.call(
                    f"build.{m}", lambda: self.regridder(m, self.g_in, self.g_out)
                ),
            )
            if rg is not None:
                self.last[m] = rg

    def final_check(self):
        from reference import check_weights, grid_centres

        c = self.cfg
        src, dst = grid_centres(*c["canon_in"]), grid_centres(*c["canon_out"])
        n_in, n_out = src[0].size, dst[0].size
        for m in METHODS:
            ops = len(self.h.samples[m])
            if m not in self.last:
                continue
            trip = read_triplets(self.last[m].filename)
            self.h.check(
                check_weights(m, trip, n_in, n_out, src, dst, c["canon_nnz"][m]), ops
            )


class Apply(Workload):
    """Applies against one bilinear Regridder, built in set-up and then
    constructed again from its weight file; subclasses pick the kinds."""

    weight_methods = ()
    warmup_passes = 1

    def build_grids(self):
        from xesmf_spark.grids import grid_2d

        c = self.cfg
        self.g_in = grid_2d(self.spark, *c["canon_in"][0], *c["canon_in"][1])
        self.g_out = grid_2d(self.spark, *c["canon_out"][0], *c["canon_out"][1])
        self.primary = (self.g_in, self.g_out, "bilinear", False)

    def setup(self):
        import pandas as pd

        from reference import check_weights, dense_field, grid_centres

        c, h = self.cfg, self.h
        self.src, dst = grid_centres(*c["canon_in"]), grid_centres(*c["canon_out"])
        self.n_in, self.n_out = self.src[0].size, dst[0].size
        # cold build, then the reuse the applies run against
        h.call("regridder.setup", lambda: self.regridder("bilinear", self.g_in, self.g_out))
        self.rg = h.call(
            "regridder.setup",
            lambda: self.regridder("bilinear", self.g_in, self.g_out, reuse=True),
        )
        note("bilinear regridder built")
        self.trip = read_triplets(self.rg.filename)
        self.setup_problems = check_weights(
            "bilinear", self.trip, self.n_in, self.n_out, self.src, dst,
            c["canon_nnz"]["bilinear"],
        )
        self.nnz = len(self.trip["row"])
        self.out_dir = os.path.join(self.run_dir, "apply_files_out")
        self.long_out = os.path.join(self.run_dir, "regrid_long_out")
        if "apply_files" in self.kinds:
            n_t, n_l = c["dense"]
            self.field_dir, self.gen = ensure_fixture(n_t, n_l, self.src, self.n_in)
            self.dense_bytes = n_t * n_l * self.n_in * 8
            note("dense field verified")
        if "regrid_numpy" in self.kinds:
            self.xn = self.rng.standard_normal((c["numpy_slices"],) + self.g_in.shape)
        if "regrid_long" in self.kinds:
            k = c["long_slices"]
            self.xl = dense_field(self.seed + 1, k, self.src)(0, k)
            self.long_field = self.spark.createDataFrame(
                pd.DataFrame(
                    {
                        "slice": np.repeat(np.arange(k, dtype=np.int64), self.n_in),
                        "cell_id": np.tile(np.arange(self.n_in, dtype=np.int64), k),
                        "value": self.xl.ravel(),
                    }
                ),
                schema="slice long, cell_id long, value double",
            ).persist()
            self.long_field.count()
            note("long field cached")
        for _ in range(self.warmup_passes):  # python workers, CSR broadcast, JIT
            self.run_pass()
            self.after_pass()
        note("warm-up done")

    def run_pass(self):
        from xesmf_spark import vectorized
        from xesmf_spark.vectorized import smm_apply_files

        h, rg = self.h, self.rg
        self.y_numpy = None
        for kind in self.rng.permutation(self.kinds):
            if kind == "apply_files":

                def files():
                    out = smm_apply_files(
                        self.spark, self.field_dir, rg.weights, self.out_dir,
                        n_in=self.n_in, n_out=self.n_out, extra_cols=("time", "lev"),
                    )
                    return out, vectorized.LAST_MANIFEST

                res = h.op(kind, lambda: h.call("vectorized.apply_files", files))
                if res is not None:
                    man = res[1]
                    h.calls[-1].update(
                        read_s=max(r["read_ms"] for r in man) / 1e3,
                        kernel_s=max(r["kernel_ms"] for r in man) / 1e3,
                        write_s=max(r["write_ms"] for r in man) / 1e3,
                    )
            elif kind == "regrid_numpy":
                self.y_numpy = h.op(
                    kind, lambda: h.call("vectorized.regrid_numpy", lambda: rg.regrid_numpy(self.xn))
                )
            else:
                h.op(
                    kind,
                    lambda: h.call(
                        "apply",
                        lambda: rg(self.long_field, extra_keys=("slice",))
                        .write.mode("overwrite")
                        .parquet(self.long_out),
                    ),
                )

    def after_pass(self):
        import pyarrow.parquet as pq

        from reference import check_apply, spmv
        from xesmf_spark import release_persisted

        h, rng, k = self.h, self.rng, self.cfg["check_slices"]
        n_l = self.cfg["dense"][1]
        if os.path.isdir(self.out_dir):
            parts = sorted(f for f in os.listdir(self.out_dir) if f.endswith(".parquet"))
            t = pq.read_table(os.path.join(self.out_dir, parts[rng.integers(len(parts))]))
            pick = rng.choice(t.num_rows, size=min(k, t.num_rows), replace=False)
            t = t.take(pick)
            y = t.column("values").combine_chunks().flatten().to_numpy().reshape(len(pick), -1)
            slices = t.column("time").to_numpy() * n_l + t.column("lev").to_numpy()
            x = np.concatenate([self.gen(s, s + 1) for s in slices])
            h.check(check_apply("apply_files", y, spmv(self.trip, x, self.n_out)))
            shutil.rmtree(self.out_dir)
        if self.y_numpy is not None:
            pick = rng.choice(len(self.xn), size=min(k, len(self.xn)), replace=False)
            ref = spmv(self.trip, self.xn[pick].reshape(len(pick), -1), self.n_out)
            y = self.y_numpy[pick].reshape(len(pick), -1)
            h.check(check_apply("regrid_numpy", y, ref))
        if os.path.isdir(self.long_out):
            pick = sorted(rng.choice(len(self.xl), size=min(k, len(self.xl)), replace=False))
            t = pq.read_table(self.long_out, filters=[("slice", "in", [int(s) for s in pick])])
            s = t.column("slice").to_numpy()
            cid = t.column("cell_id").to_numpy()
            y = np.zeros((len(pick), self.n_out))
            y[np.searchsorted(pick, s), cid] = t.column("value").to_numpy()
            ok_rows = len(s) == len(pick) * self.n_out
            probs = check_apply("regrid_long", y, spmv(self.trip, self.xl[pick], self.n_out))
            if not ok_rows:
                probs.append(f"regrid_long: {len(s)} rows for {len(pick)} slices")
            h.check(probs)
            shutil.rmtree(self.long_out)
        release_persisted()

    def final_check(self):
        # wrong set-up weights make every apply wrong
        self.h.check(self.setup_problems, self.h.attempted)


class ApplyVectorized(Apply):
    kinds = ("apply_files", "regrid_numpy")


class ApplyRelational(Apply):
    kinds = ("regrid_long",)
    # the relational apply keeps speeding up over its first few passes
    # (9.1, 4.3, 3.9, 4.3, 3.5 s) as the JIT compiles the query paths
    warmup_passes = 3
    # neither apply workload builds weights in its window, so the traced
    # run of this one times the five builders on the canonical pair
    weight_methods = METHODS


class SmallGlobal(Workload):
    kinds = SMALL_METHODS
    # the traced run probes all five builders on this pair, so the two
    # methods the requests do not use are measured somewhere too
    weight_methods = METHODS
    weight_probe_reps = 3

    def build_grids(self):
        from xesmf_spark import grid_global

        self.g_in = grid_global(self.spark, SMALL_IN[0][2], SMALL_IN[1][2])
        self.g_out = grid_global(self.spark, SMALL_OUT[0][2], SMALL_OUT[1][2])
        self.primary = (self.g_in, self.g_out, "bilinear", True)

    def setup(self):
        from reference import grid_centres

        self.src, self.dst = grid_centres(*SMALL_IN), grid_centres(*SMALL_OUT)
        self.pending = []
        for i in range(self.cfg["small_warmup"]):
            self.request(SMALL_METHODS[i % 3], warm=True)
        self.after_pass()

    def request(self, method, warm=False):
        h = self.h
        x = self.rng.standard_normal((4,) + self.g_in.shape)

        def req():
            rg = h.call(
                "regridder.request",
                lambda: self.regridder(method, self.g_in, self.g_out, periodic=True),
            )
            return rg, h.call("vectorized.regrid_numpy", lambda: rg.regrid_numpy(x))

        res = h.op("warmup" if warm else method, req)
        if res is not None:
            # read now: the next request of this method overwrites the file
            self.pending.append((method, x, res[1], read_triplets(res[0].filename)))

    def run_pass(self):
        for m in self.rng.permutation(SMALL_METHODS):
            self.request(m)

    def after_pass(self):
        from reference import check_apply, check_weights, spmv

        n_in, n_out = self.src[0].size, self.dst[0].size
        for method, x, y, trip in self.pending:
            probs = check_weights(method, trip, n_in, n_out, self.src, self.dst, tolerance={})
            ref = spmv(trip, x.reshape(len(x), -1), n_out)
            probs += check_apply(f"{method} request", y.reshape(len(y), -1), ref)
            self.h.check(probs)
        self.pending = []


WORKLOADS = {
    "build_canonical": BuildCanonical,
    "apply_vectorized": ApplyVectorized,
    "apply_relational": ApplyRelational,
    "small_global": SmallGlobal,
}


# -- dense field fixture -----------------------------------------------------


def _crc(path: str) -> int:
    crc = 0
    with open(path, "rb") as fh:
        while chunk := fh.read(1 << 24):
            crc = zlib.crc32(chunk, crc)
    return crc


#: the dense field does not follow --seed: writing 1.38 GB per seed
#: would cost more than a whole run's window; the seed still drives the
#: op order, the checked slices and the other two applies' inputs
FIXTURE_SEED = 0


def ensure_fixture(n_t: int, n_l: int, src, n_in: int):
    """The dense field as parquet, one row group per file and one file
    per core, written once per shape. A marker holds each file's size
    and CRC-32; verifying it reads every byte, which also warms the page
    cache before the first timed apply. Fixtures of other shapes are
    removed so one field is kept at a time. Returns (directory, slice
    generator)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from reference import dense_field

    n_slices = n_t * n_l
    gen = dense_field(FIXTURE_SEED, n_slices, src)
    root = os.path.join(WORK, "fixtures")
    name = f"field-{n_t}x{n_l}x{n_in}"
    path = os.path.join(root, name)
    marker = os.path.join(path, "MARKER.json")
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as fh:
            want = json.load(fh)
        have = {
            f: [os.path.getsize(os.path.join(path, f)), _crc(os.path.join(path, f))]
            for f in want
        }
        if have == want:
            return path, gen
        print(f"fixture {name} failed verification; rewriting", file=sys.stderr)
    if os.path.isdir(root):
        for old in os.listdir(root):
            shutil.rmtree(os.path.join(root, old))
    os.makedirs(path)
    files = min(len(os.sched_getaffinity(0)), n_slices)
    cuts = [n_slices * i // files for i in range(files + 1)]
    schema = pa.schema(
        [("time", pa.int64()), ("lev", pa.int64()), ("values", pa.list_(pa.float64()))]
    )
    record = {}
    for i in range(files):
        s0, s1 = cuts[i], cuts[i + 1]
        s = np.arange(s0, s1)
        X = gen(s0, s1)
        values = pa.ListArray.from_arrays(
            pa.array(np.arange(0, (s1 - s0 + 1) * n_in, n_in, dtype=np.int32)),
            pa.array(X.ravel()),
        )
        table = pa.Table.from_arrays(
            [pa.array(s // n_l), pa.array(s % n_l), values], schema=schema
        )
        fn = f"part-{i:04d}.parquet"
        pq.write_table(table, os.path.join(path, fn), compression="none", row_group_size=s1 - s0)
        record[fn] = [os.path.getsize(os.path.join(path, fn)), _crc(os.path.join(path, fn))]
        del X, values, table
    with open(marker, "w", encoding="utf-8") as fh:
        json.dump(record, fh)
    return path, gen


# -- metrics -----------------------------------------------------------------


def per_layer_names() -> list[str]:
    names = ["session.start_s", "session.jvm_peak_rss_mb", "session.driver_peak_rss_mb", "grids.build_s"]
    for m in METHODS:
        names += [
            f"weights.{m}.{k}"
            for k in (
                "wall_s", "cpu_s", "jobs", "stages", "shuffle_bytes",
                "shuffle_records_per_nnz", "task_skew", "nnz", "gc_s",
            )
        ]
    names += [
        "regridder.construct_s", "regridder.overhead_s", "regridder.jobs",
        "regridder.reuse_construct_s", "regridder.gc_s",
        "vectorized.wall_s", "vectorized.read_s", "vectorized.kernel_s",
        "vectorized.write_s", "vectorized.task_skew", "vectorized.jobs",
        "vectorized.kernel_flops", "vectorized.kernel_bytes", "vectorized.gc_s",
        "vectorized.regrid_numpy.wall_s", "vectorized.regrid_numpy.jobs",
        "vectorized.regrid_numpy.gc_s",
        "apply.wall_s", "apply.cpu_s", "apply.stages", "apply.shuffle_bytes",
        "apply.spill_bytes", "apply.task_skew", "apply.gc_s",
        "trace.pass_s", "trace.overhead_frac",
    ]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_flops"):
        return "flop"
    if name.endswith(("task_skew", "_per_nnz", "_frac")):
        return "ratio"
    return "count"


def layer_metrics(h: Harness, ev: dict, wl: Workload, setup: dict, passes: list) -> dict:
    """Per-layer metrics: medians over the traced calls of each span."""
    out = dict.fromkeys(per_layer_names(), 0.0)
    out["session.start_s"] = setup["session"]
    out["session.jvm_peak_rss_mb"] = setup["jvm_rss"]
    out["session.driver_peak_rss_mb"] = setup["driver_rss"]
    out["grids.build_s"] = setup["grids"]
    empty = {"jobs": 0, "stages": 0, "task_skew": 0.0, "gc_s": 0.0,
             "shuffle_bytes": 0, "shuffle_records": 0, "spill_bytes": 0}

    def rows(span):
        return [(c, ev.get(c["gid"], empty)) for c in h.calls if c["span"] == span and c["traced"]]

    def fill(prefix, span, keys):
        rs = rows(span)
        if not rs:
            return
        get = {
            "wall_s": lambda c, e: c["wall"],
            "cpu_s": lambda c, e: c["cpu"],
            "jobs": lambda c, e: e["jobs"],
            "stages": lambda c, e: e["stages"],
            "task_skew": lambda c, e: e["task_skew"],
            "gc_s": lambda c, e: e["gc_s"],
            "shuffle_bytes": lambda c, e: e["shuffle_bytes"],
            "spill_bytes": lambda c, e: e["spill_bytes"],
            "nnz": lambda c, e: c.get("nnz", 0),
            "shuffle_records_per_nnz": lambda c, e: e["shuffle_records"] / max(c.get("nnz", 0), 1),
            "read_s": lambda c, e: c.get("read_s", 0.0),
            "kernel_s": lambda c, e: c.get("kernel_s", 0.0),
            "write_s": lambda c, e: c.get("write_s", 0.0),
        }
        for k in keys:
            out[f"{prefix}.{k}"] = median(get[k](c, e) for c, e in rs)

    for m in METHODS:
        fill(f"weights.{m}", f"weights.{m}",
             ("wall_s", "cpu_s", "jobs", "stages", "shuffle_bytes",
              "shuffle_records_per_nnz", "task_skew", "nnz", "gc_s"))
    fill("regridder", "regridder.construct", ("jobs", "gc_s"))
    construct = median(c["wall"] for c, _ in rows("regridder.construct"))
    alone = median(c["wall"] for c, _ in rows("regridder.write_alone"))
    out["regridder.construct_s"] = construct
    out["regridder.overhead_s"] = construct - alone
    out["regridder.reuse_construct_s"] = median(c["wall"] for c, _ in rows("regridder.reuse"))
    fill("vectorized", "vectorized.apply_files",
         ("wall_s", "read_s", "kernel_s", "write_s", "task_skew", "jobs", "gc_s"))
    if "apply_files" in wl.kinds:
        n_slices = wl.cfg["dense"][0] * wl.cfg["dense"][1]
        # computed, not measured: 2 flops per nonzero per slice; bytes
        # = each slice's input and output row plus one pass over the
        # CSR column indices and values per slice
        out["vectorized.kernel_flops"] = 2.0 * wl.nnz * n_slices
        out["vectorized.kernel_bytes"] = 8.0 * n_slices * (wl.n_in + wl.n_out + 2 * wl.nnz)
    fill("vectorized.regrid_numpy", "vectorized.regrid_numpy", ("wall_s", "jobs", "gc_s"))
    fill("apply", "apply",
         ("wall_s", "cpu_s", "stages", "shuffle_bytes", "spill_bytes", "task_skew", "gc_s"))
    traced = [p for p, on in passes if on]
    untraced = [p for p, on in passes if not on]
    out["trace.pass_s"] = median(traced)
    if traced and untraced:
        out["trace.overhead_frac"] = median(traced) / median(untraced) - 1.0
    return out


# -- main --------------------------------------------------------------------


def launch_env(run_dir: str, events: str | None) -> None:
    """Launch sizing, set before the JVM starts. Nothing here changes the
    program's own defaults; it sizes the run to this host."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        # get_spark defaults to 16g; keep the heap well under physical RAM
        SPARK_DRIVER_MEMORY=f"{max(1, min(4, int(mem_gb // 4)))}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # executor python workers must import the package too
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    if events:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                # stdlib json can read neither the compressed nor the
                # rolling (zstd) default of Spark 4.1
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    import xesmf_spark  # noqa: F401  (fail fast when the program is absent)

    cfg = SCALES[args.scale]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    events = os.path.join(run_dir, "events") if args.trace else None
    if events:
        os.makedirs(events)
    launch_env(run_dir, events)
    try:
        return _run(args, cfg, run_dir, events)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, cfg, run_dir, events) -> int:
    from pyspark import SparkContext

    from xesmf_spark.session import get_spark

    setup = {}
    t0 = time.perf_counter()
    spark = get_spark(f"regridbench-{args.workload}")
    gateway = SparkContext._gateway
    jvm = gateway.proc
    try:
        spark.sparkContext.setLogLevel("ERROR")
        setup["session"] = time.perf_counter() - t0
        note("session started")
        h = Harness(spark, jvm.pid, traced=bool(args.trace))
        wl = WORKLOADS[args.workload](h, cfg, args.seed, run_dir)
        t1 = time.perf_counter()
        wl.build_grids()
        setup["grids"] = time.perf_counter() - t1
        note("grids built")
        wl.setup()
        setup_s = time.perf_counter() - T_PROCESS
        note("set-up done")
        # drop set-up samples: the window starts clean
        h.samples.clear()
        h.op_cpu = 0.0

        passes = []  # (pass wall, traced)
        t_start = time.perf_counter()
        min_passes = 2 if args.trace else 1
        while len(passes) < min_passes or time.perf_counter() - t_start < args.seconds:
            if args.trace:
                h.set_event_log(len(passes) % 2 == 0)
            before = {k: len(v) for k, v in h.samples.items()}
            wl.run_pass()
            wall = sum(sum(v[before.get(k, 0):]) for k, v in h.samples.items())
            passes.append((wall, h.log_on))
            wl.after_pass()
        if args.trace:
            h.set_event_log(True)
            wl.probes()
        note(f"window done: {len(passes)} passes")
        wl.final_check()
        setup["jvm_rss"], setup["driver_rss"] = hwm_mb(jvm.pid), hwm_mb(os.getpid())
    finally:
        spark.stop()
        gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)

    pass_s = sum(median(h.samples[k]) for k in wl.kinds)
    n_pass = len(passes)
    e2e = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "cpu_per_pass_s": h.op_cpu / n_pass,
    }
    report(args.workload, wl, h, e2e, n_pass, setup["jvm_rss"] + setup["driver_rss"])
    if args.trace:
        from eventlog import span_stats

        (log,) = [os.path.join(events, f) for f in os.listdir(events)]
        metrics = layer_metrics(h, span_stats(log), wl, setup, passes)
        units = {k: unit_of(k) for k in metrics}
    else:
        metrics = e2e
        units = dict.fromkeys(e2e, "s")
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    for p in h.problems:
        print(f"  PROBLEM {p}")
    print(
        json.dumps(
            {
                "correct": h.failed == 0 and not h.problems,
                "attempted": h.attempted,
                "failed": min(h.failed, h.attempted),
                "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def report(name: str, wl: Workload, h: Harness, e2e: dict, n_pass: int, rss: float) -> None:
    """Human-readable lines: the workload's own end-to-end figures."""
    s = h.samples
    lines = [("setup_s", e2e["setup_s"], "s"), ("peak_rss_mb", rss, "MiB")]
    if name == "build_canonical":
        lines.append(("build_pass_s", e2e["pass_s"], "s"))
        lines += [(f"build_{m}_s", median(s[m]), "s") for m in METHODS]
    elif name == "apply_vectorized":
        lines += [
            ("apply_files_GBps", wl.dense_bytes / 1e9 / max(median(s["apply_files"]), 1e-9), "GB/s"),
            ("regrid_numpy_s", median(s["regrid_numpy"]), "s"),
        ]
    elif name == "apply_relational":
        lines.append(("regrid_long_s", median(s["regrid_long"]), "s"))
    else:
        req = sorted(x for k in SMALL_METHODS for x in s[k])
        lines.append(("request_p50_s", median(req), "s"))
        # the highest percentile with at least ten samples beyond it
        if len(req) >= 20:
            q = 100 * (len(req) - 10) // len(req)
            lines.append((f"request_p{q}_s", float(np.percentile(req, q)), "s"))
    lines.append(("fail_frac", min(h.failed, h.attempted) / max(h.attempted, 1), "ratio"))
    print(f"workload {name}: {n_pass} passes, {h.attempted} ops")
    for k, v, u in lines:
        print(f"  {k} = {v:.6g} {u}")


if __name__ == "__main__":
    sys.exit(main())
