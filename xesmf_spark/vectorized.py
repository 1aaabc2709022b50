"""Vectorized physical strategies for weight application (SURVEY.md §4.3).

The relational join-agg (apply.py) is exact and scales to arbitrary
field sizes, but for dense many-field workloads the reference's
one-matmul-per-chunk design (scipy COO dot, xesmf/smm.py:90; dask
map_blocks, xesmf/frontend.py:375-389) is the faster shape. Three Spark
physical strategies implement it:

1. ``smm_apply_vectorized`` — fields as WIDE rows ``(extra dims...,
   values: array<double>)`` processed by ``mapInArrow`` with the sparse
   weight triplets broadcast to every executor. Data transits the
   JVM<->Python Arrow boundary (measured ~0.5-1 GB/s aggregate on
   list columns — fine for interactive use, not the 100-TB path).

2. ``smm_apply_ndarray`` — the path for a driver-side ndarray stack
   (``Regridder.regrid_numpy``). Each slice is one ``binary`` value
   holding its raw float64 bytes, so the JVM moves each slice as one
   opaque byte copy where an ``array<double>`` row is converted element
   by element (Arrow -> rows -> Arrow, once each way). The kernel reads
   the contiguous binary data buffer zero-copy as a ``(b, n_in)``
   matrix and emits raw bytes back; the driver collects with
   ``toArrow`` and rebuilds Y with ``np.frombuffer``. The source table
   is cut into ``min(k, defaultParallelism)`` record batches, which
   ``createDataFrame`` turns into as many partitions whatever the
   stack's size, so a call is one job with no shuffle.

3. ``smm_apply_files`` — the dense-tensor FAST path: the field lives in
   parquet (where a 100-TB field lives anyway), Spark schedules
   row-group SPLITS, and each task reads its split natively with
   pyarrow, applies the kernel, and writes its output part file
   natively. Field bytes never transit the JVM — the only rows crossing
   the boundary are a tiny manifest. This mirrors how Spark's own file
   sinks work (tasks write part files, the driver commits), with the
   scan+compute fused into the Python worker.

Kernel design (pure numpy; scipy unavailable in this environment):
triplets are pre-sorted by destination row (CSR-style). The batch is
transposed ONCE to ``(n_in, b)`` C-contiguous so that every nnz access
``XT[col]`` reads a CONTIGUOUS b-vector — the same memory-access trick
that makes scipy's CSR @ dense-with-trailing-batch fast (each nnz
touches one cache-resident row instead of b scattered elements). Then
one fancy-index gather + one ``np.add.reduceat`` segment-sum per batch:
O(nnz * b) streaming work, no per-row Python.
"""

from __future__ import annotations

import glob
import os
import uuid
from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Executor-process allocator setup (workers are forked AFTER import, and
# reused across tasks): this VM page-faults fresh anonymous memory at
# only ~5 GB/s aggregate while warm memory streams at ~470 GB/s, so the
# jemalloc pool must RETAIN freed buffers across tasks instead of
# returning pages to the kernel. One-time per process.
def _init_worker_allocator() -> None:
    try:
        pa.set_memory_pool(pa.jemalloc_memory_pool())
        pa.jemalloc_set_decay_ms(600_000)
    except (NotImplementedError, pa.ArrowNotImplementedError):
        pass


_init_worker_allocator()
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


#: (weights DataFrame, n_in, n_out) -> broadcast CSR, cached for the
#: lifetime of the weights object: collecting + re-broadcasting the
#: triplets costs 0.3-1.2 s per apply (measured), and a Regridder
#: applies the SAME weights to stream after stream — the reference
#: holds its scipy matrix across calls for exactly this reason
#: (xesmf/frontend.py:315-318). Weak keys so dropped weight frames
#: release their broadcast.
import weakref

_CSR_BC_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _csr_broadcast(spark: SparkSession, weights: DataFrame, n_in: int, n_out: int):
    hit = _CSR_BC_CACHE.get(weights)
    if hit is not None and hit[0] == (n_in, n_out):
        return hit[1]
    bc = spark.sparkContext.broadcast(_collect_csr(weights, n_in, n_out))
    _CSR_BC_CACHE[weights] = ((n_in, n_out), bc)
    return bc


def _collect_csr(weights: DataFrame, n_in: int, n_out: int):
    """Collect COO triplets to the driver and pre-sort by destination row
    (the bounded nnz ~ 4*n_out premise — same as the broadcast-hash join
    in the relational path). Returns (uniq_rows, seg_starts, cols, vals).
    """
    trip = weights.select("row", "col", "S").toPandas()
    rows = trip["row"].to_numpy(np.int64)
    cols = trip["col"].to_numpy(np.int64)
    vals = trip["S"].to_numpy(np.float64)
    if len(rows) and (rows.max() >= n_out or cols.max() >= n_in):
        raise ValueError(
            f"weight indices exceed shape ({n_out}, {n_in}) — shape metadata is "
            "required because max indices under-determine it (xesmf/smm.py:20-27)"
        )
    order = np.argsort(rows, kind="stable")
    rows, cols, vals = rows[order], cols[order], vals[order]
    uniq_rows, seg_starts = np.unique(rows, return_index=True)
    return uniq_rows, seg_starts, cols, vals


def _list_to_matrix(vcol: pa.Array, n_in: int) -> np.ndarray:
    """Arrow list<double> column -> (b, n_in) float64 matrix, zero-copy
    from the list child buffer (avoids pyarrow's per-element fallback)."""
    if isinstance(vcol, pa.ChunkedArray):
        # combine_chunks copies even a single chunk
        vcol = vcol.chunk(0) if vcol.num_chunks == 1 else vcol.combine_chunks()
    b = len(vcol)
    flat = vcol.flatten()  # logical value range of the list array
    X = flat.to_numpy(zero_copy_only=False)  # primitive double -> buffer view
    if X.size != b * n_in:
        raise ValueError(
            f"field rows have ragged/unexpected length: {X.size} values "
            f"for {b} rows, expected n_in={n_in} each"
        )
    return X.reshape(b, n_in)


def _matrix_to_list(Y: np.ndarray) -> pa.ListArray:
    b, n_out = Y.shape
    offsets = pa.array(np.arange(0, (b + 1) * n_out, n_out, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(np.ascontiguousarray(Y).reshape(-1)))


def _binary_to_matrix(col: pa.Array, n: int) -> np.ndarray:
    """Arrow binary column whose values are raw float64 rows of length
    ``n`` -> (b, n) float64 matrix, zero-copy over the data buffer (the
    values of a binary array are contiguous)."""
    b = len(col)
    if b == 0:
        return np.empty((0, n))
    if col.null_count:
        raise ValueError("field slices must not be null")
    off_type = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    _, off_buf, data = col.buffers()
    offs = np.frombuffer(off_buf, off_type, b + 1, col.offset * off_type().itemsize)
    if np.any(np.diff(offs) != 8 * n):
        raise ValueError(f"field slices must each hold n={n} float64 values")
    return np.frombuffer(data, np.float64, b * n, int(offs[0])).reshape(b, n)


#: largest value range an Arrow binary array (int32 offsets) can hold
_BINARY_MAX_BYTES = 2**31 - 1


def _matrix_to_binary(M: np.ndarray) -> list[pa.BinaryArray]:
    """(b, n) float64 matrix -> binary arrays, one value of raw float64
    bytes per row, zero-copy over ``M``'s memory. Rows are split across
    as many arrays as keep each under the int32 offset limit."""
    M = np.ascontiguousarray(M, dtype=np.float64)
    b, n = M.shape
    step = max(1, _BINARY_MAX_BYTES // max(8 * n, 1))
    out = []
    for s in range(0, b, step):
        part = M[s : s + step]
        offs = np.arange(0, (len(part) + 1) * 8 * n, 8 * n, dtype=np.int32)
        out.append(
            pa.Array.from_buffers(
                pa.binary(), len(part), [None, pa.py_buffer(offs), pa.py_buffer(part)]
            )
        )
    return out


#: Worker-process scratch buffers, REUSED across tasks (workers are
#: long-lived and reused): page-faulting fresh anonymous memory is this
#: environment's scaling bottleneck (~5 GB/s aggregate vs ~470 GB/s on
#: warm pages), so the kernel's output and temporaries must come from
#: already-touched pages. Capacity-keyed so growth re-allocates once.
_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(name: str, n: int) -> np.ndarray:
    buf = _SCRATCH.get(name)
    if buf is None or buf.size < n:
        _SCRATCH[name] = buf = np.empty(n, dtype=np.float64)
    return buf[:n]


def _spmv_batch(X: np.ndarray, csr, n_out: int) -> np.ndarray:
    """(b, n_in) -> (b, n_out): Y = A @ X.T per slice.

    Per-slice loop over C-contiguous rows with worker-global REUSED
    scratch buffers (``np.take(..., out=)`` + in-place multiply +
    ``reduceat(out=)``). The loop shape is deliberate: a batched
    (nnz, b) gather materializes ~tens of MB of FRESH allocations per
    batch, and page-faulting fresh pages is the scaling bottleneck under
    many concurrent executor processes (measured: per-slice+reuse
    146 ms/task at 32-way parallel vs 7.0 s/task for the
    batched-allocation variant on the same data). Per-slice work is
    still fully vectorized C: one gather, one multiply, one segment-sum
    over nnz. Unmapped destination rows stay 0
    (unmapped_action=IGNORE, xesmf/backend.py:275-279).

    The returned array is a view of process-global scratch: it is valid
    until the NEXT ``_spmv_batch`` call in this process (callers write
    or serialize it before computing another batch — true for both the
    per-task parquet write and the mapInArrow yield, which is streamed
    out before the generator resumes).
    """
    uniq, starts, cols, vals = csr
    b = X.shape[0]
    Y = _scratch("Y", b * n_out).reshape(b, n_out)
    Y.fill(0.0)
    if len(cols) == 0 or b == 0:
        return Y
    contrib = _scratch("contrib", len(cols))
    red = _scratch("red", len(starts))
    for k in range(b):
        np.take(X[k], cols, out=contrib)
        contrib *= vals
        np.add.reduceat(contrib, starts, out=red)
        Y[k, uniq] = red
    return Y


def smm_apply_vectorized(
    field_wide: DataFrame,
    weights: DataFrame,
    n_in: int,
    n_out: int,
    extra_cols: Sequence[str] = (),
    value_col: str = "values",
) -> DataFrame:
    """Apply COO weights to a wide field: one output array row per input
    row, ``out = A.dot(x)`` per slice (xesmf/smm.py:90 semantics,
    including unmapped-row -> 0 since Y starts as zeros)."""
    spark = field_wide.sparkSession
    bc = _csr_broadcast(spark, weights, n_in, n_out)

    extra_cols = list(extra_cols)
    out_fields = [field_wide.schema[c] for c in extra_cols]
    out_fields.append(StructField(value_col, ArrayType(DoubleType()), False))
    out_schema = StructType(out_fields)

    def kernel(batches):
        for rb in batches:
            vcol = rb.column(rb.schema.get_field_index(value_col))
            X = _list_to_matrix(vcol, n_in)
            Y = _spmv_batch(X, bc.value, n_out)
            arrays = [rb.column(rb.schema.get_field_index(e)) for e in extra_cols]
            yield pa.RecordBatch.from_arrays(
                arrays + [_matrix_to_list(Y)], extra_cols + [value_col]
            )

    return field_wide.mapInArrow(kernel, out_schema)


def _ndarray_frame(
    spark: SparkSession, X: np.ndarray, weights: DataFrame, n_in: int, n_out: int
) -> DataFrame:
    """The lazy plan behind :func:`smm_apply_ndarray`: a DataFrame of
    ``(slice_idx long, y binary)`` rows, ``y`` holding the raw float64
    bytes of ``A @ X[slice_idx]``.

    The source table is built from ``min(k, defaultParallelism)``
    record batches of near-equal row counts. ``createDataFrame`` takes
    one of two JVM paths depending on the table's size: below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default) it makes a local relation, which is scanned in
    ``min(k, defaultParallelism)`` partitions; above it, it makes one
    partition per record batch. Cutting the batches here gives the same
    partitions on both paths, with no repartition shuffle. A batch is
    split further only past ``spark.sql.execution.arrow.maxRecordsPerBatch``
    rows or the 2 GiB binary offset limit."""
    bc = _csr_broadcast(spark, weights, n_in, n_out)
    parts = min(len(X), spark.sparkContext.defaultParallelism)
    cuts = [len(X) * i // parts for i in range(parts + 1)]
    schema = pa.schema([("slice_idx", pa.int64()), ("x", pa.binary())])
    batches = []
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        s = lo
        for x in _matrix_to_binary(X[lo:hi]):
            idx = pa.array(np.arange(s, s + len(x), dtype=np.int64))
            batches.append(pa.RecordBatch.from_arrays([idx, x], schema=schema))
            s += len(x)
    src = spark.createDataFrame(
        pa.Table.from_batches(batches, schema), schema="slice_idx long, x binary"
    )

    def kernel(batches):
        for rb in batches:
            Y = _spmv_batch(_binary_to_matrix(rb.column(1), n_in), bc.value, n_out)
            s = 0
            for y in _matrix_to_binary(Y):
                yield pa.RecordBatch.from_arrays(
                    [rb.column(0).slice(s, len(y)), y], ["slice_idx", "y"]
                )
                s += len(y)

    return src.mapInArrow(kernel, "slice_idx long, y binary")


def smm_apply_ndarray(
    spark: SparkSession, X: np.ndarray, weights: DataFrame, n_in: int, n_out: int
) -> np.ndarray:
    """Apply COO weights to a driver-side ``(k, n_in)`` stack and return
    the ``(k, n_out)`` result, ``Y[i] = A.dot(X[i])`` (unmapped rows 0).

    The k slices run as k rows of the source DataFrame in
    ``min(k, defaultParallelism)`` partitions, one task each, with no
    shuffle (see :func:`_ndarray_frame`)."""
    X = np.ascontiguousarray(X, dtype=np.float64)
    if X.ndim != 2 or X.shape[1] != n_in:
        raise ValueError(f"expected a (k, {n_in}) array, got shape {X.shape}")
    k = X.shape[0]
    Y = np.zeros((k, n_out))
    if k == 0:
        return Y
    out = _ndarray_frame(spark, X, weights, n_in, n_out).toArrow()
    if out.num_rows != k:
        raise RuntimeError(f"{out.num_rows} slices came back for {k} sent")
    for rb in out.to_batches():
        Y[rb.column(0).to_numpy()] = _binary_to_matrix(rb.column(1), n_out)
    return Y


def smm_apply_files(
    spark: SparkSession,
    input_path: str,
    weights: DataFrame,
    output_path: str,
    n_in: int,
    n_out: int,
    extra_cols: Sequence[str] = ("time", "lev"),
    value_col: str = "values",
    tasks: int | None = None,
    part_naming: str = "unique",
    sink: str = "parquet",
) -> DataFrame | None:
    """Parquet-to-parquet distributed SpMV — the dense-field scale path.

    Spark schedules (file, row-group) splits; each task reads its splits
    natively with pyarrow (no JVM transit of field bytes), runs the
    transposed-gather kernel once over all its rows, and writes one
    output part file. Returns the output as a DataFrame
    (``spark.read.parquet(output_path)``).

    At cluster scale this is the plan you want for a 100-TB field: scan
    and sink are both executor-local and Arrow-native, the weight
    triplets are a broadcast variable, and the only shuffle-free
    coordination is the split list (O(row groups) rows on the driver) —
    the same metadata Spark's own FileSourceScanExec holds.

    ``part_naming``: "unique" (default) makes collision-free part files
    per run — always safe. "task" names parts ``part-<task>.parquet``
    so an idempotent re-run into the SAME directory overwrites in place
    (page-cache pages are reused warm instead of dirtied fresh — the
    steady-state shape of a periodically re-materialized dataset).
    Caller owns directory hygiene in "task" mode: stale parts from a
    run with a different task count are not cleaned up.

    ``sink="discard"`` computes the full result (scan + kernel +
    output-table assembly) but skips the durable parquet write and
    returns ``None`` — the apples-to-apples twin of an in-RAM consumer
    (e.g. the reference's scipy timing, which materializes a numpy
    array but persists nothing).
    """
    if sink not in ("parquet", "discard"):
        raise ValueError(f"sink must be 'parquet' or 'discard', got {sink!r}")
    bc = _csr_broadcast(spark, weights, n_in, n_out)
    extra_cols = list(extra_cols)

    splits = []
    for p in sorted(glob.glob(os.path.join(input_path, "*.parquet"))):
        md = pq.ParquetFile(p).metadata
        for rg in range(md.num_row_groups):
            splits.append((p, rg))
    if not splits:
        raise FileNotFoundError(f"no parquet files under {input_path}")
    if tasks is None:
        tasks = min(len(splits), spark.sparkContext.defaultParallelism)
    os.makedirs(output_path, exist_ok=True)
    run_id = uuid.uuid4().hex[:8]

    # contiguous, even split->task assignment computed driver-side and
    # shipped inside the task closure (the split list is O(row groups) —
    # tiny). spark.range(n, numPartitions=n) puts exactly one row in
    # each partition with id == partition index, so distribution costs
    # ZERO shuffles and zero sampling jobs (repartitionByRange samples
    # the input with extra jobs — measured ~0.5 s of pure overhead per
    # apply on an idle local[32]).
    cuts = [len(splits) * i // tasks for i in range(tasks + 1)]
    assign = {i: splits[cuts[i] : cuts[i + 1]] for i in range(tasks)}
    sdf = spark.range(0, tasks, 1, tasks)
    manifest_schema = StructType(
        [
            StructField("part", StringType()),
            StructField("rows", LongType()),
            StructField("read_ms", LongType()),
            StructField("kernel_ms", LongType()),
            StructField("write_ms", LongType()),
        ]
    )

    def task(batches):
        # one task = possibly several splits; fuse them into ONE kernel
        # call so the transpose and gather amortize over the whole batch
        import time as _time

        work, tids = [], []
        for rb in batches:
            for tid in rb.column(0).to_pylist():
                work += assign[tid]
                tids.append(tid)
        if not work:
            return
        t0 = _time.perf_counter()
        tables = []
        for p, rg in work:
            # memory_map: data pages come straight off the (warm) page
            # cache without an extra pool copy — measured ~30% faster
            # reads under 32-way contention on this box
            tables.append(pq.ParquetFile(p, memory_map=True).read_row_group(rg))
        tb = pa.concat_tables(tables)
        X = _list_to_matrix(tb.column(value_col), n_in)
        t1 = _time.perf_counter()
        Y = _spmv_batch(X, bc.value, n_out)
        t2 = _time.perf_counter()
        out_schema = pa.schema(
            [tb.schema.field(e) for e in extra_cols]
            + [pa.field(value_col, pa.list_(pa.float64()))]
        )
        ot = pa.Table.from_arrays(
            [tb.column(e).combine_chunks() for e in extra_cols] + [_matrix_to_list(Y)],
            schema=out_schema,
        )
        if sink == "discard":
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(["<discarded>"]),
                    pa.array([len(ot)], pa.int64()),
                    pa.array([int((t1 - t0) * 1000)], pa.int64()),
                    pa.array([int((t2 - t1) * 1000)], pa.int64()),
                    pa.array([0], pa.int64()),
                ],
                ["part", "rows", "read_ms", "kernel_ms", "write_ms"],
            )
            return
        if part_naming == "task":
            part = os.path.join(output_path, f"part-{min(tids):04d}.parquet")
        else:
            part = os.path.join(
                output_path, f"part-{run_id}-{os.getpid()}-{uuid.uuid4().hex[:6]}.parquet"
            )
        # lz4 + byte-stream-split on the float payload: ~1.6x fewer
        # bytes for ~15 ms/task of (parallel) CPU. The sink is
        # disk-writeback-bound under sustained load (~600 MB/s device
        # behind a multi-GB/s page cache), so fewer dirty bytes is
        # wall-clock, not just space — and the right default for any
        # production float sink.
        pq.write_table(
            ot,
            part,
            compression="lz4",
            use_byte_stream_split=[value_col],
            row_group_size=len(ot),
            use_dictionary=False,
            write_statistics=False,
        )
        t3 = _time.perf_counter()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([part]),
                pa.array([len(ot)], pa.int64()),
                pa.array([int((t1 - t0) * 1000)], pa.int64()),
                pa.array([int((t2 - t1) * 1000)], pa.int64()),
                pa.array([int((t3 - t2) * 1000)], pa.int64()),
            ],
            ["part", "rows", "read_ms", "kernel_ms", "write_ms"],
        )

    manifest = sdf.mapInArrow(task, manifest_schema)
    global LAST_MANIFEST
    LAST_MANIFEST = manifest.collect()  # run the job (commit point)
    if sink == "discard":
        return None
    return spark.read.parquet(output_path)


#: per-task rows of the most recent smm_apply_files run, including the
#: read/kernel/write phase timings — the perf feedback loop for tuning
#: the dense-field path (bench/diagnostics read this after a run)
LAST_MANIFEST: list = []


def write_wide_parquet(
    wide_rows,
    path: str,
    n_in: int,
    gen_values,
    extra_names: Sequence[str] = ("time", "lev"),
    files: int = 16,
    rows_per_group: int = 16,
) -> None:
    """Helper: materialize a dense wide field to parquet from a python
    generator ``gen_values(extra_tuple) -> np.ndarray(n_in)`` —
    used by bench/tests to build input fields without paying the JVM
    array-serialization tax. Driver-local (test-scale fixture only)."""
    os.makedirs(path, exist_ok=True)
    schema = pa.schema(
        [pa.field(e, pa.int64()) for e in extra_names]
        + [pa.field("values", pa.list_(pa.float64()))]
    )
    rows = list(wide_rows)
    per_file = max(1, (len(rows) + files - 1) // files)
    for fi in range(0, len(rows), per_file):
        chunk = rows[fi : fi + per_file]
        w = pq.ParquetWriter(
            os.path.join(path, f"part-{fi // per_file:04d}.parquet"),
            schema,
            compression="none",
        )
        for g0 in range(0, len(chunk), rows_per_group):
            gg = chunk[g0 : g0 + rows_per_group]
            X = np.stack([gen_values(e) for e in gg])
            cols = [pa.array([e[k] for e in gg]) for k in range(len(extra_names))]
            w.write_table(
                pa.Table.from_arrays(cols + [_matrix_to_list(X)], schema=schema),
                row_group_size=len(gg),
            )
        w.close()


def long_to_wide(
    field: DataFrame,
    extra_keys: Sequence[str] = (),
    cell_col: str = "cell_id",
    value_col: str = "value",
) -> DataFrame:
    """(extra..., cell_id, value) long rows -> (extra..., values array)
    wide rows, positionally indexed by cell_id. The field must be DENSE
    (every cell present per extra combo) — the reference's N-D array
    contract (xesmf/smm.py:77-86) carried over."""
    extra = list(extra_keys)
    pairs = F.array_sort(F.collect_list(F.struct(F.col(cell_col), F.col(value_col))))
    return field.groupBy(*extra).agg(
        F.transform(pairs, lambda x: x[value_col]).alias("values")
    )


def wide_to_long(
    wide: DataFrame,
    extra_keys: Sequence[str] = (),
    value_col: str = "values",
) -> DataFrame:
    """(extra..., values array) -> (extra..., cell_id, value)."""
    extra = list(extra_keys)
    return wide.select(
        *extra, F.posexplode(value_col).alias("cell_id", "value")
    ).withColumn("cell_id", F.col("cell_id").cast("long"))
