"""Sketch-state rollup: re-merge grouped sketch STATE rows to a coarser
key without touching raw data — the sublinear reaggregation that is the
point of mergeable sketches at 100 TB (Agarwal et al., "Mergeable
Summaries", PODS 2012). Build per-(tool, hour) states once, then answer
per-(tool, day), per-tool, and global questions by merging KB-sized
states instead of rescanning 10^12 turns.

``rollup_states`` has the same no-hot-key two-stage shape as the grouped
build (operators/grouped.py): stage 1 folds each input partition's state
rows into one partial per coarse key (mapInPandas, flush-capped memory),
so a coarse key covering the whole table costs one partial per partition
— never a single-task row pile-up; stage 2 hash-repartitions only those
folded partials on the coarse key and merges each partition in ONE
streaming mapInArrow pass, rows pre-sorted by (key, origin order) so
merge-order-sensitive kinds (t-digest, KLL, cuckoo) apply partials in
ascending partition order — the same determinism law as the grouped
build, with no per-key pandas group materialization at any fan-in.
Stage 2 is ``merge_state_rows``, which is also the merge of the grouped
build's ``pre_partial`` route (unsorted there: its HLL/KMV merges are
set functions): one merge stage for both. It assigns group codes in
deferred blocks with the grouped direct build's ``_KeyFold``, so a
partition with millions of live groups does not rebuild its key table
per batch.

Column routing is detected executor-side from the blobs' own kind bytes:
HLL and KMV columns delegate to the grouped build's vectorized kernels
(`_HllKernel`/`_KmvKernel`: joined-buffer many-blob decode -> packed
accumulator -> flat-buffer emit, no per-state-row Python), every other
kind folds through the generic ``merge_blobs`` dispatch. Because HLL and
KMV states are canonical pure set functions, rolling up fine-grained
states is BYTE-identical to building the coarse states directly from the
raw rows (gated by test + the rollup_day_to_type oracle query);
order-sensitive kinds stay inside their published bounds.
"""

from __future__ import annotations

import itertools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from ..sketches import codec
from .grouped import (
    _FOLD_ROWS,
    _NROWS_COL,
    _ORD_COL,
    _VEC_KERNELS,
    _arrow_state_batches,
    _emit_state_rows,
    _group_codes,
    _KeyFold,
)
from .specs import SketchSpec, merge_blobs


def _check_uniform_param(flat, offs, col: str, kind: str, expect: int | None):
    """All blobs of a rollup column (laid out as ``_blob_buf`` gives them)
    must agree on the sizing parameter (HLL p at byte 8; KMV k as <u4 at
    bytes 8:12) — a mixed-parameter merge would silently produce garbage
    registers, so it raises. Reads only the header bytes, with an
    explicit length guard so a truncated blob gets a contextful error
    instead of a bare gather IndexError."""
    need = 9 if kind == "hll" else 16
    lens = np.diff(offs)
    if int(lens.min()) < need:
        raise ValueError(
            f"rollup_states: column {col!r} holds a sketch blob too "
            f"short for a {kind} header ({int(lens.min())} < {need} bytes)"
        )
    starts = offs[:-1]
    if kind == "hll":
        vals = flat[starts + 8].astype(np.int64)
    else:
        vals = flat[(starts[:, None] + 8 + np.arange(4)).reshape(-1)].view("<u4").astype(np.int64)
    if expect is None:
        expect = int(vals[0])
    if (vals != expect).any():
        raise ValueError(
            f"rollup_states: column {col!r} mixes {kind} states with "
            f"different sizing parameters ({sorted(set(vals.tolist()) | {expect})}); "
            "only same-parameter states are mergeable"
        )
    return expect


def _blob_buf(arr) -> tuple[np.ndarray, np.ndarray]:
    """(uint8 data, int64 offsets) of an Arrow binary array, zero-copy:
    blob i is ``data[offs[i]:offs[i + 1]]``."""
    import pyarrow as pa

    bufs = arr.buffers()
    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(bufs[1], dtype=odt)[arr.offset : arr.offset + len(arr) + 1]
    flat = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    return flat, offs.astype(np.int64)


class _ColAcc:
    """Per-column rollup accumulator, routed by the column's own kind
    byte at first sight: 'hll' / 'kmv' delegate to the grouped build's
    vectorized kernels (one shared implementation of the packed fold and
    flat-buffer emit), anything else folds a {group code -> blob} dict
    through the generic ``merge_blobs`` dispatch (one Python merge per
    STATE row — rollup inputs are state tables, never raw rows).
    ``stash`` takes one batch's blobs (HLL/KMV decode to kernel payloads
    straight from the Arrow buffers, so no blob outlives its batch); ``fold`` absorbs
    everything stashed under the stashed rows' group codes, in order."""

    def __init__(self, col: str):
        self.col = col
        self.kind: str | None = None
        self.param: int | None = None  # p (hll) / k (kmv)
        self.kernel = None
        self.spec: SketchSpec | None = None
        self.acc = None
        self.pend: list = []

    def stash(self, blobs) -> int:
        """Stash one batch's blobs (an Arrow binary array); returns the
        payload entries held."""
        # a null state cell (outer-joined or hand-built state table) is
        # documented as unsupported — name the column instead of dying
        # deep in the executor with a bare TypeError (ADVICE r5)
        if blobs.null_count:
            raise ValueError(
                f"rollup_states: column {self.col!r} contains null state blobs"
            )
        if self.kind is None:
            k = codec.peek_kind(blobs[0].as_py())
            self.kind = {codec.KIND_HLL: "hll", codec.KIND_KMV: "kmv"}.get(k, "generic")
            if self.kind == "generic":
                self.acc = {}
        if self.kind == "generic":
            self.pend.append(blobs.to_pylist())
            return 0
        flat, offs = _blob_buf(blobs)
        self.param = _check_uniform_param(flat, offs, self.col, self.kind, self.param)
        if self.kernel is None:
            pkey = "p" if self.kind == "hll" else "k"
            self.spec = SketchSpec(
                self.col, self.kind, key_cols=("_",), params={pkey: self.param}
            )
            self.kernel = _VEC_KERNELS[self.kind]([self.spec])
            self.acc = self.kernel.init_acc()
        counts, pay = self.kernel.state_payloads(self.spec, flat, offs)
        self.pend.append((counts, pay))
        return int(pay.size)

    def fold(self, g: np.ndarray) -> None:
        pend, self.pend = self.pend, []
        if self.kind == "generic":
            acc = self.acc
            for code, blob in zip(g.tolist(), itertools.chain.from_iterable(pend)):
                acc[code] = merge_blobs(acc.get(code), blob)
            return
        pay = np.concatenate([p for _, p in pend]) if pend else []
        if len(pay):
            g_ent = np.repeat(g, np.concatenate([c for c, _ in pend]))
            self.acc = self.kernel.absorb_payloads(self.acc, self.spec, g_ent, pay)

    def emit_blobs(self, n: int) -> list:
        if self.kind == "generic":
            return [self.acc.get(i) for i in range(n)]
        return self.kernel.emit_blobs(self.acc, self.spec, n)

    def emit_buf(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        if self.kind != "generic":
            return self.kernel.emit_buf(self.acc, self.spec, n)
        blobs = self.emit_blobs(n)
        offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum([len(b) for b in blobs], out=offs[1:])
        return np.frombuffer(b"".join(blobs), dtype=np.uint8), offs

    def reset(self) -> None:
        if self.kind == "generic":
            self.acc = {}
        elif self.kernel is not None:
            self.acc = self.kernel.init_acc()


def _rollup_builder(group_cols: list[str], state_cols: list[str], cap: int):
    """Stage 1 of ``rollup_states`` (mapInPandas): flush-capped partials,
    one per (partition, coarse key), tagged with the deterministic merge
    order key ``(pid << 20) | flush``. At most ``cap`` live groups, so
    assigning group codes per batch stays bounded."""

    def fn(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        flush = 0
        keys_index = None
        n_rows = np.empty(0, dtype=np.int64)
        cols = {c: _ColAcc(c) for c in state_cols}

        def emit():
            n = len(keys_index)
            states = {c: cols[c].emit_blobs(n) for c in state_cols}
            return _emit_state_rows(group_cols, keys_index, n_rows, (pid << 20) | flush, states)

        for pdf in batches:
            if not len(pdf):
                continue
            g, keys_index = _group_codes(pdf, group_cols, keys_index)
            if len(keys_index) > n_rows.size:
                n_rows = np.concatenate(
                    [n_rows, np.zeros(len(keys_index) - n_rows.size, dtype=np.int64)]
                )
            if _NROWS_COL in pdf.columns:
                np.add.at(n_rows, g, pdf[_NROWS_COL].to_numpy(dtype=np.int64))
            for c in state_cols:
                cols[c].stash(pa.Array.from_pandas(pdf[c], type=pa.binary()))
                cols[c].fold(g)
            if len(keys_index) > cap:
                yield emit()
                flush += 1
                keys_index = None
                n_rows = np.empty(0, dtype=np.int64)
                for c in state_cols:
                    cols[c].reset()
        if keys_index is not None and len(keys_index):
            yield emit()

    return fn


def _merge_builder(group_cols: list[str], state_cols: list[str]):
    """The merge stage's mapInArrow body: one pass over a partition that
    holds every state row of its groups. Keys stay Arrow-native and take
    their group codes in deferred blocks (``_KeyFold``, as in the grouped
    direct build); HLL/KMV blobs decode per batch and fold once per
    ``_FOLD_ROWS`` pending rows and entries, one sort per block. A
    generic column folds every batch, in input order, so a (key,
    ``__ord``)-sorted partition merges each group's partials in ascending
    origin order."""

    def fn(batches):
        fold = _KeyFold()
        cols = {c: _ColAcc(c) for c in state_cols}

        def absorb():
            g = fold.codes()
            for c in state_cols:
                cols[c].fold(g)

        for rb in batches:
            if rb.num_rows == 0:
                continue
            nr = rb.column(_NROWS_COL).fill_null(0)
            fold.add([rb.column(c) for c in group_cols], nr.to_numpy(zero_copy_only=False))
            for c in state_cols:
                fold.pending += cols[c].stash(rb.column(c))
            if fold.pending >= _FOLD_ROWS or any(a.kind == "generic" for a in cols.values()):
                absorb()
        absorb()
        if fold.keys is None:
            return
        n = len(fold.keys[0])
        yield from _arrow_state_batches(
            list(group_cols) + [_NROWS_COL] + list(state_cols),
            fold.keys,
            fold.n_rows,
            [cols[c].emit_buf(n) for c in state_cols],
        )

    return fn


def merge_state_rows(
    partials: DataFrame, group_cols: list[str], state_cols: list[str], ordered: bool = True
) -> DataFrame:
    """The merge stage shared by ``rollup_states`` and the grouped
    build's ``pre_partial`` route: hash-repartition state rows (group
    columns, ``__ord``, ``n_rows``, state columns) on the group columns
    and fold each partition in one pass — one output row per group,
    without ``__ord``. ``ordered`` sorts each partition by (key,
    ``__ord``) first, which merge-order-sensitive kinds (t-digest, KLL,
    cuckoo) need for deterministic states; all-HLL/KMV callers pass
    False, since those merges are set functions. Memory holds the merged
    groups plus ``_FOLD_ROWS`` pending values, with no per-key fan-in
    limit."""
    out_schema = StructType([f for f in partials.schema.fields if f.name != _ORD_COL])
    shuffled = partials.repartition(*group_cols)
    if ordered:
        shuffled = shuffled.sortWithinPartitions(*group_cols, _ORD_COL)
    return shuffled.mapInArrow(_merge_builder(group_cols, state_cols), schema=out_schema)


def rollup_states(
    states_df: DataFrame,
    group_cols: list[str],
    state_cols: list[str] | None = None,
    max_states_per_partition: int = 1 << 16,
) -> DataFrame:
    """Re-merge sketch-state rows to the coarser key ``group_cols``:
    returns one row per coarse group with ``group_cols + [n_rows] +
    state columns`` (``n_rows`` sums the input's ``n_rows`` when present,
    else reports 0). ``group_cols=[]`` rolls everything up to ONE global
    row. ``state_cols`` defaults to every binary column.

    Input is any state table this library produces (``grouped_sketch``
    output, checkpoint tables, previous rollups) — kinds are detected
    from the blobs themselves, HLL/KMV take the fully vectorized kernel
    path in BOTH stages, and mixed sizing parameters within a column
    raise rather than merge garbage. State columns must be non-null.

    Scale shape: stage 1 never holds more than ``max_states_per_partition``
    coarse groups in memory (flushes are lossless — merges are
    associative) and emits one partial per (partition, coarse key), so a
    coarse key absorbing the entire input costs #partitions state rows,
    not a single-task row pile-up; only those partials shuffle, and the
    final merge streams each hash-partition in one pass (no per-key
    pandas group, so fan-in needs no salt level). Partials apply in
    ascending partition order (deterministic — same law as the grouped
    build)."""
    all_group = list(group_cols)
    df = states_df
    if not all_group:
        df = df.withColumn("__all", F.lit(0))
        all_group = ["__all"]
    if state_cols is None:
        state_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, BinaryType) and f.name not in all_group
        ]
    if not state_cols:
        raise ValueError("rollup_states: no binary state columns to roll up")
    fields = [StructField(df.schema[c].name, df.schema[c].dataType) for c in all_group]
    fields.append(StructField(_ORD_COL, LongType()))
    fields.append(StructField(_NROWS_COL, LongType()))
    fields += [StructField(c, BinaryType()) for c in state_cols]
    part_schema = StructType(fields)
    keep = all_group + ([_NROWS_COL] if _NROWS_COL in df.columns else []) + state_cols
    partials = df.select(*keep).mapInPandas(
        _rollup_builder(all_group, state_cols, max_states_per_partition),
        schema=part_schema,
    )
    out = merge_state_rows(partials, all_group, state_cols)
    if not group_cols:
        out = out.drop("__all")
    return out
