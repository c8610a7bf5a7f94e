"""Grouped sketches: one sketch state per group key, built without ever
materializing a group's rows.

Two route families:

* Generic (any spec mix): a ``mapInPandas`` pass keeps a partition-local
  ``{group-key -> sketch}`` dict, updates it per Arrow batch with
  vectorized kernels, and emits one small *state* row per (partition,
  key). Only those serialized states shuffle (KBs per group), and a
  per-key merge folds them — correct because every sketch merge is
  commutative + associative (SURVEY.md §4.2).
* Vectorized (all-HLL or all-KMV spec lists), two stage-1 shapes over
  one merge law:

  - ``direct`` shuffles the raw (key, hash) projection once and builds
    FINAL states in one post-shuffle Arrow pass
    (``_vec_direct_builder_arrow``, the only raw-row builder of the
    route, for every key shape);
  - ``pre_partial`` builds map-side partial states and merges them with
    ``rollup.merge_state_rows``, the merge stage ``rollup_states`` uses.

  The direct builder and that merge stage share one deferred
  group-code fold (``_KeyFold``) and one Arrow emit
  (``_arrow_state_batches``).

  ``grouped_sketch`` takes ``pre_partial`` when a bounded key sample
  shows repeated keys or a skewed exchange, and ``direct`` otherwise.

Every route groups float keys by value: the JVM projection (``_prepare``)
turns NaN into null and -0.0 into 0.0, so NaN keys group with null.

Why not ``groupBy(key).applyInPandas`` over rows (VERDICT r01 "What's
wrong #2"): it loads an entire group into one pandas frame — a
billion-row hot key is a straight executor OOM. Here every builder folds
rows into compact per-group accumulators.

Skew/fan-in controls:

* Exchange skew (vectorized kinds): the direct exchange sends every row
  of a key to one task, so a hot key — or several keys hashed into one
  task — would straggle one core. The dispatch sample
  (``_dispatch_sample``) reads each sampled row's task id in that
  exchange; when the fullest task holds over twice its mean share, the
  build takes ``pre_partial`` instead, where a hot key costs one partial
  state per scan partition.
* ``max_states_per_partition`` bounds stage-1 memory on high-cardinality
  keys (per-user sketches): when the dict exceeds the cap, partials are
  flushed mid-partition and rebuilt — merges make that lossless.
* ``salt_buckets=S > 1`` bounds the generic route's stage-2 fan-in on
  huge clusters: states first merge on ``(key, partition_id mod S)``,
  then the S survivors merge per key — two state shuffles, never row
  shuffles. The vectorized routes' merge stage streams each partition
  and has no per-key fan-in, so it takes no salt; ``salt_cols`` is
  accepted for API compatibility and ignored.

Generic-route merges apply in ascending partition-id order, so its
states are deterministic across identical runs even for
merge-order-sensitive kinds (t-digest/KLL) — the checkpoint resume law
(plans/checkpoint.py) depends on this.
"""

from __future__ import annotations

import logging
import math
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from .build import batch_arrays, plan_columns
from .specs import SketchSpec, merge_blobs

_log = logging.getLogger("probably_jl_spark.grouped")

_SALT_COL = "__salt"
_ORD_COL = "__ord"  # min partition id feeding a state row: merge sort key
_NROWS_COL = "n_rows"


def _grouped_schema(
    df: DataFrame, group_cols: list[str], specs: list[SketchSpec], with_ord: bool = False
) -> StructType:
    fields = [df.schema[c] for c in group_cols]
    fields = [StructField(f.name, f.dataType) for f in fields]
    if with_ord:
        fields.append(StructField(_ORD_COL, LongType()))
    fields.append(StructField(_NROWS_COL, LongType()))
    fields += [StructField(s.state_col, BinaryType()) for s in specs]
    return StructType(fields)


def _partial_builder(specs: list[SketchSpec], group_cols: list[str], col_map: dict, cap: int):
    """mapInPandas fn: streaming per-partition {key -> sketch} partials,
    flushed when the dict exceeds `cap` keys (bounded memory)."""

    def rows_frame(states: dict, ord_key: int) -> pd.DataFrame:
        keys = list(states.keys())
        data = {c: [k[i] for k in keys] for i, c in enumerate(group_cols)}
        data[_ORD_COL] = [ord_key] * len(keys)
        data[_NROWS_COL] = [states[k][0] for k in keys]
        for s in specs:
            data[s.state_col] = [states[k][1][s.name].to_bytes() for k in keys]
        return pd.DataFrame(data)

    def fn(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        flush = 0  # ord = pid<<20 | flush: mid-partition flushes keep a
        # total deterministic merge order even for the same (key, pid)
        states: dict[tuple, list] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            arrays = batch_arrays(pdf, specs, col_map)
            groups = pdf.groupby(list(group_cols), dropna=False, sort=False).indices
            for key, idx in groups.items():
                kt = key if isinstance(key, tuple) else (key,)
                # normalize float-NaN key components to None: pandas hands
                # back a fresh NaN object per batch and (nan,) tuples never
                # compare equal, so without this every batch would open a
                # new dict entry for the NaN group and the per-key merge
                # order would ride on shuffle row order (ADVICE r2).
                # np.floating covers FloatType columns: np.float32 is NOT a
                # Python-float subclass (code-review r3)
                kt = tuple(
                    None if (isinstance(x, (float, np.floating)) and x != x) else x
                    for x in kt
                )
                ent = states.get(kt)
                if ent is None:
                    ent = states[kt] = [0, {s.name: s.new() for s in specs}]
                ent[0] += len(idx)
                for s in specs:
                    h, v, c = arrays[s.name]
                    s.update(
                        ent[1][s.name],
                        None if h is None else h[idx],
                        None if v is None else v[idx],
                        None if c is None else c[idx],
                    )
            if len(states) > cap:
                yield rows_frame(states, (pid << 20) | flush)
                flush += 1
                states = {}
        if states:
            yield rows_frame(states, (pid << 20) | flush)

    return fn


def _absorb_max(acc: np.ndarray, packed: np.ndarray) -> np.ndarray:
    """Merge a sorted unique-by-key packed batch into the sorted
    accumulator, register-max on key collisions — the searchsorted O(n)
    merge (same shape as sketches/mg.py _absorb, max instead of add)."""
    if acc.size == 0:
        return packed
    ak = acc >> np.int64(6)
    bk = packed >> np.int64(6)
    pos = np.searchsorted(ak, bk)
    safe = np.minimum(pos, ak.size - 1)
    match = ak[safe] == bk
    hit = pos[match]
    if hit.size:
        # equal key => comparing packed values compares rho directly
        # (setitem form: acc[hit] fancy-indexes a COPY, so out= would be lost)
        acc[hit] = np.maximum(acc[hit], packed[match])
    new = ~match
    if new.any():
        acc = np.insert(acc, pos[new], packed[new])
    return acc


_MASK24 = np.int64((1 << 24) - 1)


def _group_codes(pdf: pd.DataFrame, group_cols: list[str], keys_index):
    """(per-row global group codes, updated persistent key index). Batch
    keys factorize C-level; new keys join the index through one hash-join
    ``get_indexer`` probe — no per-row Python."""
    if len(group_cols) == 1:
        bl_codes, bl_uniques = pdf[group_cols[0]].factorize(use_na_sentinel=False)
        bl_uniques = pd.Index(bl_uniques)
    else:
        mi = pd.MultiIndex.from_frame(pdf[list(group_cols)])
        bl_codes, bl_uniques = mi.factorize(use_na_sentinel=False)
    if keys_index is None:
        return np.asarray(bl_codes, dtype=np.int64), bl_uniques
    lut = keys_index.get_indexer(bl_uniques)
    new = lut < 0
    if new.any():
        lut[new] = len(keys_index) + np.arange(int(new.sum()), dtype=np.int64)
        keys_index = keys_index.append(bl_uniques[new])
    return lut[bl_codes], keys_index


class _HllKernel:
    """Per-kind hooks for the vectorized grouped builders and the rollup
    merge stage. The HLL accumulator is one sorted int64 array of
    ``(group_code << 24) | (register_idx << 6) | rho`` (idx needs <= 18
    bits at p <= 18, rho <= 61 needs 6), merged with register-max dedup —
    8 B per nonzero (group, register), so with sparse HLL states
    (sketches/hll.py) both accumulator and shuffled partials stay
    proportional to what the groups saw."""

    def __init__(self, specs: list[SketchSpec]):
        self.ps = {s.name: s.new().p for s in specs}

    @staticmethod
    def init_acc():
        return np.empty(0, dtype=np.int64)

    def row_payloads(self, spec, h: np.ndarray) -> np.ndarray:
        """Group-independent per-row payload (register_idx << 6 | rho):
        computed per batch, combined with group codes later — the direct
        route defers group-code assignment to amortize the key index."""
        from ..sketches.hashing import trailing_zeros64

        p = self.ps[spec.name]
        guard = np.uint64(1 << (64 - p))
        rho = trailing_zeros64(h | guard).astype(np.int64) + np.int64(1)
        idx = (h >> np.uint64(64 - p)).astype(np.int64)
        return (idx << np.int64(6)) | rho

    def absorb_payloads(self, acc, spec, g: np.ndarray, pay: np.ndarray):
        from ..sketches.hll import _dedup_max_rho

        packed = (g << np.int64(24)) | pay
        packed.sort()
        return _absorb_max(acc, _dedup_max_rho(packed))

    def absorb_rows(self, acc, spec, g: np.ndarray, h: np.ndarray):
        return self.absorb_payloads(acc, spec, g, self.row_payloads(spec, h))

    @staticmethod
    def state_payloads(spec, flat, offs) -> tuple[np.ndarray, np.ndarray]:
        """(entries per blob, the blobs' payloads in ``row_payloads``
        form) of blobs laid end to end in ``flat`` at ``offs``: a state
        absorbs as its entries, each under its blob's group code."""
        from ..sketches.hll import packed_entries_many_from_buf

        return packed_entries_many_from_buf(flat, offs)

    def emit_blobs(self, acc, spec, n: int) -> list:
        from ..sketches.hll import packed_entries_many_to_bytes

        bounds = np.searchsorted(acc >> np.int64(24), np.arange(n + 1))
        return packed_entries_many_to_bytes(
            self.ps[spec.name], (acc & _MASK24).astype(np.uint32), bounds
        )

    def emit_buf(self, acc, spec, n: int):
        from ..sketches.hll import packed_entries_many_to_buf

        bounds = np.searchsorted(acc >> np.int64(24), np.arange(n + 1))
        return packed_entries_many_to_buf(
            self.ps[spec.name], (acc & _MASK24).astype(np.uint32), bounds
        )


class _KmvKernel:
    """KMV hooks for the vectorized grouped builders and the rollup merge
    stage: the accumulator is a (group_code int64, hash uint64) array
    pair in (group, hash) order, capped at the k smallest distinct hashes
    per group each fold (`_kmv_combine`) — unlike HLL's 24-bit payload
    the 64-bit hash cannot share an int64 with the group code, so this
    kind lexsorts the pair instead of sorting one packed array."""

    def __init__(self, specs: list[SketchSpec]):
        self.ks = {s.name: s.new().k for s in specs}

    @staticmethod
    def init_acc():
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64))

    def row_payloads(self, spec, h: np.ndarray) -> np.ndarray:
        return h

    def absorb_payloads(self, acc, spec, g: np.ndarray, pay: np.ndarray):
        return _kmv_combine(acc[0], acc[1], g, pay, self.ks[spec.name])

    def absorb_rows(self, acc, spec, g: np.ndarray, h: np.ndarray):
        return _kmv_combine(acc[0], acc[1], g, h, self.ks[spec.name])

    @staticmethod
    def state_payloads(spec, flat, offs) -> tuple[np.ndarray, np.ndarray]:
        from ..sketches.kmv import mins_many_from_buf

        return mins_many_from_buf(flat, offs)

    def emit_blobs(self, acc, spec, n: int) -> list:
        from ..sketches.kmv import mins_many_to_bytes

        g_acc, h_acc = acc
        bounds = np.searchsorted(g_acc, np.arange(n + 1))
        return mins_many_to_bytes(self.ks[spec.name], h_acc, bounds)

    def emit_buf(self, acc, spec, n: int):
        from ..sketches.kmv import mins_many_to_buf

        g_acc, h_acc = acc
        bounds = np.searchsorted(g_acc, np.arange(n + 1))
        return mins_many_to_buf(self.ks[spec.name], h_acc, bounds)


def _kmv_combine(
    g_acc: np.ndarray, h_acc: np.ndarray, g: np.ndarray, h: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Fold (group, hash) pairs into the per-group k-min accumulator:
    lexsort by (group, hash), drop duplicate pairs, keep the k smallest
    hashes per group. Pure set function of the pairs seen — KMV's
    byte-exact commutative merge — so any batch slicing or merge order
    yields identical accumulators."""
    gg = np.concatenate([g_acc, g])
    hh = np.concatenate([h_acc, h])
    if gg.size == 0:
        return gg, hh
    order = np.lexsort((hh, gg))
    gg, hh = gg[order], hh[order]
    keep = np.empty(gg.size, dtype=bool)
    keep[0] = True
    keep[1:] = (gg[1:] != gg[:-1]) | (hh[1:] != hh[:-1])
    gg, hh = gg[keep], hh[keep]
    # rank within group = position minus the group's first position
    rank = np.arange(gg.size) - np.searchsorted(gg, gg)
    sel = rank < k
    return gg[sel], hh[sel]


_VEC_KERNELS = {"hll": _HllKernel, "kmv": _KmvKernel}


def _emit_state_rows(
    group_cols: list[str],
    keys_index,
    n_rows: np.ndarray,
    ord_key: int | None,
    states: dict,
) -> pd.DataFrame:
    """One state row per group code: the keys of ``keys_index`` in code
    order, ``n_rows``, and ``states`` ({state column: one blob per
    code}). Shared by the pandas partial builders here and in rollup.py.
    Blob wrapping is vectorized upstream (`packed_entries_many_to_bytes`
    / `mins_many_to_bytes`: one flat buffer + C-level bytes slicing, ~0.5
    us/group vs ~5.6 scalar), so the per-group work is proportional to
    OUTPUT rows, never input rows."""
    if len(group_cols) == 1:
        out = pd.DataFrame({group_cols[0]: keys_index})
    else:
        out = keys_index.to_frame(index=False)
        out.columns = list(group_cols)
    if ord_key is not None:
        out[_ORD_COL] = ord_key
    out[_NROWS_COL] = n_rows[: len(keys_index)]
    for c, blobs in states.items():
        out[c] = blobs
    return out


def _vec_partial_builder(
    specs: list[SketchSpec], group_cols: list[str], col_map: dict, cap: int, kernel
):
    """Vectorized partial builder shared by the single-kind fast routes
    (kernels: `_HllKernel`, `_KmvKernel`): no per-group Python in the
    batch loop. Each batch factorizes its group keys (C-level), maps them
    to stable first-seen codes through a persistent
    ``pd.Index.get_indexer`` (hash join, C-level), and folds (code, hash)
    rows into the kernel's accumulator with one sort + one merge per
    batch regardless of group count. State emit and state decode are
    vectorized too (many-blob wire helpers in sketches/hll.py, kmv.py),
    so no stage of the route loops Python per group beyond a C-level
    bytes slice. Partials are byte-identical to the generic dict
    builder's — same flush points, same canonical wire — gated by
    test_grouped_hll_fast_path_byte_identical and its KMV twin.

    Why: the generic dict-of-sketches loop costs ~5-10 us of Python per
    (group, batch); at the north_star's distinct-tools-per-conv_id shape
    (~1e6 live groups per partition) that dominates the build."""

    def fn(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        flush = 0
        keys_index = None
        n_rows = np.empty(0, dtype=np.int64)
        accs = {s.name: kernel.init_acc() for s in specs}

        def emit():
            n = len(keys_index)
            states = {s.state_col: kernel.emit_blobs(accs[s.name], s, n) for s in specs}
            return _emit_state_rows(group_cols, keys_index, n_rows, (pid << 20) | flush, states)

        for pdf in batches:
            if not len(pdf):
                continue
            arrays = batch_arrays(pdf, specs, col_map)
            g, keys_index = _group_codes(pdf, group_cols, keys_index)
            if len(keys_index) > n_rows.size:
                n_rows = np.concatenate(
                    [n_rows, np.zeros(len(keys_index) - n_rows.size, dtype=np.int64)]
                )
            n_rows += np.bincount(g, minlength=n_rows.size)
            for s in specs:
                accs[s.name] = kernel.absorb_rows(accs[s.name], s, g, arrays[s.name][0])
            if len(keys_index) > cap:
                yield emit()
                flush += 1
                keys_index = None
                n_rows = np.empty(0, dtype=np.int64)
                accs = {s.name: kernel.init_acc() for s in specs}
        if keys_index is not None and len(keys_index):
            yield emit()

    return fn


# pending values per deferred consolidation (~4M, ~16 B each held): rows,
# plus the merge stage's decoded state entries
_FOLD_ROWS = 1 << 22
# pa.BinaryArray offsets are int32: cap the state bytes per emitted batch
_EMIT_BYTES = 1 << 29
_OFFSET_LIMIT = 1 << 31  # a chunk's state bytes must stay below this


def _encode_keys(cols: list) -> tuple[np.ndarray, list]:
    """(int64 codes, per-column uniques) of the key tuples in the Arrow
    arrays ``cols``: codes number the distinct tuples in first-seen order,
    and null is a key value of its own — the codes of pandas
    ``factorize(use_na_sentinel=False)``. Arrow has no
    ``dictionary_encode`` for struct arrays, so several columns fold
    their per-column codes pairwise into one int64 (``codes * len(dict) +
    c``, re-encoded at each step, so it stays below rows^2) and the
    uniques ``take`` each code's first row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    encs = [pc.dictionary_encode(c, null_encoding="encode") for c in cols]
    codes = encs[0].indices
    for e in encs[1:]:
        fused = pc.add(
            pc.multiply(codes.cast(pa.int64()), len(e.dictionary)), e.indices.cast(pa.int64())
        )
        codes = pc.dictionary_encode(fused).indices
    codes = codes.to_numpy(zero_copy_only=False).astype(np.int64)
    if len(encs) == 1:
        return codes, [encs[0].dictionary]
    # codes are first-seen: a row opens a new code iff it exceeds every code before it
    new = np.ones(codes.size, dtype=bool)
    new[1:] = codes[1:] > np.maximum.accumulate(codes)[:-1]
    first = pa.array(np.flatnonzero(new))
    return codes, [c.take(first) for c in cols]


class _KeyFold:
    """Deferred group-code assignment over Arrow key columns, shared by
    the direct builder and the merge stage (``rollup.merge_state_rows``).
    ``add`` encodes one batch's own keys (``_encode_keys``, C++) and
    stashes (uniques, codes, row weights); ``codes`` consolidates: it
    re-encodes the known keys followed by every stashed batch's uniques
    (known keys lead, so existing codes keep their values), adds the
    pending rows to ``n_rows`` and returns their group codes in arrival
    order. Callers consolidate once per ``_FOLD_ROWS`` pending values:
    re-encoding per batch instead rebuilt the key hash table every 64k
    rows — O(live groups) per batch, the dominant cost of the 20M-group
    bench build. ``keys`` holds, per group column, the unique values in
    code order."""

    def __init__(self):
        self.keys = None
        self.n_rows = np.empty(0, dtype=np.int64)
        self.pending = 0
        self._uniq: list = []
        self._codes: list = []
        self._weights: list = []

    def add(self, cols: list, weights: np.ndarray | None = None) -> None:
        codes, uniq = _encode_keys(cols)
        self._uniq.append(uniq)
        self._codes.append(codes)
        self._weights.append(weights)
        self.pending += codes.size

    def codes(self) -> np.ndarray:
        import pyarrow as pa

        if not self._uniq:
            return np.empty(0, dtype=np.int64)
        parts = ([] if self.keys is None else [self.keys]) + self._uniq
        codes, self.keys = _encode_keys(
            [pa.concat_arrays([p[i] for p in parts]) for i in range(len(parts[0]))]
        )
        offs = np.zeros(len(parts) + 1, dtype=np.int64)
        np.cumsum([len(p[0]) for p in parts], out=offs[1:])
        lead = len(parts) - len(self._uniq)  # 1 when known keys head the parts
        g = np.concatenate(
            [codes[offs[lead + i] : offs[lead + i + 1]][bl] for i, bl in enumerate(self._codes)]
        )
        n = len(self.keys[0])
        if n > self.n_rows.size:
            self.n_rows = np.concatenate(
                [self.n_rows, np.zeros(n - self.n_rows.size, dtype=np.int64)]
            )
        if self._weights[0] is None:
            self.n_rows += np.bincount(g, minlength=n)
        else:
            # np.add.at keeps the row counts exact int64 (bincount weights
            # would round past 2^53 — a stated design case for hot keys)
            np.add.at(self.n_rows, g, np.concatenate(self._weights))
        self._uniq, self._codes, self._weights, self.pending = [], [], [], 0
        return g


def _arrow_state_batches(names: list[str], keys: list, n_rows: np.ndarray, bufs: list):
    """Yield the output RecordBatches of an Arrow builder: the ``keys``
    arrays, ``n_rows`` and one BinaryArray per state column, wrapped
    zero-copy around its flat ``(buf, offs)`` pair (``bufs``, in ``names``
    order) — no per-group Python bytes objects. Each chunk keeps every
    state column under ``_EMIT_BYTES`` (BinaryArray offsets are int32)."""
    import pyarrow as pa

    n = len(keys[0])
    start = 0
    while start < n:
        stop = n
        for _, offs in bufs:
            stop = min(stop, int(np.searchsorted(offs, offs[start] + _EMIT_BYTES)) - 1)
        stop = max(stop, start + 1)
        arrays = [k.slice(start, stop - start) for k in keys]
        arrays.append(pa.array(n_rows[start:stop], type=pa.int64()))
        for name, (buf, offs) in zip(names[len(keys) + 1 :], bufs):
            # a single blob over _EMIT_BYTES still makes a one-row
            # chunk: fail loudly rather than wrap the int32 offsets
            if offs[stop] - offs[start] >= _OFFSET_LIMIT:
                raise OverflowError(
                    f"{name}: {int(offs[stop] - offs[start])} state bytes in "
                    f"one emit chunk exceed the BinaryArray int32 offset range"
                )
            rel = (offs[start : stop + 1] - offs[start]).astype(np.int32)
            chunk = buf[offs[start] : offs[stop]]
            arrays.append(
                pa.Array.from_buffers(
                    pa.binary(),
                    stop - start,
                    [None, pa.py_buffer(rel), pa.py_buffer(np.ascontiguousarray(chunk))],
                )
            )
        yield pa.RecordBatch.from_arrays(arrays, names=names)
        start = stop


def _vec_direct_builder_arrow(
    specs: list[SketchSpec], group_cols: list[str], col_map: dict, kernel
):
    """Post-shuffle single-pass ``mapInArrow`` build for the vectorized
    kinds: raw (group, hash) rows arrive hash-partitioned on the group
    columns, so every group is complete within the partition and the
    kernel emits FINAL states directly — no partial-state emit, no state
    exchange, no blob decode. Used when map-side pre-aggregation cannot
    pay (see ``grouped_sketch``): at ~1 row per (group, partition) the
    partial route wraps and re-parses one blob per INPUT row.

    Group keys stay Arrow-native end to end, for any number of key
    columns: input batches never convert to pandas (2.4M string->PyObject
    conversions per bench partition). Each batch stashes its keys in a
    ``_KeyFold`` and its per-row kernel payloads; every ``_FOLD_ROWS``
    rows one consolidation assigns the group codes and folds the payloads
    into the kernel accumulator with one sort. Memory holds ~16 bytes per
    pending row.

    Output rows follow first-seen key order, a null key included, and
    are assembled zero-copy (``_arrow_state_batches``): the group columns
    ARE the final uniques. Float keys reach this builder canonical
    (``_prepare``), since Arrow encodes NaN and -0.0 bitwise."""

    def fn(batches):
        fold = _KeyFold()
        accs = {s.name: kernel.init_acc() for s in specs}
        pend = {s.name: [] for s in specs}

        def absorb():
            g = fold.codes()
            if not g.size:
                return
            for s in specs:
                accs[s.name] = kernel.absorb_payloads(
                    accs[s.name], s, g, np.concatenate(pend[s.name])
                )
                pend[s.name].clear()

        for rb in batches:
            if rb.num_rows == 0:
                continue
            fold.add([rb.column(c) for c in group_cols])
            for s in specs:
                harr = rb.column(col_map[s.name]["h"])
                if harr.null_count:
                    harr = harr.fill_null(0)
                h = harr.to_numpy(zero_copy_only=False).view(np.uint64)
                pend[s.name].append(kernel.row_payloads(s, h))
            if fold.pending >= _FOLD_ROWS:
                absorb()
        absorb()
        if fold.keys is None:
            return
        n = len(fold.keys[0])
        yield from _arrow_state_batches(
            list(group_cols) + [_NROWS_COL] + [s.state_col for s in specs],
            fold.keys,
            fold.n_rows,
            [kernel.emit_buf(accs[s.name], s, n) for s in specs],
        )

    return fn


_SAMPLE_ROWS = 1 << 16  # dispatch sample: one Arrow batch of keys
# pre_partial when the sample holds at least this many rows per distinct
# key: map-side partials then fold most rows before the exchange
_REPEAT_ROWS = 256
_SKEW_LOAD = 2.0  # skew guard: the fullest exchange task vs its mean load
_SKEW_ALPHA = 1e-3  # chance that uniform hashing alone trips the guard


def _exchange_partitions(spark) -> int:
    """Partition count of ``repartition(*cols)`` — Spark's
    ``SQLConf.numShufflePartitions``: AQE's initial partition number when
    one is set, else ``spark.sql.shuffle.partitions``."""
    conf = spark.conf
    if (
        conf.get("spark.sql.adaptive.enabled") == "true"
        and conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    ):
        initial = conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum", None)
        if initial:
            return int(initial)
    return int(conf.get("spark.sql.shuffle.partitions"))


def _dispatch_sample(
    prepared: DataFrame, group_cols: list[str], nparts: int
) -> tuple[int, int, float, float]:
    """(sampled rows, distinct keys, hottest key's share, fullest exchange
    task's share) over the scan's leading rows — the inputs of the
    vectorized route's dispatch. Per row the driver receives the key's
    ``xxhash64`` (a multi-column key counts as a tuple) and the key's
    partition id in the direct exchange, ``pmod(hash(keys), P)`` — the
    expression ``repartition(*group_cols)`` partitions by, so the task
    loads include keys that collide in one task. One ``limit`` job; no
    aggregate stage."""
    import pyarrow.compute as pc

    sample = (
        prepared.select(
            F.xxhash64(*group_cols).alias("k"),
            F.pmod(F.hash(*group_cols), F.lit(nparts)).alias("p"),
        )
        .limit(_SAMPLE_ROWS)
        .toArrow()
    )
    n = sample.num_rows
    if not n:
        return 0, 0, 0.0, 0.0
    keys = pc.value_counts(sample.column("k")).field("counts")
    tasks = pc.value_counts(sample.column("p")).field("counts")
    return n, len(keys), pc.max(keys).as_py() / n, pc.max(tasks).as_py() / n


def _load_limit(n: int, nparts: int) -> int:
    """Most of n sampled rows the fullest of ``nparts`` exchange tasks may
    get before the skew guard fires: ``_SKEW_LOAD`` times the mean, raised
    to the count that uniform hashing of n independent rows tops in some
    task with chance below ``_SKEW_ALPHA``. At large P the mean is a few
    rows, and chance alone reaches twice that."""
    lam = n / nparts
    limit = int(_SKEW_LOAD * lam)
    while True:
        # P[Poisson(lam) > limit] <= 2 * pmf(limit + 1): past 2*lam the
        # terms shrink by lam / (j + 1) < 1/2 per step
        log_pmf = -lam + (limit + 1) * math.log(lam) - math.lgamma(limit + 2)
        if nparts * 2 * math.exp(log_pmf) <= _SKEW_ALPHA:
            return limit
        limit += 1


def _choose_pre_partial(
    prepared: DataFrame, group_cols: list[str], pre_partial: bool | None
) -> bool:
    """The vectorized route's stage-1 shape: a pinned ``pre_partial`` as
    given, else ``pre_partial`` when the dispatch sample shows either
    repeated keys (at least ``_REPEAT_ROWS`` rows per distinct key) or an
    overloaded direct exchange (the fullest task over ``_load_limit``),
    and ``direct`` otherwise. Logs one decision event; its fields ride on
    the record as ``record.grouped_route``."""
    event = {
        "pinned": pre_partial is not None,
        "sample_rows": 0,
        "distinct_keys": None,
        "hot_share": None,
        "fullest_share": None,
        "shuffle_partitions": None,
        "sample_s": 0.0,
    }
    if pre_partial is None:
        t0 = time.perf_counter()
        nparts = _exchange_partitions(prepared.sparkSession)
        n, keys, hot, fullest = _dispatch_sample(prepared, group_cols, nparts)
        pre_partial = n > 0 and (
            n >= _REPEAT_ROWS * keys or round(fullest * n) > _load_limit(n, nparts)
        )
        event.update(
            sample_rows=n,
            distinct_keys=keys,
            hot_share=hot,
            fullest_share=fullest,
            shuffle_partitions=nparts,
            sample_s=time.perf_counter() - t0,
        )
    event["route"] = "pre_partial" if pre_partial else "direct"
    _log.info(
        "grouped_sketch route=%(route)s pinned=%(pinned)s sample_rows=%(sample_rows)d "
        "distinct_keys=%(distinct_keys)s hot_share=%(hot_share)s "
        "fullest_share=%(fullest_share)s shuffle_partitions=%(shuffle_partitions)s "
        "sample_s=%(sample_s).3f",
        event,
        extra={"grouped_route": event},
    )
    return pre_partial


def _merge_groups(specs: list[SketchSpec], group_cols: list[str], with_ord: bool):
    """applyInPandas fn over state rows: deterministic (partition-ordered)
    per-key merge. Emits `_ORD_COL` = min input ord when feeding another
    merge level."""

    def fn(keys: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(_ORD_COL, kind="stable")
        row = {c: k for c, k in zip(group_cols, keys)}
        if with_ord:
            row[_ORD_COL] = int(pdf[_ORD_COL].min())
        row[_NROWS_COL] = int(pdf[_NROWS_COL].sum())
        for s in specs:
            acc = None
            for blob in pdf[s.state_col]:
                acc = merge_blobs(acc, blob)
            row[s.state_col] = acc
        return pd.DataFrame([row])

    return fn


def _auto_salt_buckets(n_partitions: int, target_fan_in: int = 256) -> int:
    """Default merge fan-in bound (VERDICT r02 #4): with S salt buckets a
    key's final merge reads S rows and each level-1 merge reads
    ~n_partitions/S — S = nparts/256 caps both near `target_fan_in`, so a
    100k-partition scan never funnels 100k state rows of one key into a
    single applyInPandas group. <= target partitions need no extra level."""
    return max(1, n_partitions // target_fan_in)


def _prepare(df: DataFrame, group_cols: list[str], specs: list[SketchSpec]):
    """(projection, col_map): the group columns plus the specs' hash and
    value columns, the JVM projection every route starts from. Float key
    columns turn canonical here (NaN -> null, -0.0 -> 0.0): Spark hashes
    and Arrow encodes floats bitwise, so without this the direct
    exchange could send NaN and null rows of one group to two tasks, and
    the Arrow builder would split 0.0 from -0.0. pandas groups them by
    value, as the other routes did."""
    spec_cols, col_map = plan_columns(specs)
    keys = []
    for c in group_cols:
        dtype = df.schema[c].dataType
        col = F.col(c)
        if isinstance(dtype, (DoubleType, FloatType)):
            col = F.when(col == 0, F.lit(0.0).cast(dtype)).when(~F.isnan(col), col).alias(c)
        keys.append(col)
    return df.select(*keys, *spec_cols), col_map


def _pre_merge_states(
    df: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    salt_buckets: int | None,
    max_states_per_partition: int,
) -> DataFrame:
    """Stage 1 (+ optional salted level-1 merge): the state rows feeding
    the final per-key merge. Exposed for fan-in tests."""
    prepared, col_map = _prepare(df, group_cols, specs)
    if salt_buckets is None:
        try:
            # plan -> RDD conversion is metadata-only for batch plans
            # (verified safe on foreachBatch callback threads too); the
            # fallback covers plans that cannot convert (e.g. an
            # un-materialized streaming source)
            salt_buckets = _auto_salt_buckets(prepared.rdd.getNumPartitions())
        except Exception:
            salt_buckets = 1

    partials = prepared.mapInPandas(
        _partial_builder(specs, group_cols, col_map, max_states_per_partition),
        schema=_grouped_schema(prepared, group_cols, specs, with_ord=True),
    )
    if salt_buckets > 1:
        level1 = partials.withColumn(
            _SALT_COL, F.pmod(F.shiftright(F.col(_ORD_COL), 20), F.lit(salt_buckets))
        )
        mid_cols = group_cols + [_SALT_COL]
        mid_schema = _grouped_schema(level1, mid_cols, specs, with_ord=True)
        partials = (
            level1.groupBy(*mid_cols)
            .applyInPandas(_merge_groups(specs, mid_cols, with_ord=True), schema=mid_schema)
            .drop(_SALT_COL)
        )
    return partials


def grouped_sketch(
    df: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    salt_buckets: int | None = None,
    salt_cols: list[str] | None = None,  # obsolete, ignored (see module doc)
    salt_seed: int = 0xBEEF,
    max_states_per_partition: int = 1 << 16,
    pre_partial: bool | None = None,
) -> DataFrame:
    """Per-group sketch states: returns one row per group with
    ``group_cols + [n_rows] + state_<name> binary`` columns.

    Mixed spec lists take the generic route: partition-local partial
    states are built in one streaming pass, then only states move.
    ``salt_buckets=S`` adds a pre-merge level on (key, partition mod S)
    to bound per-key fan-in on very wide scans; the default (None)
    derives S from the scan's partition count so fan-in stays ~256 at
    any width.

    All-HLL or all-KMV spec lists take a fully vectorized route instead:
    no per-key ``applyInPandas`` and no salt level (its merge stage
    streams each partition with no per-key fan-in limit, so
    ``salt_buckets`` is moot there). The
    dispatch exists because a billion-group build (north_star: distinct
    tools per conv_id) is output-bound, not group-loop-bound, on this
    path. ``pre_partial`` picks its stage-1 shape:

    * ``False`` (``direct``): shuffle the raw (group, hash) projection
      once and build FINAL states in a single post-shuffle Arrow pass,
      for any key shape. At group cardinality near the
      row count the partial route wraps, exchanges, and re-parses ~one
      state blob per INPUT row — measured 69s vs 31s at 20M groups.
    * ``True`` (``pre_partial``): map-side partial states, one state
      shuffle, and the merge stage of ``rollup_states``
      (``rollup.merge_state_rows``, without its sort). Right when
      scan partitions repeat their keys, so partials shrink the
      exchange. It is also the skew guard: a hot key then costs one
      partial state per scan partition instead of piling all its rows
      into one exchange task.
    * ``None`` (default): decide from a dispatch sample
      (``_dispatch_sample``: 65,536 of the scan's leading rows, one
      ``limit`` job, no aggregate stage) holding each row's key hash and
      its task in the direct exchange. ``pre_partial`` when the sample
      holds at least 256 rows per distinct key — map-side partials then
      fold most rows before the shuffle — or when its fullest task holds
      over twice the mean and over what uniform hashing reaches by
      chance (``_load_limit``); ``direct`` otherwise. Each decision is
      logged on ``probably_jl_spark.grouped`` (``record.grouped_route``).
      Measured on a 4-core box, P = 4, 12M synthetic rows in 16 scan
      partitions, HLL over a distinct item per row, medians of 3,
      pre_partial vs direct: 5 keys 2.3 vs 3.7 s; 50 keys 2.6 vs 3.7;
      100 keys 3.4 vs 3.6; 200 keys 3.7 vs 3.8; 500 keys 4.2 vs 3.9; 1k
      keys 3.7 vs 3.4; 10k keys 4.2 vs 3.4; 100k keys 8.3 vs 3.8; 3M
      keys of 4 clustered rows 5.5 vs 3.7 s. The crossover sits near
      256 sampled rows per key. Keys that repeat their items move it
      out: 1k keys over 1k distinct items took 2.6 vs 3.0 s, which the
      rule still sends direct. On 289k transcript turns by
      conversation (75k keys, ~4 rows each) direct took 0.60 s against
      0.94 s. The sample job takes 0.13-0.18 s warm; the distinct count
      over 200k rows it replaces took 0.5 s.

    Both shapes emit byte-identical states — HLL/KMV states are pure set
    functions of the hashes seen (gated by
    test_grouped_direct_route_byte_identical).

    Float keys group by value on every route: NaN groups with null, and
    -0.0 with 0.0 (emitted as null and 0.0)."""
    kinds = {s.kind for s in specs}
    if len(kinds) == 1 and next(iter(kinds)) in _VEC_KERNELS:
        from .rollup import merge_state_rows  # rollup imports this module

        kernel = _VEC_KERNELS[next(iter(kinds))](specs)
        prepared, col_map = _prepare(df, group_cols, specs)
        if not _choose_pre_partial(prepared, group_cols, pre_partial):
            return prepared.repartition(*group_cols).mapInArrow(
                _vec_direct_builder_arrow(specs, group_cols, col_map, kernel),
                schema=_grouped_schema(prepared, group_cols, specs),
            )
        partials = prepared.mapInPandas(
            _vec_partial_builder(specs, group_cols, col_map, max_states_per_partition, kernel),
            schema=_grouped_schema(prepared, group_cols, specs, with_ord=True),
        )
        return merge_state_rows(
            partials, group_cols, [s.state_col for s in specs], ordered=False
        )
    partials = _pre_merge_states(df, group_cols, specs, salt_buckets, max_states_per_partition)
    out_schema = StructType(
        [f for f in partials.schema.fields if f.name != _ORD_COL]
    )
    return partials.groupBy(*group_cols).applyInPandas(
        _merge_groups(specs, group_cols, with_ord=False), schema=out_schema
    )
