"""The two Arrow kernels every sketch aggregate in this library runs on
(t-digest / count-min / Bloom / HLL / histogram / KLL):

  stage 1: ``sketch_partials`` — ``mapInArrow`` over the unshuffled
           scan, one ``SketchAccumulator`` per input partition: group
           keys are dictionary-encoded by Arrow C kernels, rows routed
           to per-key sketches via stable-sorted contiguous slices, one
           serialized sketch row per (input partition, key).  Every
           sketch builds here, the t-digest included (its small keys
           take the singleton encoder, ``core.try_singleton_blob``).
  stage 2: ``merge_sketch_rows`` — an exchange by key (one partition for
           the global case), then ``partition_merge``: a whole-partition
           ``mapInArrow`` kernel that merges every key of a reducer
           partition in one Python round-trip.

Both stages route rows through ``key_groups``, which canonicalizes keys
to Spark ``groupBy`` semantics: NaN groups with NaN, -0.0 with 0.0, and
nested (array/map) keys become hashable.
"""

from __future__ import annotations

from operator import methodcaller
from typing import Callable, Sequence

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

__all__ = ["SketchAccumulator", "sketch_partials",
           "grouped_sketch_aggregate", "merge_sketch_rows",
           "partition_merge", "key_groups", "needs_canon", "fold_blobs",
           "sketch_batch", "sketch_schema", "DEFAULT_BUFFER"]

# Rows parked per key before one ``update`` call: Arrow batches are
# ~10k rows, so each key's slices from several batches are fed at once
# (amortized buffering per MergingDigest.java:33-49 — for the t-digest
# bigger buffers are both faster and more accurate via two-level
# compression).
DEFAULT_BUFFER = 1 << 16

# Group keys are grouped in Python dicts inside the Arrow kernels, so
# they must be canonicalized to match Spark groupBy semantics first:
# NaN keys group together (hash(nan) is id-based on py3.10+, so two
# NaNs decoded from different Arrow batches would otherwise never
# merge), -0.0 groups with 0.0, and array/map-typed keys arrive as
# unhashable lists/dicts from to_pylist.
_NAN_KEY = object()


def _canon_key_val(v):
    if isinstance(v, float):
        if v != v:
            return _NAN_KEY
        if v == 0.0:
            return 0.0  # fold -0.0 into 0.0, like Spark's grouping
        return v
    if isinstance(v, list):
        return tuple(_canon_key_val(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_key_val(x)) for k, x in v.items()))
    return v


def _norm_orig_val(v):
    """Normalize a RAW group-key value for output: fold -0.0 into 0.0
    (recursively through lists/dicts) so the emitted key matches
    Spark's normalized groupBy output deterministically — a group
    containing both -0.0 and 0.0 must not surface whichever raw form a
    partition saw first.  NaN passes through unchanged (the canonical
    key already unifies NaNs; NaN itself is the correct output)."""
    if isinstance(v, float):
        return 0.0 if v == 0.0 else v
    if isinstance(v, list):
        return [_norm_orig_val(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm_orig_val(x) for k, x in v.items()}
    return v


def needs_canon(types) -> bool:
    """Whether any key column type can need canonicalization (floats:
    NaN/-0.0 folding; nested: unhashable; decimals) — string, integer
    and timestamp keys skip the per-key canon + normalize entirely.
    Dictionary-encoded columns are judged by their value type."""
    import pyarrow as pa

    for t in types:
        if pa.types.is_dictionary(t):
            t = t.value_type
        if (pa.types.is_floating(t) or pa.types.is_nested(t)
                or pa.types.is_decimal(t)):
            return True
    return False


def _encode(col, canon: bool):
    """One key column -> (codes, keys, outs): int64 codes (-1 = null)
    and, per code, the grouping key and the value to emit."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    try:
        enc = pc.dictionary_encode(col)
        codes = pc.fill_null(enc.indices, -1).to_numpy(
            zero_copy_only=False).astype(np.int64)
        # decode the (small) dictionary once — keys then come from O(1)
        # list indexing, not per-group pyarrow scalar .as_py()
        vals = enc.dictionary.to_pylist()
    except pa.lib.ArrowNotImplementedError:
        # nested (array/map/struct) key columns have no Arrow dictionary
        # kernel — encode in Python.  Cold path: it only runs for
        # nested-typed GROUP columns, whose per-batch cardinality is
        # small by grouping contract.
        vals = []
        code_of: dict = {}
        codes = np.empty(len(col), dtype=np.int64)
        for j, v in enumerate(col.to_pylist()):
            if v is None:
                codes[j] = -1
                continue
            ck = _canon_key_val(v)
            c = code_of.get(ck)
            if c is None:
                c = code_of[ck] = len(vals)
                vals.append(v)
            codes[j] = c
    if not canon:
        return codes, vals, vals
    # canonicalize the dictionary, not the rows: dictionary entries that
    # Spark groups together (-0.0 and 0.0, NaN payloads, a dictionary-
    # typed column's repeated values) share one code
    keys, outs = [], []
    code_of = {}
    remap = np.empty(len(vals) + 1, dtype=np.int64)
    remap[-1] = -1
    for j, v in enumerate(vals):
        ck = _canon_key_val(v)
        c = code_of.get(ck)
        if c is None:
            c = code_of[ck] = len(keys)
            keys.append(ck)
            outs.append(_norm_orig_val(v))
        remap[j] = c
    return remap[codes], keys, outs


def key_groups(cols: Sequence, n: int, canon: bool,
               ok: np.ndarray | None = None):
    """Route the ``n`` rows of one batch to canonical group keys.

    ``cols`` are the key columns (Arrow arrays or chunked arrays); rows
    with ``ok`` False are dropped.  Returns ``(order, starts, ends,
    keys, outs)``: rows ``order[starts[g]:ends[g]]`` form group ``g``,
    whose grouping key is the tuple ``keys[g]`` and whose emitted key
    values are ``outs[g]`` (``keys`` itself unless ``canon``).  With no
    key columns every kept row is in the one group ``()``.  Python
    touches each GROUP once, never each row.
    """
    combined = np.zeros(n, dtype=np.int64)
    radix = 1  # combined < radix
    encs = []
    for col in cols:
        codes, keys, outs = _encode(col, canon)
        base = len(keys) + 1
        if radix * base > 1 << 62:
            # the packed code would overflow int64 and merge distinct
            # keys: renumber the codes so far densely first
            _, combined = np.unique(combined, return_inverse=True)
            radix = int(combined.max()) + 1
        combined = combined * base + (codes + 1)
        radix *= base
        encs.append((codes, keys, outs))
    if ok is not None and not ok.all():
        combined = np.where(ok, combined, -1)
    order = np.argsort(combined, kind="stable")
    sc = combined[order]
    bounds = np.flatnonzero(np.diff(sc)) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [n]))
    if n == 0 or sc[0] < 0:  # no rows, or the filtered-out bucket
        starts, ends = starts[1:], ends[1:]
    first = order[starts]
    key_cols, out_cols = [], []
    for codes, keys, outs in encs:
        at = codes[first].tolist()
        key_cols.append(_pick(keys, at))
        if canon:
            out_cols.append(_pick(outs, at))
    keys = list(zip(*key_cols)) if cols else [()] * len(starts)
    outs = list(zip(*out_cols)) if canon else keys
    return order, starts.tolist(), ends.tolist(), keys, outs


def _pick(vals: list, codes: list) -> list:
    vals = vals + [None]  # code -1 (null) picks the trailing None
    return [vals[c] for c in codes]


def sketch_batch(group_cols: Sequence[str], key_types: Sequence,
                 field: str, outs: Sequence[tuple], blobs: Sequence[bytes],
                 rows: Sequence[int]):
    """One ``group_cols..., field binary, rows long`` RecordBatch."""
    import pyarrow as pa

    arrays = [pa.array([o[i] for o in outs], type=t)
              for i, t in enumerate(key_types)]
    arrays.append(pa.array(blobs, type=pa.binary()))
    arrays.append(pa.array(rows, type=pa.int64()))
    return pa.RecordBatch.from_arrays(
        arrays, names=list(group_cols) + [field, "rows"])


def sketch_schema(df: DataFrame, group_cols: Sequence[str],
                  field: str) -> StructType:
    """The Spark schema of ``sketch_batch`` rows over ``df``'s keys."""
    return StructType(
        [df.schema[c] for c in group_cols]
        + [StructField(field, BinaryType(), False),
           StructField("rows", LongType(), False)])


def partition_merge(group_cols: Sequence[str], field: str,
                    merge: Callable[[list], bytes]):
    """Whole-partition stage-2 merge kernel (a ``mapInArrow`` function):
    gather every key's blobs across the partition's Arrow batches,
    ``merge`` each key's list once, emit one RecordBatch.  One Python
    round-trip per REDUCER PARTITION instead of one ``applyInPandas``
    call per GROUP, which cost ~10 ms/group of pandas construction and
    Arrow conversion (DESIGN.md §7.6).  With no group columns the
    partition is the one global group, emitted even when empty, as
    ``merge([])`` with ``rows = 0``."""
    group_cols = list(group_cols)
    n_keys = len(group_cols)

    def gen(batches):
        import pyarrow as pa

        batches = [b for b in batches if b.num_rows]
        if not batches:
            if not n_keys:
                yield sketch_batch([], [], field, [()], [merge([])], [0])
            return
        tbl = pa.Table.from_batches(batches)  # sketch rows — tiny vs raw
        types = [tbl.schema.field(i).type for i in range(n_keys)]
        order, starts, ends, _, outs = key_groups(
            tbl.columns[:n_keys], tbl.num_rows, needs_canon(types))
        blobs = tbl.column(n_keys).to_pylist()
        rows = tbl.column(n_keys + 1).to_numpy()[order]
        order = order.tolist()
        yield sketch_batch(
            group_cols, types, field, outs,
            [merge([blobs[j] for j in order[s:e]])
             for s, e in zip(starts, ends)],
            np.add.reduceat(rows, starts).tolist())

    return gen


def merge_sketch_rows(partials: DataFrame, group_cols: Sequence[str],
                      field: str, merge: Callable[[list], bytes],
                      partitions: int | None = None) -> DataFrame:
    """Stage 2: exchange the (tiny) sketch rows by key and merge each
    key with ``partition_merge``.

    The grouped exchange is by column with no pinned count unless
    ``partitions`` is given, so AQE sizes the reduce stage by the
    actual sketch bytes.  The global aggregate funnels every row into
    one task: ``repartition(1)``, NOT ``coalesce(1)``, which would
    collapse the upstream stage-1 build into a single task too."""
    group_cols = list(group_cols)
    sel = partials.select(*group_cols, field, "rows")
    if not group_cols:
        rep = sel.repartition(1)
    elif partitions:
        rep = sel.repartition(partitions, *group_cols)
    else:
        rep = sel.repartition(*group_cols)
    return rep.mapInArrow(partition_merge(group_cols, field, merge),
                          schema=sketch_schema(sel, group_cols, field))


def fold_blobs(from_bytes: Callable[[bytes], object]):
    """A ``merge_blobs`` for sketches with in-place ``merge`` and
    ``to_bytes``: decode each blob and fold it into the first."""
    def merge_blobs(blobs: list) -> bytes:
        out = from_bytes(blobs[0])
        for b in blobs[1:]:
            out.merge(from_bytes(b))
        return out.to_bytes()
    return merge_blobs


class _Key:
    """One group key's state in a ``SketchAccumulator``."""

    __slots__ = ("out", "sketch", "rows", "parked", "nparked")

    def __init__(self, out, sketch):
        self.out = out  # the key values to emit
        self.sketch = sketch
        self.rows = 0  # values kept, folded or parked
        self.parked: list = []  # (values, weights) slices
        self.nparked = 0


def _column(col, dtype, keep: np.ndarray) -> np.ndarray:
    """``col`` as a NumPy array (cast to ``dtype`` unless None); clears
    ``keep`` in place where the value is null or NaN."""
    if col.null_count:
        keep &= col.is_valid().to_numpy(zero_copy_only=False)
        col = col.fill_null(0)
    a = col.to_numpy(zero_copy_only=False)
    if dtype is not None:
        a = a.astype(dtype, copy=False)
    if a.dtype.kind == "f":
        keep &= ~np.isnan(a)
    return a


def _cat(arrays):
    return arrays[0] if len(arrays) == 1 else np.concatenate(arrays)


class SketchAccumulator:
    """Stage 1 of every sketch aggregate: one input partition's Arrow
    batches, laid out as ``(key_cols..., value[, weight])``, folded
    into one sketch per group key and emitted as one ``sketch_batch``.

    The sketch protocol: ``make()`` builds an empty sketch,
    ``update(sketch, values, weights)`` folds in one key's values
    (``weights`` is the weight column's slice, or None) and
    ``to_bytes(sketch)`` serializes it.  Values arrive as
    ``value_dtype``; a row whose value or weight is null or NaN is
    dropped, and ``rows`` counts the values each sketch saw.  Python
    touches each GROUP once per batch, never each row.

    A key's slices are parked (copied, so they do not pin their batch)
    and fed to ``update`` in one concatenated call once ``buffer_size``
    rows are parked, or at ``finish``: when a batch spans many keys the
    slices are tens of rows, where any sketch's per-call fixed cost
    dominates.  Sketches are made in first-seen key order when the key
    is first seen, so per-sketch state such as KLL's seeds follows the
    input order.  The exception is a build with a small-key encoder
    ``small(values) -> bytes | None`` (the t-digest's singleton path):
    there a sketch is made only once its key's parked rows reach
    ``buffer_size``, or at ``finish``, where an unweighted key that
    never reached it is first offered to ``small``."""

    def __init__(self, group_cols: Sequence[str], field: str,
                 make: Callable[[], object],
                 update: Callable[[object, np.ndarray, np.ndarray | None],
                                  None],
                 to_bytes: Callable[[object], bytes] = methodcaller(
                     "to_bytes"),
                 small: Callable[[np.ndarray], bytes | None] | None = None,
                 weighted: bool = False, value_dtype=np.float64,
                 buffer_size: int = DEFAULT_BUFFER):
        self.group_cols = list(group_cols)
        self.field = field
        self.make = make
        self.update_sketch = update
        self.to_bytes = to_bytes
        self.small = small
        self.weighted = weighted
        self.value_dtype = value_dtype
        self.buffer_size = buffer_size
        self.key_types: list | None = None  # from the first batch
        self._canon = False
        self._keys: dict[tuple, _Key] = {}  # first-seen order

    def update(self, batch) -> None:
        n_keys = len(self.group_cols)
        if self.key_types is None:
            self.key_types = [batch.schema.field(i).type
                              for i in range(n_keys)]
            self._canon = needs_canon(self.key_types)
        keep = np.ones(batch.num_rows, dtype=bool)
        v = _column(batch.column(n_keys), self.value_dtype, keep)
        w = _column(batch.column(n_keys + 1), None, keep) \
            if self.weighted else None
        order, starts, ends, keys, outs = key_groups(
            batch.columns[:n_keys], batch.num_rows, self._canon, keep)
        v = v[order]
        if w is not None:
            w = w[order]
        for key, out, s, e in zip(keys, outs, starts, ends):
            st = self._keys.get(key)
            if st is None:
                st = self._keys[key] = _Key(
                    out, None if self.small else self.make())
            st.parked.append((v[s:e].copy(),
                              None if w is None else w[s:e].copy()))
            st.rows += e - s
            st.nparked += e - s
            if st.nparked >= self.buffer_size:
                self._fold(st, *self._unpark(st))

    def _unpark(self, st: _Key):
        vs, ws = zip(*st.parked)
        st.parked, st.nparked = [], 0
        return _cat(vs), _cat(ws) if self.weighted else None

    def _fold(self, st: _Key, v, w) -> None:
        if st.sketch is None:
            st.sketch = self.make()
        self.update_sketch(st.sketch, v, w)

    def finish(self):
        """The partition's sketch rows as one RecordBatch, or None when
        no row was kept."""
        if not self._keys:
            return None
        blobs = []
        for st in self._keys.values():
            blob = None
            if st.nparked:
                v, w = self._unpark(st)
                if st.sketch is None and w is None:
                    blob = self.small(v)
                if blob is None:
                    self._fold(st, v, w)
            blobs.append(blob or self.to_bytes(st.sketch))
        keys = self._keys.values()
        return sketch_batch(self.group_cols, self.key_types, self.field,
                            [st.out for st in keys], blobs,
                            [st.rows for st in keys])


def sketch_partials(narrow: DataFrame, group_cols: Sequence[str],
                    field: str, **protocol) -> DataFrame:
    """Stage 1: ``narrow`` (``group_cols..., value[, weight]``) through
    one ``SketchAccumulator(group_cols, field, **protocol)`` per input
    partition — at most (#partitions x #keys) sketch rows, no raw-row
    shuffle."""
    group_cols = list(group_cols)

    def build(batches):
        acc = SketchAccumulator(group_cols, field, **protocol)
        for batch in batches:
            acc.update(batch)
        out = acc.finish()
        if out is not None:
            yield out

    return narrow.mapInArrow(
        build, schema=sketch_schema(narrow, group_cols, field))


def grouped_sketch_aggregate(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    make: Callable[[], object],
    update: Callable[[object, np.ndarray, np.ndarray | None], None],
    merge_blobs: Callable[[list], bytes],
    out_field: str,
    value_dtype=np.float64,
    weight_col: str | None = None,
) -> DataFrame:
    """Two-stage aggregate of ``value_col`` into one sketch per group:
    ``group_cols..., out_field binary, rows long``.

    ``make``, ``update`` and ``value_dtype`` are ``SketchAccumulator``'s
    sketch protocol (``weights`` is the ``weight_col`` slice, or None);
    ``merge_blobs(blobs)`` merges serialized sketches.  The global
    aggregate (no group columns) returns one row even on empty input:
    an empty sketch with ``rows = 0``."""
    group_cols = list(group_cols)
    cols = group_cols + [value_col] + ([weight_col] if weight_col else [])
    partials = sketch_partials(
        df.select(*cols), group_cols, out_field, make=make, update=update,
        weighted=weight_col is not None, value_dtype=value_dtype)

    def merge(blobs: list) -> bytes:
        return merge_blobs(blobs) if blobs else make().to_bytes()

    return merge_sketch_rows(partials, group_cols, out_field, merge)
