"""The two Arrow kernels every sketch aggregate in this library runs on
(t-digest / count-min / Bloom / HLL / histogram / KLL):

  stage 1: ``mapInArrow`` over the unshuffled scan; group keys are
           dictionary-encoded by Arrow C kernels and rows routed to
           per-key sketch objects via stable-sorted contiguous slices;
           one serialized sketch row per (input partition, key).  The
           t-digest runs its own specialized build
           (``aggregate.DigestAccumulator``); every other sketch runs
           ``grouped_sketch_aggregate``'s.
  stage 2: ``merge_sketch_rows`` — an exchange by key (one partition for
           the global case), then ``partition_merge``: a whole-partition
           ``mapInArrow`` kernel that merges every key of a reducer
           partition in one Python round-trip.

Both stages route rows through ``key_groups``, which canonicalizes keys
to Spark ``groupBy`` semantics: NaN groups with NaN, -0.0 with 0.0, and
nested (array/map) keys become hashable.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

__all__ = ["grouped_sketch_aggregate", "merge_sketch_rows",
           "partition_merge", "key_groups", "needs_canon", "fold_blobs",
           "sketch_batch", "sketch_schema"]

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
    encs = []
    for col in cols:
        codes, keys, outs = _encode(col, canon)
        combined = combined * (len(keys) + 1) + (codes + 1)
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

    The sketch protocol: ``make()`` builds an empty sketch,
    ``update(sketch, values, weights)`` folds in one key's slice of a
    batch (``weights`` is the int64 ``weight_col`` slice, or None),
    ``sketch.to_bytes()`` serializes it and ``merge_blobs(blobs)``
    merges serialized sketches.  Values arrive as ``value_dtype``
    (int64 for pre-hashed items); null values, and NaN for float
    values, are dropped.  ``rows`` counts the values each sketch saw.
    The global aggregate (no group columns) returns one row even on
    empty input: an empty sketch with ``rows = 0``."""
    group_cols = list(group_cols)
    n_keys = len(group_cols)
    cols = group_cols + [value_col] + ([weight_col] if weight_col else [])
    narrow = df.where(F.col(value_col).isNotNull()).select(*cols)

    def build(batches):
        acc: dict[tuple, object] = {}
        counts: dict[tuple, int] = {}
        outs: dict[tuple, tuple] = {}
        types = canon = None
        for batch in batches:
            if types is None:
                types = [batch.schema.field(i).type for i in range(n_keys)]
                canon = needs_canon(types)
            v = batch.column(n_keys).to_numpy(zero_copy_only=False) \
                .astype(value_dtype, copy=False)
            w = batch.column(n_keys + 1).to_numpy(zero_copy_only=False) \
                .astype(np.int64, copy=False) if weight_col else None
            order, starts, ends, keys, kouts = key_groups(
                batch.columns[:n_keys], batch.num_rows, canon,
                ~np.isnan(v) if v.dtype.kind == "f" else None)
            v = v[order]
            if w is not None:
                w = w[order]
            for key, out, s, e in zip(keys, kouts, starts, ends):
                sk = acc.get(key)
                if sk is None:
                    sk = acc[key] = make()
                    counts[key] = 0
                    outs[key] = out
                update(sk, v[s:e], w[s:e] if w is not None else None)
                counts[key] += e - s
        if acc:
            yield sketch_batch(group_cols, types, out_field,
                               list(outs.values()),
                               [sk.to_bytes() for sk in acc.values()],
                               list(counts.values()))

    partials = narrow.mapInArrow(
        build, schema=sketch_schema(narrow, group_cols, out_field))

    def merge(blobs: list) -> bytes:
        return merge_blobs(blobs) if blobs else make().to_bytes()

    return merge_sketch_rows(partials, group_cols, out_field, merge)
