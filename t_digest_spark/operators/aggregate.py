"""Distributed t-digest aggregation over Spark DataFrames.

Execution model (SURVEY.md §3.2, designed for 100 TB inputs):

  stage 1  ``partial_digests``  — mapInArrow over the *unshuffled* scan:
           each input partition builds one digest per group key from
           Arrow batches (``DigestAccumulator``: NumPy-vectorized, zero
           per-row Python).  Output is (group keys..., digest binary,
           rows) — ~1 KB per (partition, key).  This is map-side
           partial aggregation: the 100 TB of raw rows never shuffle;
           only sketches do.

  stage 2  ``merge_digests_df``  — repartition(keys) over the tiny
           digest table + the whole-partition mapInArrow merge kernel
           every sketch shares (``_arrow_agg.merge_sketch_rows``), with
           MergingDigest.add(List) semantics: one concatenated merge
           pass per group.

  optional ``tree_merge`` — for extreme partition counts (10^5+ partials
           per key) an intermediate salt level bounds any single reduce
           task's fan-in, i.e. treeAggregate over digests.  Mergeability
           makes every layering *equally accurate* (AccuracyTest bounds
           hold for arbitrary splits), so salting/skew handling costs
           nothing in correctness.

Skewed group keys (e.g. hot conv_id / role values) are a non-issue in
stage 1 — each partition emits at most one digest per key regardless of
row skew — and bounded in stage 2 by ``tree_merge``.

Digests travel as the reference-compatible VERBOSE byte encoding
(float64 centroids — SMALL's float32 weights would overflow past 2^24
per centroid, see core.to_small_bytes).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

from pyspark.sql import DataFrame, functions as F

from ..core import TDigest, merge_blobs, merge_digests, try_singleton_blob
from ._arrow_agg import (
    key_groups, merge_sketch_rows, needs_canon, sketch_batch, sketch_schema,
)

__all__ = [
    "partial_digests",
    "merge_digests_df",
    "tree_merge",
    "tdigest_aggregate",
    "tdigest_collect",
    "DigestAccumulator",
    "DIGEST_FIELD",
]

DIGEST_FIELD = "digest"


def _shuffle_partitions(df: DataFrame) -> int:
    """spark.sql.shuffle.partitions as an int, tolerating non-numeric
    values some platforms set (e.g. "auto"); falls back to the
    cluster's default parallelism."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism

# Arrow batches are ~10k rows; we let each per-key digest buffer several
# batches before a merge pass (amortized buffering per
# MergingDigest.java:33-49 — bigger buffers are both faster and more
# accurate via two-level compression).
DEFAULT_BUFFER = 1 << 16


def partial_digests(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    compression: float = 100.0,
    scale: str = "K_2",
    buffer_size: int = DEFAULT_BUFFER,
    weight_col: str | None = None,
) -> DataFrame:
    """Stage 1: per-(input partition, group) digests, no raw-row shuffle.

    Returns a DataFrame ``group_cols... , digest binary, rows long`` with
    at most (#partitions x #distinct keys) rows.

    Implemented over ``mapInArrow`` — values reach NumPy zero-copy-ish
    and group keys are dictionary-encoded by Arrow C kernels, so there
    is no pandas conversion and no per-row Python anywhere.
    """
    group_cols = list(group_cols)
    cols = group_cols + [value_col] + ([weight_col] if weight_col else [])
    narrow = df.select(*cols)  # column pruning reaches the scan
    out_schema = sketch_schema(narrow, group_cols, DIGEST_FIELD)
    n_keys = len(group_cols)
    has_weight = weight_col is not None

    def build(batches):
        acc = DigestAccumulator(n_keys, group_cols, compression, scale,
                                buffer_size, has_weight)
        for batch in batches:
            acc.update(batch)
        out = acc.finish()
        if out is not None:
            yield out

    return narrow.mapInArrow(build, schema=out_schema)


class DigestAccumulator:
    """Per-partition digest accumulation over Arrow batches laid out as
    (key_cols..., value[, weight]).

    The stage-1 kernel shared by ``partial_digests`` and fused
    operators (e.g. ``sources.tables.latency_digests_clustered``, which
    derives its metric batch in the same Python pass): group keys are
    dictionary-encoded by Arrow C kernels, values reach NumPy
    zero-copy-ish, Python touches each *group* once per batch, never
    each row."""

    def __init__(self, n_keys: int, group_cols: Sequence[str],
                 compression: float, scale: str, buffer_size: int,
                 has_weight: bool = False):
        self.n_keys = n_keys
        self.group_cols = list(group_cols)
        self.compression = compression
        self.scale = scale
        self.buffer_size = buffer_size
        self.has_weight = has_weight
        self.acc: dict[tuple, TDigest] = {}
        self.counts: dict[tuple, int] = {}
        # canon key -> first-seen original values, for emission
        self._orig: dict[tuple, tuple] = {}
        # whether any key column's type can need canonicalization
        # (_arrow_agg.needs_canon) — decided from the first batch's
        # Arrow schema; string/int/timestamp keys skip the per-group
        # canon+norm entirely
        self._needs_canon = False
        self.key_types: list | None = None
        # per-key deferred chunks: when a batch spans many groups the
        # per-group slices are tiny (tens of rows) and TDigest.add_batch's
        # fixed cost (contiguity/NaN/min-max/append) dominates — so
        # slices are parked here (views, zero copy) and fed to the
        # digest in one concatenated call per ~buffer_size rows
        self._chunks: dict[tuple, list] = {}
        self._wchunks: dict[tuple, list] = {}
        self._chunk_rows: dict[tuple, int] = {}

    def _digest(self, key: tuple) -> TDigest:
        d = self.acc.get(key)
        if d is None:
            d = TDigest(self.compression, buffer_size=self.buffer_size,
                        scale=self.scale)
            self.acc[key] = d
            self.counts[key] = 0
        return d

    def _push(self, key: tuple, values, weights) -> None:
        lst = self._chunks.get(key)
        if lst is None:
            lst = self._chunks[key] = []
            self._chunk_rows[key] = 0
            if self.has_weight:
                self._wchunks[key] = []
        lst.append(values)
        if weights is not None:
            self._wchunks[key].append(weights)
        n = self._chunk_rows[key] + values.size
        self._chunk_rows[key] = n
        if n >= self.buffer_size:
            self._flush_key(key)

    def _flush_key(self, key: tuple) -> None:
        lst = self._chunks.pop(key, None)
        if not lst:
            return
        v = lst[0] if len(lst) == 1 else np.concatenate(lst)
        if self.has_weight:
            wl = self._wchunks.pop(key)
            w = wl[0] if len(wl) == 1 else np.concatenate(wl)
        else:
            w = None
        self._chunk_rows.pop(key, None)
        d = self._digest(key)
        d.add_batch(v, w)
        self.counts[key] += v.size

    def update(self, batch) -> None:
        n_keys = self.n_keys
        values = batch.column(n_keys).to_numpy(zero_copy_only=False)
        if self.has_weight:
            weights = batch.column(n_keys + 1).to_numpy(
                zero_copy_only=False)
        else:
            weights = None
        ok = ~np.isnan(values)  # aggregate ignores NULL/NaN inputs
        if weights is not None:
            ok &= ~np.isnan(weights) & (weights > 0)
        if self.key_types is None:
            self.key_types = [batch.schema.field(i).type
                              for i in range(n_keys)]
            self._needs_canon = needs_canon(self.key_types)

        if n_keys == 0:
            v = values[ok] if not ok.all() else values
            if v.size == 0:
                return
            d = self._digest(())
            d.add_batch(v, weights[ok] if weights is not None else None)
            self.counts[()] += v.size
            return

        order, starts, ends, keys, outs = key_groups(
            batch.columns[:n_keys], batch.num_rows, self._needs_canon, ok)
        if self._needs_canon:
            for key, out in zip(keys, outs):
                self._orig.setdefault(key, out)
        sorted_values = values[order]
        sorted_weights = weights[order] if weights is not None else None
        for key, s, e in zip(keys, starts, ends):
            # .copy() so the parked chunk doesn't pin this batch's full
            # sorted array until flush time
            self._push(key, sorted_values[s:e].copy(),
                       sorted_weights[s:e].copy()
                       if sorted_weights is not None else None)

    def finish(self):
        # small unit-weight keys take the bit-identical singleton
        # serialization fast path (core.try_singleton_blob): in
        # high-cardinality groupings (the flagship (role, ts_hour)
        # shape: thousands of keys x ~tens of rows each per partition)
        # the per-key digest construction + merge pass was the dominant
        # finalize cost (~55 us/key vs ~3 us packed) while provably
        # producing the same bytes.  Keys with a live digest (already
        # flushed once) or explicit weights use the full path.
        fast: dict[tuple, bytes] = {}
        for key in list(self._chunks):
            blob = None
            if not self.has_weight and key not in self.acc:
                lst = self._chunks[key]
                v = lst[0] if len(lst) == 1 else np.concatenate(lst)
                blob = try_singleton_blob(v, self.compression,
                                          self.buffer_size, self.scale)
            if blob is None:
                self._flush_key(key)
                continue
            fast[key] = blob
            self.counts[key] = self._chunk_rows.pop(key)
            del self._chunks[key]
        if not self.acc and not fast:
            return None
        keys = list(self.acc.keys()) + list(fast.keys())
        return sketch_batch(
            self.group_cols, self.key_types, DIGEST_FIELD,
            [self._orig.get(k, k) for k in keys],
            [fast[k] if k in fast
             else self.acc[k].to_bytes(compress=False) for k in keys],
            [self.counts[k] for k in keys])


def merge_digests_df(
    partials: DataFrame,
    group_cols: Sequence[str] = (),
    compression: float = 100.0,
    scale: str = "K_2",
    pin_partitions: bool = False,
) -> DataFrame:
    """Stage 2: shuffle the (tiny) digest rows by key and merge per group.

    Runs the shared stage-2 kernel (``_arrow_agg.merge_sketch_rows``):
    ``repartition(keys)`` co-locates every key's partials, then a
    whole-partition ``mapInArrow`` kernel merges all keys of the
    partition in ONE Python round-trip.  The repartition is BY COLUMN
    with no pinned count by default, so AQE sizes the reduce stage by
    actual partial bytes: a 15-row digest table collapses
    to ONE task instead of spark.sql.shuffle.partitions near-empty
    Python round-trips (measured 0.65 s/query saved on the sf0.1
    headline bench, where the pinned 64-task stage dominated the
    merge).  Every downstream consumer of the merge output
    (quantile-extract UDFs, collect) inherits the right-sized
    partitioning too.  The global aggregate (no ``group_cols``) is one
    row, an empty digest with ``rows = 0`` on empty input.

    ``pin_partitions=True`` pins the exchange at
    spark.sql.shuffle.partitions instead — for callers that KNOW the
    partial table is large (high key cardinality x many partitions):
    AQE's byte-sized coalescing targets ~defaultParallelism tasks
    there, and the resulting single ragged wave quantizes badly on the
    core count (flagship 100M-row job, per-stage event-log profile:
    the 11-task coalesced merge stage scaled 0.46 from 2 to 8 cores
    with occupancy 0.73 and task CPU inflated 22 -> 37 core-s, while
    the pinned 64-task shape — 8 balanced waves — restores tail-hiding;
    the scan+kernel stage scales 0.95 in the same windows)."""
    return merge_sketch_rows(
        partials, group_cols, DIGEST_FIELD,
        _digest_merge(compression, scale),
        _shuffle_partitions(partials) if pin_partitions else None)


def _digest_merge(compression: float, scale: str):
    def merge(blobs: list) -> bytes:
        return merge_blobs(blobs, compression=compression,
                           scale=scale).to_bytes()
    return merge


def tree_merge(
    partials: DataFrame,
    group_cols: Sequence[str] = (),
    compression: float = 100.0,
    scale: str = "K_2",
    fanout: int = 64,
) -> DataFrame:
    """treeAggregate-style two-level reduce over digest rows.

    Caps any single reduce task's fan-in at ~``fanout`` digests per key by
    pre-merging within salted buckets.  Use when #input-partitions per key
    is very large (10^4+).  Accuracy is unchanged — digest merging meets
    the same bounds for any split (AccuracyTest.java:131-151); stratified
    two-level merging is in fact *more* accurate (docs/vldb/short.tex:185-198).
    """
    group_cols = list(group_cols)
    salted = partials.withColumn(
        "__salt", F.pmod(F.crc32(F.col(DIGEST_FIELD)), F.lit(fanout))
    )
    # intermediate level keeps 2x centroids (stratified merging: sub-digests
    # at delta' > delta are *more* accurate, docs/vldb/short.tex:185-198);
    # only the final level compresses to the public delta.  Same whole-
    # partition merge kernel as merge_digests_df: the salted level has
    # keys x fanout groups, where a per-group merge call would hurt the
    # most.
    level1 = merge_sketch_rows(salted, group_cols + ["__salt"],
                               DIGEST_FIELD,
                               _digest_merge(2 * compression, scale))
    return merge_digests_df(level1.drop("__salt"), group_cols,
                            compression, scale)


def tdigest_aggregate(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    compression: float = 100.0,
    scale: str = "K_2",
    buffer_size: int = DEFAULT_BUFFER,
    weight_col: str | None = None,
    tree: bool | str = "auto",
    fanout: int = 64,
) -> DataFrame:
    """Full two-stage digest aggregation: one digest row per group.

    Equivalent to ``groupBy(keys).agg(tdigest(value))`` but with explicit
    map-side partials so only sketches shuffle.

    ``tree``: ``True``/``False`` force the reduce shape; the default
    ``"auto"`` switches to the two-level ``tree_merge`` when the input
    has more than ~10^4 partitions — beyond that, a single reduce
    task's fan-in (one partial digest per key per partition) dominates
    the merge and the salted pre-reduce wins.  Accuracy is identical
    for any split (AccuracyTest.java:131-151; tests/test_mega_merge.py).
    """
    partials = partial_digests(df, value_col, group_cols, compression,
                               scale, buffer_size, weight_col)
    if tree == "auto":
        # Estimate stage-1 task count WITHOUT df.rdd (which forces a
        # full RDD conversion of the plan — measurable on wide plans and
        # illegal on streaming DataFrames).  inputFiles() is a metadata
        # listing; for non-file plans fall back to the cluster's default
        # parallelism, which bounds the partial-digest partition count
        # for any shuffle-free stage 1.  File count is a HEURISTIC for
        # task count, not equal to it: maxPartitionBytes splits large
        # files (undercount) and small files coalesce into shared
        # partitions (overcount) — acceptable here because the 10^4
        # threshold only picks the reduce shape, and both shapes are
        # correct for any split; force tree=True/False to override.
        try:
            n_parts = len(df.inputFiles())
        except Exception:
            n_parts = 0
        if n_parts == 0:
            n_parts = df.sparkSession.sparkContext.defaultParallelism
        tree = n_parts > 10_000
    if tree:
        return tree_merge(partials, group_cols, compression, scale, fanout)
    return merge_digests_df(partials, group_cols, compression, scale)


def tdigest_collect(
    df: DataFrame,
    value_col: str,
    compression: float = 100.0,
    scale: str = "K_2",
    buffer_size: int = DEFAULT_BUFFER,
) -> TDigest:
    """Global (ungrouped) digest, returned as a driver-side TDigest.

    Partition digests (~1 KB each) are the only data collected.
    """
    partials = partial_digests(df, value_col, (), compression, scale,
                               buffer_size)
    blobs = [r[DIGEST_FIELD] for r in partials.select(DIGEST_FIELD).collect()]
    return merge_digests([TDigest.from_bytes(b, scale=scale) for b in blobs],
                         compression=compression)
