"""KLL quantile sketch (Karnin, Lang, Liberty 2016) — the
comparison-based sibling of the t-digest, named alongside it by the
north rule.  Rank error is uniform in q (vs the t-digest's
tail-weighted error), additive ~O(1/k).

NumPy-vectorized: each level is a float64 buffer; a compaction sorts
the level and promotes a random odd/even half to the next level
(weights double per level).  Merging concatenates levels and
re-compacts — associative/commutative in distribution, like all the
sketches here, so the two-stage Spark aggregation applies unchanged.

Reference comparison: the t-digest repo itself benchmarks against KLL
(quality/CompareKllTest.java:168-238); this implementation follows the
published algorithm, not that test harness.
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np
import pandas as pd

from ..operators._arrow_agg import fold_blobs, grouped_sketch_aggregate

__all__ = ["KLLSketch", "kll_aggregate", "kll_quantiles_of"]

_MAGIC_KLL = 0x4B4C0001
_C = 2.0 / 3.0


class KLLSketch:
    """seed: KLL's error analysis assumes *independent* compaction
    coin-flips across the partial sketches that get merged; callers
    aggregating many partials must vary the seed per partition/group
    (kll_aggregate does).  The fixed default keeps single-sketch use
    and tests reproducible."""

    def __init__(self, k: int = 200, seed: int = 1):
        if k < 8:
            raise ValueError("k >= 8")
        self.k = int(k)
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0
        self._rng = np.random.default_rng(seed)
        self._min = math.inf
        self._max = -math.inf

    # -- capacity ------------------------------------------------------
    def _capacity(self, level: int) -> int:
        # top level gets k, lower levels shrink geometrically (c^depth)
        depth = len(self.levels) - 1 - level
        return max(8, int(math.ceil(self.k * (_C ** depth))))

    def _total_capacity(self) -> int:
        return sum(self._capacity(i) for i in range(len(self.levels)))

    def _size(self) -> int:
        return sum(lv.size for lv in self.levels)

    # -- ingest ---------------------------------------------------------
    def update(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64).ravel()
        if values.size == 0:
            return
        if np.isnan(values).any():
            raise ValueError("Cannot add NaN to KLL sketch")
        self._min = min(self._min, float(values.min()))
        self._max = max(self._max, float(values.max()))
        self.levels[0] = np.concatenate([self.levels[0], values])
        self.n += values.size
        self._compress()

    def _compress(self) -> None:
        while self._size() > self._total_capacity():
            for i, lv in enumerate(self.levels):
                if lv.size > self._capacity(i):
                    self._compact(i)
                    break
            else:
                break

    def _compact(self, level: int) -> None:
        lv = np.sort(self.levels[level])
        if lv.size < 2:
            return
        if level + 1 >= len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        offset = int(self._rng.integers(0, 2))
        # odd count: the unpaired last element stays behind for BOTH
        # offsets (with offset=1 the old code promoted lv[1::2] and
        # dropped lv[-1] entirely, losing weight 2^level and biasing
        # against the upper tail); pair up an even-length body only.
        if lv.size % 2 == 1:
            body, keep = lv[:-1], lv[-1:]
        else:
            body, keep = lv, np.empty(0, dtype=np.float64)
        promoted = body[offset::2]
        self.levels[level] = keep
        self.levels[level + 1] = np.concatenate(
            [self.levels[level + 1], promoted])

    # -- merge ------------------------------------------------------------
    def merge(self, other: "KLLSketch") -> "KLLSketch":
        if other.n == 0:
            return self
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for i, lv in enumerate(other.levels):
            if lv.size:
                self.levels[i] = np.concatenate([self.levels[i], lv])
        self.n += other.n
        self._min = min(self._min, other._min)
        self._max = max(self._max, other._max)
        self._compress()
        return self

    # -- queries ------------------------------------------------------------
    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for i, lv in enumerate(self.levels):
            if lv.size:
                items.append(lv)
                weights.append(np.full(lv.size, 2 ** i, dtype=np.float64))
        if not items:
            return (np.empty(0), np.empty(0))
        x = np.concatenate(items)
        w = np.concatenate(weights)
        order = np.argsort(x, kind="stable")
        return x[order], w[order]

    def quantile(self, q: float) -> float:
        if not 0 <= q <= 1:
            raise ValueError("q in [0,1]")
        x, w = self._weighted_items()
        if x.size == 0:
            return math.nan
        if q == 0:
            return self._min
        if q == 1:
            return self._max
        csum = np.cumsum(w)
        target = q * csum[-1]
        i = int(np.searchsorted(csum, target, side="left"))
        return float(x[min(i, x.size - 1)])

    def quantiles(self, qs) -> np.ndarray:
        return np.asarray([self.quantile(float(q)) for q in np.atleast_1d(qs)])

    def cdf(self, v: float) -> float:
        x, w = self._weighted_items()
        if x.size == 0:
            return math.nan
        total = w.sum()
        i = int(np.searchsorted(x, v, side="right"))
        return float(w[:i].sum() / total)

    # -- serde ------------------------------------------------------------
    def to_bytes(self) -> bytes:
        head = struct.pack(">iiqdd", _MAGIC_KLL, self.k, self.n,
                           self._min if self.n else math.inf,
                           self._max if self.n else -math.inf)
        parts = [head, struct.pack(">i", len(self.levels))]
        for lv in self.levels:
            parts.append(struct.pack(">i", lv.size))
            parts.append(lv.astype(">f8").tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, buf: bytes) -> "KLLSketch":
        magic, k, n, mn, mx = struct.unpack_from(">iiqdd", buf, 0)
        if magic != _MAGIC_KLL:
            raise ValueError("not a KLL sketch")
        # content-derived seed: deterministic, but decorrelates the
        # merge-stage compaction coin-flips across distinct partials
        out = cls(k, seed=zlib.crc32(buf))
        out.n = n
        if n:
            out._min, out._max = mn, mx
        off = 32
        (n_levels,) = struct.unpack_from(">i", buf, off)
        off += 4
        levels = []
        for _ in range(n_levels):
            (sz,) = struct.unpack_from(">i", buf, off)
            off += 4
            levels.append(np.frombuffer(buf, dtype=">f8", count=sz,
                                        offset=off).astype(np.float64))
            off += 8 * sz
        out.levels = levels or [np.empty(0, dtype=np.float64)]
        return out


def kll_aggregate(df, value_col: str, group_cols=(), k: int = 200,
                  seed: int | None = None):
    """Two-stage KLL aggregation: one sketch row per group.

    seed=None (default) derives a distinct deterministic seed per
    (Spark partition, sketch instance), so compaction coin-flips are
    independent across the partials that later merge — the KLL error
    analysis requires that; perfectly correlated flips make errors add
    coherently.  Pass an int to force one shared seed (reproducibility
    experiments only)."""
    counter = [0]

    def make() -> KLLSketch:
        if seed is not None:
            return KLLSketch(k, seed=seed)
        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        counter[0] += 1
        return KLLSketch(k, seed=zlib.crc32(
            b"kll:%d:%d" % (pid, counter[0])))

    return grouped_sketch_aggregate(
        df, value_col, list(group_cols),
        make=make,
        update=lambda sk, v, _w: sk.update(v),
        merge_blobs=fold_blobs(KLLSketch.from_bytes),
        out_field="kll",
    )


def kll_quantiles_of(kll_col, qs):
    """array<double> of quantiles from a KLL blob column."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    qvs = [float(q) for q in qs]

    @pandas_udf(ArrayType(DoubleType()))
    def f(blobs: pd.Series) -> pd.Series:
        def one(b):
            if b is None:
                return None
            return KLLSketch.from_bytes(bytes(b)).quantiles(qvs).tolist()
        return blobs.map(one)

    return f(kll_col)
