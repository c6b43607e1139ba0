"""Pure-NumPy MergingDigest — the algorithmic core of the library.

This is a from-scratch, vectorized re-implementation of the semantics of
the reference MergingDigest
(``core/src/main/java/com/tdunning/math/stats/MergingDigest.java``):

- buffered add: samples accumulate in a temp buffer; when it fills, one
  stable-sorted merge pass fuses them into the live centroids
  (MergingDigest.java:249-284, 352-496).
- two-level compression: a working compression ``sqrt(scale) * delta``
  during accumulation, the public ``delta`` on compress/serialize
  (MergingDigest.java:200-216, 549-552).
- alternating merge direction to kill left-to-right bias
  (MergingDigest.java:99-100, 362-364).
- weight-limit (default) or k-limit merge criterion
  (MergingDigest.java:418-432).
- forced singleton endpoints: the first and last sorted elements never
  fuse (MergingDigest.java:433-436), which is what preserves ppm-level
  tail accuracy.
- singleton-aware interpolation in ``cdf``/``quantile``
  (MergingDigest.java:559-783).
- byte-compatible VERBOSE / SMALL encodings (MergingDigest.java:868-936,
  big-endian like Java ByteBuffer).

Unlike the reference's per-sample scalar loop, the merge pass here is
vectorized: per *output centroid* we do O(1) NumPy calls
(``searchsorted`` + a sliced comparison), so Python-level work is
O(number of centroids) per merge — independent of batch size — and all
per-sample work (sort, cumsum, segment means) is NumPy C code.  See
SURVEY.md §7.3.

Weights are float64 throughout so digests can count far beyond 2^31
samples (reference ``totalWeight`` is double, MergingDigest.java:74;
BigCount.java).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .scale import K_2, get_scale

__all__ = ["TDigest", "merge_digests", "merge_blobs",
           "try_singleton_blob"]

_VERBOSE_ENCODING = 1
_SMALL_ENCODING = 2


class TDigest:
    """A merging t-digest over float64 samples.

    Parameters
    ----------
    compression:
        The public compression delta (number of retained centroids is
        between delta/2 and delta for normalized scale functions).
    buffer_size:
        Temp-buffer capacity before a merge pass is triggered.  Larger
        buffers amortize merge cost and *increase* in-flight accuracy via
        two-level compression.  -1 → reference default (5 * size).
    size:
        Live-centroid array capacity. -1 → reference default.
    scale:
        Scale function (name or object); default K_2 (TDigest.java:45).
    use_weight_limit / use_alternating_sort / use_two_level_compression:
        The reference's three merge-strategy flags, same defaults
        (MergingDigest.java:99-108).
    """

    __slots__ = (
        "public_compression", "compression", "scale",
        "_size", "_buffer_size",
        "_mean", "_weight", "_ncentroids", "_total_weight",
        "_tmean", "_tweight", "_tcount", "_unmerged_weight", "_tunit",
        "_min", "_max", "_merge_count",
        "use_weight_limit", "use_alternating_sort",
        "use_two_level_compression",
    )

    def __init__(self, compression: float = 100.0, buffer_size: int = -1,
                 size: int = -1, scale=K_2, *,
                 use_weight_limit: bool = True,
                 use_alternating_sort: bool = True,
                 use_two_level_compression: bool = True):
        scale = get_scale(scale)
        if not scale.normalized:
            # MergingDigest.java:853-856 — non-normalized scale functions
            # have unbounded centroid counts, incompatible with the
            # fixed-size design.
            raise ValueError(
                f"{scale.name} is not usable with TDigest "
                "(unbounded cluster count)")
        self.scale = scale
        self.use_weight_limit = use_weight_limit
        self.use_alternating_sort = use_alternating_sort
        self.use_two_level_compression = use_two_level_compression

        # --- sizing, mirroring MergingDigest.java:142-228 -------------
        compression = float(compression)
        if compression < 10:
            compression = 10.0
        size_fudge = 0.0
        if use_weight_limit:
            size_fudge = 10.0
            if compression < 30:
                size_fudge += 20.0
        size = int(max(2 * compression + size_fudge, size))
        if buffer_size == -1:
            buffer_size = 5 * size
        if buffer_size <= 2 * size:
            buffer_size = 2 * size
        scale_ratio = max(1.0, buffer_size / size - 1.0)
        if not use_two_level_compression:
            scale_ratio = 1.0
        self.public_compression = compression
        self.compression = math.sqrt(scale_ratio) * compression
        if size < self.compression + size_fudge:
            size = int(math.ceil(self.compression + size_fudge))
        if buffer_size <= 2 * size:
            buffer_size = 2 * size
        self._size = size
        self._buffer_size = buffer_size

        # live centroids (sorted by mean, first/last are singletons)
        self._mean = np.empty(0, dtype=np.float64)
        self._weight = np.empty(0, dtype=np.float64)
        self._ncentroids = 0
        self._total_weight = 0.0

        # temp buffer for incoming samples — grows on demand up to
        # buffer_size so that high-cardinality groupings (many digests
        # alive per executor) don't pay the full allocation up front
        init = min(buffer_size, 4096)
        self._tmean = np.empty(init, dtype=np.float64)
        self._tweight = np.empty(init, dtype=np.float64)
        self._tcount = 0
        self._unmerged_weight = 0.0
        # True while every buffered sample since the last merge has
        # weight exactly 1 (the raw-ingest common case) — enables the
        # sort-only merge fast path (_tweight holds no data then)
        self._tunit = True

        self._min = math.inf
        self._max = -math.inf
        self._merge_count = 0

    # ------------------------------------------------------------------
    # ingest
    # ------------------------------------------------------------------

    def add(self, x, w: float = 1.0) -> None:
        """Add one weighted sample (TDigest.java:92)."""
        self.add_batch(np.asarray([x], dtype=np.float64),
                       np.asarray([w], dtype=np.float64))

    def add_batch(self, values, weights=None) -> None:
        """Vectorized insert of a batch of samples.

        This is the Spark hot path: an Arrow batch column lands here as
        one NumPy array; per-sample Python cost is zero.
        """
        values = np.ascontiguousarray(values, dtype=np.float64)
        if values.ndim != 1:
            values = values.ravel()
        if values.size == 0:
            return
        if np.isnan(values).any():
            # TDigest.java:94-98 — NaN is an error, not a skip
            raise ValueError("Cannot add NaN to t-digest")
        if weights is not None:
            weights = np.ascontiguousarray(weights, dtype=np.float64)
            if weights.shape != values.shape:
                raise ValueError("weights shape mismatch")
            if (weights <= 0).any():
                raise ValueError("weights must be > 0")

        # min/max update happens at add time (MergingDigest.java:265-270)
        self._min = min(self._min, float(values.min()))
        self._max = max(self._max, float(values.max()))

        # weights=None means unit weights throughout — never materialize
        # the all-ones array (at 10^12 raw points that allocation+copy
        # is a measurable slice of ingest)
        self._append(values, weights)

    def add_centroids(self, means, weights, d_min: float, d_max: float) -> None:
        """Merge another digest's centroid arrays into this one
        (AbstractTDigest.java:132-137 / MergingDigest.java:307-350).

        min/max come from the *other digest's recorded extremes*, not its
        centroid means.
        """
        means = np.ascontiguousarray(means, dtype=np.float64)
        weights = np.ascontiguousarray(weights, dtype=np.float64)
        if means.size == 0:
            return
        self._min = min(self._min, float(d_min))
        self._max = max(self._max, float(d_max))
        self._append(means, weights)

    def _append(self, values: np.ndarray,
                weights: np.ndarray | None) -> None:
        """Append to the temp buffer, merging on overflow
        (MergingDigest.java:258-264 with growable storage).
        ``weights=None`` means implicit unit weights (_tweight is not
        written while the whole buffer is unit — the merge fast path
        never reads it)."""
        pos = 0
        n = values.size
        while pos < n:
            if weights is not None and self._tunit:
                # transition to explicit weights: backfill the implicit
                # 1s.  Re-checked every iteration because an overflow
                # merge below resets the buffer (and the unit flag).
                self._tweight[:self._tcount] = 1.0
                self._tunit = False
            # leave headroom for live centroids like the reference's
            # overflow check (MergingDigest.java:258-260)
            room = self._buffer_size - self._tcount - self._ncentroids - 1
            if room <= 0:
                self._merge_new_values(False, self.compression)
                continue
            take = min(room, n - pos)
            t = self._tcount
            need = t + take
            if need > self._tmean.size:
                grow = min(self._buffer_size, max(need, 4 * self._tmean.size))
                self._tmean = np.resize(self._tmean, grow)
                self._tweight = np.resize(self._tweight, grow)
            self._tmean[t:need] = values[pos:pos + take]
            if weights is None:
                if not self._tunit:
                    # buffer already carries explicit weights from an
                    # earlier append in this merge window — these unit
                    # samples must materialize their 1s
                    self._tweight[t:need] = 1.0
                self._unmerged_weight += take
            else:
                self._tweight[t:need] = weights[pos:pos + take]
                self._unmerged_weight += float(
                    weights[pos:pos + take].sum())
            self._tcount = need
            pos += take

    def merge(self, other: "TDigest") -> None:
        """Absorb ``other`` (compressing it first, MergingDigest.java:313)."""
        other.compress()
        if other._ncentroids == 0:
            return
        self.add_centroids(other._mean[:other._ncentroids],
                           other._weight[:other._ncentroids],
                           other._min, other._max)

    # ------------------------------------------------------------------
    # the merge pass (MergingDigest.java:352-496)
    # ------------------------------------------------------------------

    def _merge_new_values(self, force: bool, compression: float) -> None:
        if self._total_weight == 0 and self._unmerged_weight == 0:
            return
        if force or self._unmerged_weight > 0:
            run_backwards = (self.use_alternating_sort
                             and self._merge_count % 2 == 1)
            self._merge_pass(run_backwards, compression)
            self._merge_count += 1
            self._tcount = 0
            self._unmerged_weight = 0.0
            self._tunit = True

    def _merge_pass(self, run_backwards: bool, compression: float) -> None:
        nc = self._ncentroids
        n = self._tcount + nc
        if n == 0:
            return
        if self._tunit:
            # unit-weight fast path (raw ingest): every buffered sample
            # weighs 1, so equal means are indistinguishable and the
            # buffer can be value-sorted with introsort (no stable
            # mergesort, no index gather).  The live centroids are
            # already sorted; insert buffer values BEFORE equal
            # centroids (side='left' against the centroid array), which
            # reproduces exactly what the stable argsort of
            # [temp, centroids] yields (temp first among equals —
            # README.md:35-42; Sort.java:37-43).
            tbuf = self._tmean[:self._tcount]
            buf = np.sort(tbuf)
            if buf.size and buf[0] <= 0.0 <= buf[-1]:
                _zeros_in_input_order(buf, tbuf)
            if nc == 0:
                m = buf
                w = np.ones(n, dtype=np.float64)
            else:
                cpos = self._mean[:nc].searchsorted(buf, side="left")
                # position of each buffer value in the merged array:
                # its buffer rank + number of centroids before it
                m = np.empty(n, dtype=np.float64)
                w = np.ones(n, dtype=np.float64)
                bpos = np.arange(self._tcount, dtype=np.intp) + cpos
                mask = np.ones(n, dtype=bool)
                mask[bpos] = False
                m[bpos] = buf
                m[mask] = self._mean[:nc]
                w[mask] = self._weight[:nc]
        else:
            m = np.concatenate(
                [self._tmean[:self._tcount], self._mean[:nc]])
            w = np.concatenate(
                [self._tweight[:self._tcount], self._weight[:nc]])
            # stable sort — load-bearing for repeated values
            # (README.md:35-42; Sort.java:37-43).  Temp samples come
            # first, matching the reference's buffer layout (temp then
            # spliced live centroids).
            order = np.argsort(m, kind="stable")
            m = m[order]
            w = w[order]
        if run_backwards:
            # MergingDigest.java:400-403: sweep right-to-left.  All
            # normalized scale functions have symmetric max(q) = max(1-q),
            # so the same forward sweep over reversed arrays is exact.
            m = m[::-1]
            w = w[::-1]

        self._total_weight += self._unmerged_weight
        total = self._total_weight
        normalizer = self.scale.normalizer(compression, total)

        starts = self._cluster_starts(w, total, normalizer)

        # segment-wise weighted means (reference updates incrementally,
        # MergingDigest.java:441-442; sum(m*w)/sum(w) is the same value
        # up to fp rounding and exact for singletons)
        seg_w = np.add.reduceat(w, starts)
        seg_mw = np.add.reduceat(m * w, starts)
        out_mean = seg_mw / seg_w
        # keep singleton means exact (no fp round-trip through m*w/w)
        ends = np.append(starts[1:], n)
        single = (ends - starts) == 1
        out_mean[single] = m[starts[single]]
        # sum/total can overshoot the segment's extremes by 1 ulp (the
        # reference's incremental convex update can't — MergingDigest
        # .java:441-442); clamp to the segment's own value range
        # (bounds ordered either way depending on sweep direction)
        b1, b2 = m[starts], m[ends - 1]
        out_mean = np.clip(out_mean, np.minimum(b1, b2),
                           np.maximum(b1, b2))

        if run_backwards:
            out_mean = out_mean[::-1]
            seg_w = seg_w[::-1]

        self._mean = np.ascontiguousarray(out_mean)
        self._weight = np.ascontiguousarray(seg_w)
        self._ncentroids = out_mean.size

        if total > 0:
            self._min = min(self._min, float(self._mean[0]))
            self._max = max(self._max, float(self._mean[-1]))

    def _cluster_starts(self, w: np.ndarray, total: float,
                        normalizer: float) -> np.ndarray:
        """Greedy cluster boundaries over sorted weights.

        Faithful to the reference sweep (MergingDigest.java:421-472)
        including forced singletons at both ends, but organized so
        Python-level iteration is per *output* centroid.
        """
        n = w.size
        if n == 1:
            return np.array([0], dtype=np.intp)
        csum = np.cumsum(w)
        scale = self.scale
        searchsorted = csum.searchsorted
        starts = [0]
        # position 1 never merges into cluster 0 (MergingDigest.java:433-436)
        s = 1
        if self.use_weight_limit:
            # the q2-side cap total*max(csum[j]/total) is independent of the
            # cluster start — precompute it vectorized once per merge so the
            # per-cluster loop below does only O(1) scalar + slice work
            cap2 = total * scale.max_size(csum / total, normalizer)
            # all-singletons fast path (the dominant small-digest shape
            # in high-cardinality grouped aggregation): extending any
            # cluster needs w[s]+w[s+1] <= min(cap0, cap2[s+1]); if even
            # the looser cap2-only test fails for every adjacent pair,
            # the greedy sweep degenerates to one cluster per input —
            # return it without the per-centroid Python loop
            if n > 2 and not np.any(w[1:-1] + w[2:] <= cap2[2:]):
                return np.arange(n, dtype=np.intp)
            # membership test csum[j]-w_start <= min(cap0, cap2[j])
            # splits into j <= hi (the cap0/searchsorted horizon) and
            # excess[j] <= w_start with excess = csum - cap2.  excess
            # is CONVEX in j for every normalized scale (csum is
            # increasing and cap2 = total*max(q) is concave in q), so
            # when neither window endpoint violates, no interior point
            # can — the per-cluster window scan collapses to two
            # scalar lookups; the vectorized scan remains as the exact
            # fallback whenever the endpoints disagree
            excess = csum - cap2
            # cap0 at a cluster starting at s is total*max(csum[s-1]/
            # total) = cap2[s-1] — already computed (max_py and the
            # vectorized max_size are IEEE-identical elementwise, see
            # test_invariants) — so the loop never calls the scale
            # function.  For all-unit weights csum is exactly
            # 1..n, making the cap0 horizon closed-form integer math
            # (no searchsorted): count of csum values <= x is
            # clamp(floor(x), 0, n).
            unit = bool(w[0] == 1.0 and w[-1] == 1.0
                        and (w == 1.0).all())
            floor = math.floor
            while s < n - 1:
                starts.append(s)
                if unit:
                    w_start = float(s)
                    hi = int(floor(s + cap2[s - 1])) - 1
                else:
                    w_start = csum[s - 1]
                    # horizon from the q0 bound alone (an upper bound
                    # since the actual limit is a min with the q2 term)
                    hi = searchsorted(w_start + cap2[s - 1],
                                      side="right") - 1
                if hi > n - 2:
                    hi = n - 2
                if hi <= s:
                    s += 1
                    continue
                if excess[s + 1] > w_start:   # even one member violates
                    s += 1
                    continue
                if excess[hi] <= w_start:     # endpoints OK ⇒ run to hi
                    s = hi + 1
                    continue
                over = excess[s + 1:hi + 1] > w_start
                bad = int(np.argmax(over))
                if over[bad]:        # first excess violation caps the run
                    s = s + 1 + bad
                else:                # none → cluster runs through hi
                    s = hi + 1
        else:
            # same fast path for the k-limit sweep: cluster at s absorbs
            # s+1 iff csum[s+1] <= total*q(k(csum[s-1]/total)+1).  The
            # vectorized scale.k/scale.q (SIMD log/exp) can differ from
            # the loop's k_py/q_py by ulps, so the early-exit predicate
            # is widened by a relative slack: only skip the loop when NO
            # pair is within 4 ulps of absorbing — exact-boundary cases
            # fall through to the scalar loop, keeping the documented
            # greedy semantics bit-identical.
            if n > 2:
                w_lim = total * scale.q(
                    scale.k(csum[:-2] / total, normalizer) + 1, normalizer)
                slack = 4 * np.finfo(np.float64).eps
                if not np.any(csum[2:] <= w_lim + slack * np.abs(w_lim)):
                    return np.arange(n, dtype=np.intp)
            k_py, q_py = scale.k_py, scale.q_py
            while s < n - 1:
                starts.append(s)
                # k-limit: projected csum <= total * q(k(q0) + 1)
                k1 = k_py(csum[s - 1] / total, normalizer)
                w_limit = total * q_py(k1 + 1, normalizer)
                j = searchsorted(w_limit, side="right") - 1
                j = min(max(j, s), n - 2)
                s = j + 1
        if n >= 2:
            # last element always starts its own cluster
            starts.append(n - 1)
        return np.asarray(starts, dtype=np.intp)

    # ------------------------------------------------------------------
    # queries
    # ------------------------------------------------------------------

    def compress(self) -> None:
        """Force pending samples in and re-merge at the *public*
        compression (MergingDigest.java:549-552)."""
        self._merge_new_values(True, self.public_compression)

    def _flush(self) -> None:
        self._merge_new_values(False, self.compression)

    @property
    def size(self) -> float:
        """Total sample weight (MergingDigest.java:554-557)."""
        return self._total_weight + self._unmerged_weight

    def centroid_count(self) -> int:
        self._flush()
        return self._ncentroids

    def centroids(self):
        """(means, weights) ascending by mean, compressed to the public
        compression first (MergingDigest.java:792-825 calls compress())."""
        self.compress()
        return (self._mean[:self._ncentroids].copy(),
                self._weight[:self._ncentroids].copy())

    @property
    def min(self) -> float:
        return self._min if self.size > 0 else math.nan

    @property
    def max(self) -> float:
        return self._max if self.size > 0 else math.nan

    def cdf(self, x: float) -> float:
        """Fraction of samples <= x, midpoint rule for ties
        (MergingDigest.java:559-695)."""
        x = float(x)
        if math.isnan(x) or math.isinf(x):
            raise ValueError(f"Invalid value: {x}")
        self._flush()
        n = self._ncentroids
        if n == 0:
            return math.nan
        mean = self._mean
        weight = self._weight
        total = self._total_weight
        lo, hi = self._min, self._max
        if n == 1:
            width = hi - lo
            if x < lo:
                return 0.0
            if x > hi:
                return 1.0
            if x - lo <= width:
                return 0.5
            return (x - lo) / width
        if x < lo:
            return 0.0
        if x > hi:
            return 1.0
        # left tail (MergingDigest.java:594-609)
        if x < mean[0]:
            if mean[0] - lo > 0:
                if x == lo:
                    return 0.5 / total
                return (1 + (x - lo) / (mean[0] - lo)
                        * (weight[0] / 2 - 1)) / total
            return 0.0
        # right tail (:612-624)
        if x > mean[n - 1]:
            if hi - mean[n - 1] > 0:
                if x == hi:
                    return 1 - 0.5 / total
                dq = (1 + (hi - x) / (hi - mean[n - 1])
                      * (weight[n - 1] / 2 - 1)) / total
                return 1 - dq
            return 1.0
        # interior (:630-686)
        weight_so_far = 0.0
        it = 0
        while it < n - 1:
            if mean[it] == x:
                # run of centroids exactly at x gets half credit (:632-640)
                dw = 0.0
                while it < n and mean[it] == x:
                    dw += weight[it]
                    it += 1
                return (weight_so_far + dw / 2) / total
            if mean[it] <= x < mean[it + 1]:
                if mean[it + 1] - mean[it] > 0:
                    left_excl = 0.0
                    right_excl = 0.0
                    if weight[it] == 1:
                        if weight[it + 1] == 1:
                            # two singletons — no interpolation (:652-656)
                            return (weight_so_far + 1) / total
                        left_excl = 0.5
                    elif weight[it + 1] == 1:
                        right_excl = 0.5
                    dw = (weight[it] + weight[it + 1]) / 2
                    left = mean[it]
                    right = mean[it + 1]
                    dw_no_single = dw - left_excl - right_excl
                    base = weight_so_far + weight[it] / 2 + left_excl
                    return (base + dw_no_single * (x - left)
                            / (right - left)) / total
                # fp-madness guard (:678-684)
                dw = (weight[it] + weight[it + 1]) / 2
                return (weight_so_far + dw) / total
            weight_so_far += weight[it]
            it += 1
        if x == mean[n - 1]:
            return 1 - 0.5 / total
        raise AssertionError("cdf loop fell through")

    def quantile(self, q: float) -> float:
        """Inverse CDF with singleton- and tail-aware interpolation
        (MergingDigest.java:697-783)."""
        q = float(q)
        if q < 0 or q > 1:
            raise ValueError(f"q should be in [0,1], got {q}")
        self._flush()
        n = self._ncentroids
        if n == 0:
            return math.nan
        if n == 1:
            return float(self._mean[0])
        mean = self._mean
        weight = self._weight
        total = self._total_weight
        index = q * total
        if index < 1:
            return self._min
        if weight[0] > 1 and index < weight[0] / 2:
            # one sample is exactly at min (:726-729)
            return self._min + (index - 1) / (weight[0] / 2 - 1) \
                * (mean[0] - self._min)
        if index > total - 1:
            return self._max
        if weight[n - 1] > 1 and total - index <= weight[n - 1] / 2:
            return self._max - (total - index - 1) / (weight[n - 1] / 2 - 1) \
                * (self._max - mean[n - 1])
        weight_so_far = weight[0] / 2
        for i in range(n - 1):
            dw = (weight[i] + weight[i + 1]) / 2
            if weight_so_far + dw > index:
                left_unit = 0.0
                if weight[i] == 1:
                    if index - weight_so_far < 0.5:
                        return float(mean[i])
                    left_unit = 0.5
                right_unit = 0.0
                if weight[i + 1] == 1:
                    if weight_so_far + dw - index <= 0.5:
                        return float(mean[i + 1])
                    right_unit = 0.5
                z1 = index - weight_so_far - left_unit
                z2 = weight_so_far + dw - index - right_unit
                return _weighted_average(float(mean[i]), z2,
                                         float(mean[i + 1]), z1)
            weight_so_far += dw
        z1 = index - total - weight[n - 1] / 2.0
        z2 = weight[n - 1] / 2 - z1
        return _weighted_average(float(mean[n - 1]), z1, self._max, z2)

    def quantiles(self, qs) -> np.ndarray:
        """Vectorized multi-quantile: same semantics as ``quantile`` (the
        scalar walk of MergingDigest.java:697-783 re-expressed with
        cumsum + searchsorted); differentially tested against the scalar
        port in tests/test_invariants.py."""
        qs = np.atleast_1d(np.asarray(qs, dtype=np.float64))
        if ((qs < 0) | (qs > 1)).any():
            raise ValueError("q should be in [0,1]")
        self._flush()
        n = self._ncentroids
        if n == 0:
            return np.full(qs.shape, np.nan)
        if n == 1:
            return np.full(qs.shape, float(self._mean[0]))
        m = self._mean[:n]
        w = self._weight[:n]
        total = self._total_weight
        lo, hi = self._min, self._max
        index = qs * total

        csum = np.cumsum(w)
        # weightSoFar before interval i equals csum[i] - w[i]/2
        wsf = csum - w / 2
        # interval i brackets index when wsf[i+1] > index >= wsf[i]
        i = np.clip(np.searchsorted(wsf, index, side="right") - 1,
                    0, n - 2)
        wsf_i = wsf[i]
        dw = (w[i] + w[i + 1]) / 2
        left_unit = np.where(w[i] == 1, 0.5, 0.0)
        right_unit = np.where(w[i + 1] == 1, 0.5, 0.0)
        z1 = index - wsf_i - left_unit
        z2 = wsf_i + dw - index - right_unit
        x1, w1 = m[i], z2
        x2, w2 = m[i + 1], z1
        # every branch value is computed eagerly and masked by np.where,
        # so 0/0 (two bracketing singletons: w1+w2==0; weight-2 tail
        # centroid: w/2-1==0) is expected and masked — silence it like
        # cdfs does below, rather than spamming executor logs.
        with np.errstate(invalid="ignore", divide="ignore"):
            interp = (x1 * w1 + x2 * w2) / (w1 + w2)
            interp = np.clip(interp, np.minimum(x1, x2),
                             np.maximum(x1, x2))
            out = interp
            # singleton spheres (no interpolation inside unit-weight
            # centroids)
            out = np.where((w[i + 1] == 1) & (wsf_i + dw - index <= 0.5),
                           m[i + 1], out)
            out = np.where((w[i] == 1) & (index - wsf_i < 0.5), m[i], out)
            # fallthrough past the last interval: interpolate out to max
            fz1 = index - total - w[n - 1] / 2.0
            fz2 = w[n - 1] / 2 - fz1
            fx = (m[n - 1] * fz1 + hi * fz2) / (fz1 + fz2)
            fx = np.clip(fx, min(m[n - 1], hi), max(m[n - 1], hi))
            # scalar loop falls through when no interval has
            # weightSoFar + dw > index, i.e. index >= wsf[n-1]
            out = np.where(index >= wsf[n - 1], fx, out)
            # tails (evaluated last: they take precedence, matching the
            # scalar early returns)
            out = np.where(
                (w[n - 1] > 1) & (total - index <= w[n - 1] / 2),
                hi - (total - index - 1) / (w[n - 1] / 2 - 1)
                * (hi - m[n - 1]),
                out)
            out = np.where(index > total - 1, hi, out)
            out = np.where(
                (w[0] > 1) & (index < w[0] / 2),
                lo + (index - 1) / (w[0] / 2 - 1) * (m[0] - lo),
                out)
        out = np.where(index < 1, lo, out)
        return out

    def cdfs(self, xs) -> np.ndarray:
        """Vectorized multi-probe CDF: the scalar walk of
        MergingDigest.java:559-695 re-expressed with cumsum +
        searchsorted (same re-expression as ``quantiles``);
        differentially tested against the scalar ``cdf`` in
        tests/test_invariants.py."""
        xs = np.atleast_1d(np.asarray(xs, dtype=np.float64))
        if xs.size and (np.isnan(xs).any() or np.isinf(xs).any()):
            raise ValueError("Invalid value in cdf probes")
        self._flush()
        n = self._ncentroids
        if n == 0:
            return np.full(xs.shape, np.nan)
        total = self._total_weight
        lo, hi = self._min, self._max
        if n == 1:
            width = hi - lo
            out = np.full(xs.shape, 0.5)
            inside = (xs >= lo) & (xs <= hi)
            with np.errstate(invalid="ignore", divide="ignore"):
                frac = (xs - lo) / width if width > 0 else xs * 0.0
            out = np.where(inside & (xs - lo > width), frac, out)
            out = np.where(xs < lo, 0.0, out)
            out = np.where(xs > hi, 1.0, out)
            return out
        m = self._mean[:n]
        w = self._weight[:n]
        csum = np.cumsum(w)
        wsf = csum - w                       # weight before centroid i
        j0 = np.searchsorted(m, xs, side="left")
        j1 = np.searchsorted(m, xs, side="right")
        # interior interpolation (non-tie): m[it] < x < m[it+1]
        it = np.clip(j0 - 1, 0, n - 2)
        li, ri = m[it], m[it + 1]
        wl, wr = w[it], w[it + 1]
        left_excl = np.where(wl == 1, 0.5, 0.0)
        right_excl = np.where((wr == 1) & (wl != 1), 0.5, 0.0)
        dw = (wl + wr) / 2
        dw_no_single = dw - left_excl - right_excl
        base = wsf[it] + wl / 2 + left_excl
        with np.errstate(invalid="ignore", divide="ignore"):
            interp = (base + dw_no_single * (xs - li) / (ri - li)) / total
            # fp-madness guard (:678-684): zero-width gap
            interp = np.where(ri - li > 0, interp,
                              (wsf[it] + dw) / total)
        out = np.where((wl == 1) & (wr == 1), (wsf[it] + 1) / total,
                       interp)
        # tie: x lands on a run of equal means [j0, j1) — half credit
        run_w = np.where(j1 > j0,
                         csum[np.minimum(j1, n) - 1] - wsf[np.minimum(
                             j0, n - 1)], 0.0)
        tie_val = (wsf[np.minimum(j0, n - 1)] + run_w / 2) / total
        out = np.where(j1 > j0, np.where(j0 >= n - 1, 1 - 0.5 / total,
                                         tie_val), out)
        # right tail: x > m[n-1] (and not past max)
        with np.errstate(invalid="ignore", divide="ignore"):
            rt = 1 - (1 + (hi - xs) / (hi - m[n - 1])
                      * (w[n - 1] / 2 - 1)) / total
        rt = np.where(hi - m[n - 1] > 0, rt, 1.0)
        rt = np.where(xs == hi, 1 - 0.5 / total, rt)
        out = np.where((xs > m[n - 1]) & (j1 == j0), rt, out)
        # left tail: x < m[0]
        with np.errstate(invalid="ignore", divide="ignore"):
            lt = (1 + (xs - lo) / (m[0] - lo) * (w[0] / 2 - 1)) / total
        lt = np.where(m[0] - lo > 0, lt, 0.0)
        lt = np.where(xs == lo, 0.5 / total, lt)
        out = np.where(xs < m[0], lt, out)
        # outside the observed range
        out = np.where(xs < lo, 0.0, out)
        out = np.where(xs > hi, 1.0, out)
        return out

    def trimmed_mean(self, q0: float, q1: float) -> float:
        """Mean of the samples between rank-quantiles q0 and q1
        (README capability; computed from centroids A5+A7 per SURVEY §2.A8).

        Each centroid's weight is clipped to the [q0*N, q1*N] rank window
        using cumulative midpoint rank positions.
        """
        if not (0 <= q0 < q1 <= 1):
            raise ValueError("need 0 <= q0 < q1 <= 1")
        self._flush()
        n = self._ncentroids
        if n == 0:
            return math.nan
        w = self._weight[:n]
        m = self._mean[:n]
        total = self._total_weight
        lo = q0 * total
        hi = q1 * total
        right = np.cumsum(w)
        left = right - w
        take = np.clip(np.minimum(right, hi) - np.maximum(left, lo), 0, None)
        tw = take.sum()
        if tw <= 0:
            return math.nan
        return float((m * take).sum() / tw)

    # ------------------------------------------------------------------
    # invariants / diagnostics
    # ------------------------------------------------------------------

    def check_weights(self) -> None:
        """Assert no centroid exceeds its scale-function size limit
        (MergingDigest.java:501-541): k-span <= 1 (soft), hard-fail > 4."""
        self._flush()
        n = self._ncentroids
        if n == 0:
            return
        w = self._weight[:n]
        total = self._total_weight
        normalizer = self.scale.normalizer(self.public_compression, total)
        csum = np.cumsum(w)
        q_left = (csum - w) / total
        q_right = csum / total
        dk = self.scale.k(q_right, normalizer) - self.scale.k(q_left, normalizer)
        bad = (dk > 4.0) & (w > 1)
        if bad.any():
            i = int(np.argmax(bad))
            raise AssertionError(
                f"Oversize centroid at {i}: k-span {dk[i]:.3f} weight {w[i]}")

    def k_spans(self) -> np.ndarray:
        self._flush()
        n = self._ncentroids
        w = self._weight[:n]
        total = self._total_weight
        normalizer = self.scale.normalizer(self.public_compression, total)
        csum = np.cumsum(w)
        return (self.scale.k(csum / total, normalizer)
                - self.scale.k((csum - w) / total, normalizer))

    # ------------------------------------------------------------------
    # serialization (MergingDigest.java:868-936; big-endian)
    # ------------------------------------------------------------------

    def byte_size(self) -> int:
        self.compress()
        return self._ncentroids * 16 + 32

    def small_byte_size(self) -> int:
        self.compress()
        return self._ncentroids * 8 + 30

    def to_bytes(self, compress: bool = True) -> bytes:
        """VERBOSE encoding (MergingDigest.java:868-880).

        ``compress=False`` serializes at the working compression
        (more centroids, ~2x bytes): the right choice for *partial*
        digests that will be merged again — stratified sub-digests at
        delta' > delta merge more accurately (docs/vldb/short.tex:185-198)
        and skipping the final merge pass saves the dominant per-key
        finalize cost in map-side aggregation.
        """
        if compress:
            self.compress()
        else:
            self._flush()
        n = self._ncentroids
        head = struct.pack(">iddd i", _VERBOSE_ENCODING,
                           self._min if n else math.inf,
                           self._max if n else -math.inf,
                           self.public_compression, n)
        pairs = np.empty((n, 2), dtype=">f8")
        pairs[:, 0] = self._weight[:n]
        pairs[:, 1] = self._mean[:n]
        return head + pairs.tobytes()

    def to_small_bytes(self) -> bytes:
        """SMALL encoding, float32 centroids (MergingDigest.java:882-896).

        Note: float32 weights cap per-centroid counts at 2^24 — use the
        VERBOSE form for large-scale shuffle payloads.
        """
        self.compress()
        n = self._ncentroids
        head = struct.pack(">iddf hhh", _SMALL_ENCODING,
                           self._min if n else math.inf,
                           self._max if n else -math.inf,
                           self.public_compression,
                           min(self._size, 0x7FFF),
                           min(self._buffer_size, 0x7FFF), n)
        pairs = np.empty((n, 2), dtype=">f4")
        pairs[:, 0] = self._weight[:n]
        pairs[:, 1] = self._mean[:n]
        return head + pairs.tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes, scale=K_2, **kwargs) -> "TDigest":
        """Decode either encoding (MergingDigest.java:898-936)."""
        (encoding,) = struct.unpack_from(">i", buf, 0)
        if encoding == _VERBOSE_ENCODING:
            mn, mx, compression, n = struct.unpack_from(">dddi", buf, 4)
            pairs = np.frombuffer(buf, dtype=">f8", count=2 * n,
                                  offset=32).reshape(n, 2)
        elif encoding == _SMALL_ENCODING:
            mn, mx, compression, _sz, _bsz, n = struct.unpack_from(
                ">ddfhhh", buf, 4)
            pairs = np.frombuffer(buf, dtype=">f4", count=2 * n,
                                  offset=30).reshape(n, 2)
        else:
            raise ValueError(f"Invalid serialized digest format {encoding}")
        d = cls(compression, scale=scale, **kwargs)
        d._ncentroids = n
        d._weight = np.ascontiguousarray(pairs[:, 0], dtype=np.float64)
        d._mean = np.ascontiguousarray(pairs[:, 1], dtype=np.float64)
        d._total_weight = float(d._weight.sum())
        if n > 0:
            d._min = mn
            d._max = mx
        return d

    def __repr__(self):  # pragma: no cover
        return (f"TDigest(compression={self.public_compression}, "
                f"scale={self.scale.name}, n={self.size}, "
                f"centroids={self._ncentroids})")


def _zeros_in_input_order(s: np.ndarray, values: np.ndarray) -> None:
    """Make ``s = np.sort(values)`` order its zeros as the reference's
    stable sort does.  np.sort's SIMD kernels may rewrite the sign of a
    zero that ties with another (-0.0 == 0.0), so the zeros are put back
    in input order; other equal values are bit-identical.  A stable sort
    (kind="stable") would do the same at ~1.6 us more per 5-100-sample
    key (AVX-512 x86 host)."""
    lo = s.searchsorted(0.0, side="left")
    hi = s.searchsorted(0.0, side="right")
    if hi - lo > 1:
        s[lo:hi] = values[values == 0.0]


# probe digests for try_singleton_blob, one per (compression,
# buffer_size, scale-name): only read for their derived working
# compression / flag set, never mutated; paired with a per-n
# eligibility memo.  Each memo is cleared when it reaches its cap, so a
# long-lived worker seeing many parameter triples or group sizes keeps
# bounded memory (a probe holds ~64 KB of buffers).
_SINGLETON_PROBES: dict = {}
_SINGLETON_PROBES_MAX = 64
_SINGLETON_SIZES_MAX = 1024


def _singletons_survive(probe: "TDigest", n: int) -> bool:
    """Would a single merge pass over n unit-weight samples keep every
    sample as its own centroid?  Evaluates the SAME all-singletons
    early-exit predicate ``_cluster_starts`` uses, with the probe's
    working compression."""
    if n > probe._buffer_size - 1:
        # one add_batch must fit the buffer without an overflow merge
        return False
    if n <= 2:
        return True
    total = float(n)
    sc = probe.scale
    normalizer = sc.normalizer(probe.compression, total)
    csum = np.arange(1.0, total + 1.0)
    if probe.use_weight_limit:
        cap2 = total * sc.max_size(csum / total, normalizer)
        return not np.any(cap2[2:] >= 2.0)
    w_lim = total * sc.q(
        sc.k(csum[:-2] / total, normalizer) + 1, normalizer)
    slack = 4 * np.finfo(np.float64).eps
    return not np.any(csum[2:] <= w_lim + slack * np.abs(w_lim))


def try_singleton_blob(values: np.ndarray, compression: float = 100.0,
                       buffer_size: int = -1, scale=K_2) -> bytes | None:
    """VERBOSE partial blob of sorted unit-weight singletons — or None.

    Bit-identical fast path for ``TDigest(compression, buffer_size,
    scale=scale).add_batch(values); to_bytes(compress=False)`` in the
    high-cardinality grouped-aggregation shape (many keys, few samples
    each), where the full path's per-key fixed cost (digest
    construction + merge pass + cluster sweep) measured ~55 us/key vs
    ~3 us for a sort+pack.  Eligibility is decided by the SAME
    all-singletons early-exit predicate ``_cluster_starts`` uses: when
    no adjacent pair of unit weights can merge under the working
    compression, the merge pass provably returns every sample as its
    own centroid, so serializing the sorted samples directly yields the
    exact bytes the full path would (asserted over a sweep in
    tests/test_spark_agg.py).  Returns None when a merge could occur
    (caller falls back to the real digest) — correctness never depends
    on the predicate being tight.

    ``values`` must be non-empty, NaN-free, unit-weight.
    """
    n = values.size
    key = (compression, buffer_size, get_scale(scale).name)
    entry = _SINGLETON_PROBES.get(key)
    if entry is None:
        if len(_SINGLETON_PROBES) >= _SINGLETON_PROBES_MAX:
            _SINGLETON_PROBES.clear()
        entry = _SINGLETON_PROBES[key] = (
            TDigest(compression, buffer_size=buffer_size, scale=scale), {})
    probe, elig_cache = entry
    # eligibility depends only on n for unit weights — memoize it (the
    # predicate costs ~25 us vectorized; group sizes repeat heavily
    # within a task)
    ok = elig_cache.get(n)
    if ok is None:
        if len(elig_cache) >= _SINGLETON_SIZES_MAX:
            elig_cache.clear()
        ok = elig_cache[n] = _singletons_survive(probe, n)
    if not ok:
        return None
    # sorted exactly as the full path's merge pass sorts; a zero
    # min/max is taken as add_batch records it, since either zero may
    # be the extreme
    s = np.sort(values)
    mn, mx = float(s[0]), float(s[-1])
    if mn <= 0.0 <= mx:
        _zeros_in_input_order(s, values)
        if mn == 0.0:
            mn = float(values.min())
        if mx == 0.0:
            mx = float(values.max())
    head = struct.pack(">iddd i", _VERBOSE_ENCODING, mn, mx,
                       probe.public_compression, n)
    pairs = np.empty((n, 2), dtype=">f8")
    pairs[:, 0] = 1.0
    pairs[:, 1] = s
    return head + pairs.tobytes()


def _weighted_average(x1: float, w1: float, x2: float, w2: float) -> float:
    """Clamped weighted average (AbstractTDigest.java:32-52)."""
    if x1 <= x2:
        x = (x1 * w1 + x2 * w2) / (w1 + w2)
        return max(x1, min(x, x2))
    return _weighted_average(x2, w2, x1, w1)


def merge_digests(digests, compression: float | None = None,
                  scale=None, buffer_size: int = -1) -> TDigest:
    """Merge a sequence of digests into a new one
    (MergingDigest.add(List) — MergingDigest.java:307-350): concatenate
    all centroid arrays, then a single merge pass.

    This is the reduce step for distributed aggregation; accuracy bound
    for arbitrary splits per AccuracyTest.java:131-151.
    """
    digests = [d for d in digests if d is not None and d.size > 0]
    if not digests:
        return TDigest(compression or 100.0)
    if compression is None:
        compression = digests[0].public_compression
    if scale is None:
        scale = digests[0].scale
    means, weights = [], []
    mn, mx = math.inf, -math.inf
    total_centroids = 0
    for d in digests:
        d._flush()
        if d._ncentroids:
            means.append(d._mean[:d._ncentroids])
            weights.append(d._weight[:d._ncentroids])
            mn = min(mn, d._min)
            mx = max(mx, d._max)
            total_centroids += d._ncentroids
    # size the temp buffer to swallow every incoming centroid in ONE
    # merge pass, like the reference add(List) (MergingDigest.java:307-350)
    if buffer_size == -1:
        buffer_size = max(total_centroids + int(4 * compression) + 64, 2048)
    out = TDigest(compression, buffer_size=buffer_size, scale=scale)
    if means:
        out.add_centroids(np.concatenate(means), np.concatenate(weights),
                          mn, mx)
    return out


def merge_blobs(blobs, compression: float | None = None, scale=None,
                buffer_size: int = -1) -> TDigest:
    """Merge SERIALIZED digests without constructing a TDigest per blob.

    Semantically identical to
    ``merge_digests([TDigest.from_bytes(b) for b in blobs])`` but the
    per-blob work is one header unpack + one zero-copy ``frombuffer``
    view — no object construction, no per-digest flush.  This is the
    stage-2 hot path: a grouped aggregation at P partitions x K keys
    merges P blobs per key, so blob decode dominates the reduce.
    """
    means, weights = [], []
    mn, mx = math.inf, -math.inf
    comp = None
    total_centroids = 0
    for buf in blobs:
        (encoding,) = struct.unpack_from(">i", buf, 0)
        if encoding == _VERBOSE_ENCODING:
            bmn, bmx, bcomp, n = struct.unpack_from(">dddi", buf, 4)
            pairs = np.frombuffer(buf, dtype=">f8", count=2 * n,
                                  offset=32).reshape(n, 2)
        elif encoding == _SMALL_ENCODING:
            bmn, bmx, bcomp, _sz, _bsz, n = struct.unpack_from(
                ">ddfhhh", buf, 4)
            pairs = np.frombuffer(buf, dtype=">f4", count=2 * n,
                                  offset=30).reshape(n, 2)
        else:
            raise ValueError(f"Invalid serialized digest format {encoding}")
        if n == 0:
            # skip before capturing comp so an empty first blob can't
            # dictate the fallback compression (matches merge_digests,
            # which filters size()>0 first)
            continue
        if comp is None:
            comp = float(bcomp)
        weights.append(pairs[:, 0])
        means.append(pairs[:, 1])
        mn = min(mn, bmn)
        mx = max(mx, bmx)
        total_centroids += n
    if compression is None:
        compression = comp or 100.0
    if scale is None:
        scale = K_2
    if buffer_size == -1:
        buffer_size = max(total_centroids + int(4 * compression) + 64, 2048)
    out = TDigest(compression, buffer_size=buffer_size, scale=scale)
    if total_centroids:
        out.add_centroids(
            np.ascontiguousarray(np.concatenate(means), dtype=np.float64),
            np.ascontiguousarray(np.concatenate(weights), dtype=np.float64),
            mn, mx)
    return out
