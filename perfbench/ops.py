"""The benchmark's workloads: one op each, its exact check, and the
noop-sink prefixes the traced run differences into phase self times.

An op is one or more Spark queries run one after another; each query is
one action whose rows are collected to the driver and checked against
the exact answers from ``inputs``.  ``check`` returns the op's
``err_to_bound`` (worst error over the published bound) and raises
``CheckFailed`` on any wrong answer.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import functions as F

from . import inputs

# Rank-error bounds, per answer.  Answers are ranks on a 1/n grid, so
# one order statistic (1/n) is added to every bound.
# t-digest: the published size limit of its scale function -- every
# centroid spans at most max_size(q) of the rank, k(q_right) - k(q_left)
# <= 1 (Dunning & Ertl) -- so an answer interpolated inside the digest is
# off by at most one maximal centroid at q.  The flat 0.015 of the
# reference merge tests is not used: merged digests of a few hundred
# points per key exceed it at the median by design (0.016-0.024 seen).
TDIGEST_COMPRESSION = 100.0
TDIGEST_SCALE = "K_2"
# KLL: single-quantile normalized rank error at 99% confidence for k
# (Karnin-Lang-Liberty, as published with the DataSketches KLL sketch)
KLL_K = 200
KLL_EPS = 2.296 / KLL_K ** 0.9723
# HLL: the published standard error 1.04/sqrt(m) is an RMS statement,
# so it is compared with the RMS relative error over all keys
HLL_P = 12
HLL_STD_ERR = 1.04 / math.sqrt(1 << HLL_P)

LATENCY_QS = (0.5, 0.99, 0.999)
KLL_QS = (0.5, 0.99)


class CheckFailed(Exception):
    pass


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def identity_batches(batches):
    """mapInArrow function that returns its input: the Arrow boundary
    with no kernel behind it."""
    yield from batches


def tdigest_bounds(n: int, qs) -> np.ndarray:
    from t_digest_spark.scale import get_scale

    sc = get_scale(TDIGEST_SCALE)
    return sc.max_size(np.asarray(qs, dtype=np.float64),
                       sc.normalizer(TDIGEST_COMPRESSION, n))


def rank_err_to_bound(values: np.ndarray, qs, xs, bound) -> float:
    """Worst |q - rank(x)| over (bound + 1/n), against exact sorted
    ``values``; rank(x) is the interval [#(< x), #(<= x)] / n."""
    n = values.size
    xs = np.asarray(xs, dtype=np.float64)
    lo = np.searchsorted(values, xs, side="left") / n
    hi = np.searchsorted(values, xs, side="right") / n
    q = np.asarray(qs, dtype=np.float64)
    err = np.maximum(0.0, np.maximum(lo - q, q - hi))
    return float((err / (np.asarray(bound) + 1.0 / n)).max())


class Workload:
    table = ""

    def __init__(self, spark, path: str, exact: dict):
        from t_digest_spark.sources.tables import load_table

        self.src = load_table(spark, path, self.table)
        self.exact = exact
        self.records = int(exact["records"])


def _key_slices(exact):
    off = exact["offsets"]
    return off[:-1], off[1:]


class LatencyByHour(Workload):
    """North-star job: fused clustered-lag latency digests by
    (role, ts_hour), then p50/p99/p999 per key."""

    name = "latency_by_hour"
    table = "transcripts"
    size = {"convs": 90_000}
    queries = ("latency",)

    def __init__(self, spark, path: str, exact: dict):
        super().__init__(spark, path, exact)
        self.index = {(str(r), int(h)): i for i, (r, h) in enumerate(
            zip(exact["key_role"], exact["key_hour_s"]))}
        self.bounds = [tdigest_bounds(int(n), LATENCY_QS)
                       for n in np.diff(exact["offsets"])]

    def _agg(self):
        from t_digest_spark.sources.tables import latency_digests_clustered
        return latency_digests_clustered(
            self.src, ["role", "ts_hour"], compression=TDIGEST_COMPRESSION,
            scale=TDIGEST_SCALE)

    def query(self, q: str):
        from t_digest_spark.operators.extract import quantiles_of
        return self._agg().select(
            "role", F.col("ts_hour").cast("long").alias("hour_s"), "rows",
            quantiles_of("digest", LATENCY_QS).alias("qs"))

    def prefixes(self, q: str) -> dict:
        """Noop-sink prefixes of the query, shortest first, ending with
        the whole query.  The fused kernel has no public partial-only
        entry, so the aggregate is one phase; the boundary ships the
        kernel's own narrowed columns."""
        narrow = self.src.select(F.xxhash64("conv_id").alias("conv_id"),
                               "turn_idx", "role", "ts")
        return {
            "scan": lambda: noop(narrow),
            "boundary": lambda: noop(narrow.mapInArrow(
                identity_batches, narrow.schema)),
            "aggregate": lambda: noop(self._agg()),
            "query": lambda: noop(self.query(q)),
        }

    def check(self, q: str, rows) -> float:
        ex = self.exact
        starts, ends = _key_slices(ex)
        values = ex["values"]
        if len(rows) != len(self.index):
            raise CheckFailed(f"{len(rows)} keys, expected {len(self.index)}")
        worst = 0.0
        for r in rows:
            i = self.index.get((r["role"], r["hour_s"]))
            if i is None:
                raise CheckFailed(f"unexpected key {r['role']}/{r['hour_s']}")
            s, e = starts[i], ends[i]
            if r["rows"] != e - s:
                raise CheckFailed(f"rows {r['rows']} != {e - s}")
            worst = max(worst, rank_err_to_bound(
                values[s:e], LATENCY_QS, r["qs"], self.bounds[i]))
        return worst


class SketchMix(Workload):
    """One dashboard refresh over 300 Zipf-popular keys: KLL p50/p99,
    HLL distinct users and a float histogram, each grouped by key."""

    name = "sketch_mix"
    table = "events"
    size = {"rows": 200_000, "keys": 300}
    queries = ("kll", "hll", "histogram")

    def __init__(self, spark, path: str, exact: dict):
        from t_digest_spark.functions.histogram import FloatHistogram

        super().__init__(spark, path, exact)
        head = FloatHistogram(inputs.HIST_MIN, inputs.HIST_MAX,
                              inputs.HIST_BPD).to_bytes()[:24]
        self.hist_blobs = [head + c.astype(">i8").tobytes()
                           for c in exact["hist_counts"]]

    def _agg(self, q: str):
        from t_digest_spark.functions.histogram import histogram_aggregate
        from t_digest_spark.functions.kll import kll_aggregate
        from t_digest_spark.operators.sketch_agg import sketch_aggregate

        if q == "kll":
            return kll_aggregate(self.src, "value", ["key"], k=KLL_K)
        if q == "hll":
            return sketch_aggregate(self.src, "user", "hll", ["key"],
                                    p=HLL_P)
        return histogram_aggregate(
            self.src, "value", ["key"], min_=inputs.HIST_MIN,
            max_=inputs.HIST_MAX, bins_per_decade=inputs.HIST_BPD)

    def query(self, q: str):
        from t_digest_spark.functions.kll import kll_quantiles_of
        from t_digest_spark.operators.sketch_agg import hll_estimate

        agg = self._agg(q)
        if q == "kll":
            return agg.select("key", "rows",
                              kll_quantiles_of("kll", KLL_QS).alias("qs"))
        if q == "hll":
            return agg.select("key", "rows",
                              hll_estimate("sketch").alias("est"))
        return agg.select("key", "rows", "histogram")

    def prefixes(self, q: str) -> dict:
        """Noop-sink prefixes: the scan and Arrow boundary of the
        columns the aggregate ships, the aggregate, the whole query."""
        col = "user" if q == "hll" else "value"
        narrow = self.src.where(F.col(col).isNotNull()).select("key", col)
        return {
            "scan": lambda: noop(narrow),
            "boundary": lambda: noop(narrow.mapInArrow(
                identity_batches, narrow.schema)),
            "aggregate": lambda: noop(self._agg(q)),
            "query": lambda: noop(self.query(q)),
        }

    def check(self, q: str, rows) -> float:
        ex = self.exact
        starts, ends = _key_slices(ex)
        n_keys = starts.size
        if len(rows) != n_keys:
            raise CheckFailed(f"{q}: {len(rows)} keys, expected {n_keys}")
        if q == "kll":
            worst = 0.0
            for r in rows:
                s, e = starts[r["key"]], ends[r["key"]]
                if r["rows"] != e - s:
                    raise CheckFailed(f"kll rows {r['rows']} != {e - s}")
                worst = max(worst, rank_err_to_bound(
                    ex["values"][s:e], KLL_QS, r["qs"], KLL_EPS))
            return worst
        if q == "hll":
            keys = np.array([r["key"] for r in rows])
            est = np.array([r["est"] for r in rows])
            got_rows = np.array([r["rows"] for r in rows])
            if not np.array_equal(got_rows, ex["user_rows"][keys]):
                raise CheckFailed("hll rows differ from non-null users")
            rel = est / ex["distinct"][keys] - 1.0
            return float(np.sqrt(np.mean(rel * rel))) / HLL_STD_ERR
        for r in rows:
            k = r["key"]
            if r["rows"] != ends[k] - starts[k]:
                raise CheckFailed("histogram rows differ")
            if bytes(r["histogram"]) != self.hist_blobs[k]:
                raise CheckFailed(f"histogram counts differ for key {k}")
        return 0.0


WORKLOADS = {w.name: w for w in (LatencyByHour, SketchMix)}
