"""The shared sketch scaffold (operators/_arrow_agg.py): one stage-1
build and one whole-partition stage-2 merge for the t-digest, KLL, HLL,
count-min, Bloom and histograms, differentially checked against Spark's
own groupBy and a single-node NumPy fold of the same rows."""

import math

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from t_digest_spark.core import TDigest, try_singleton_blob
from t_digest_spark.functions.histogram import (
    FloatHistogram, histogram_aggregate,
)
from t_digest_spark.functions.kll import KLLSketch, kll_aggregate
from t_digest_spark.functions.sketches import (
    BloomFilter, CountMinSketch, HyperLogLog,
)
from t_digest_spark.operators._arrow_agg import (
    SketchAccumulator, key_groups, partition_merge,
)
from t_digest_spark.operators.aggregate import (
    DEFAULT_BUFFER, DIGEST_FIELD, digest_protocol, partial_digests,
    tdigest_aggregate,
)
from t_digest_spark.operators.sketch_agg import sketch_aggregate
from t_digest_spark.scale import get_scale

from conftest import dist_cdf

KLL_K = 64
KLL_EPS = 3.0 / KLL_K
HIST = dict(kind="float", min_=1e-2, max_=1e3, bins_per_decade=20)
DIGEST_QS = (0.5, 0.99)
KEYS = [float("nan"), -0.0, 0.0, None, 1.5, -2.0, 1e300]


def _kinds():
    """name -> (aggregate(df, group_cols), blob column, empty sketch)."""
    return {
        "digest": (lambda df, g: tdigest_aggregate(df, "v", g), DIGEST_FIELD,
                   TDigest(100.0)),
        "kll": (lambda df, g: kll_aggregate(df, "v", g, k=KLL_K), "kll",
                KLLSketch(KLL_K)),
        "hll": (lambda df, g: sketch_aggregate(df, "item", "hll", g, p=8),
                "sketch", HyperLogLog(8)),
        "cm": (lambda df, g: sketch_aggregate(df, "item", "cm", g,
                                              weight_col="w", width=128,
                                              depth=3),
               "sketch", CountMinSketch(128, 3)),
        "bloom": (lambda df, g: sketch_aggregate(df, "item", "bloom", g,
                                                 m_bits=4096, k=3),
                  "sketch", BloomFilter(4096, 3)),
        "histogram": (lambda df, g: histogram_aggregate(df, "v", g, **HIST),
                      "histogram",
                      FloatHistogram(HIST["min_"], HIST["max_"],
                                     HIST["bins_per_decade"])),
    }


def _canon(k):
    """A Spark group key as a hashable set element (NaN == NaN)."""
    if k is None:
        return "null"
    if math.isnan(k):
        return "nan"
    return k + 0.0  # -0.0 -> 0.0


@pytest.fixture(scope="module")
def rows():
    rng = np.random.default_rng(11)
    out = []
    for i in range(1500):
        k = KEYS[i % len(KEYS)] if i < 2 * len(KEYS) \
            else KEYS[int(rng.integers(len(KEYS)))]
        v = float(rng.gamma(2.0, 3.0))
        r = rng.random()
        if r < 0.05:
            v = None
        elif r < 0.10:
            v = float("nan")
        item = None if rng.random() < 0.05 else int(rng.integers(400))
        out.append((k, v, item, int(rng.integers(1, 5))))
    # one null weight: count-min must drop that row, not add INT64_MIN
    i = next(i for i, r in enumerate(out) if r[2] is not None)
    out[i] = out[i][:3] + (None,)
    return out


@pytest.fixture(scope="module")
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")  # every key spans many Arrow batches
    yield
    spark.conf.set(key, old)


def _digest_rank_err(vals, d):
    """Worst |q - rank(quantile(q))| over DIGEST_QS, as a fraction of the
    K_2 size bound at q (compression 100) plus one order statistic;
    rank(x) is the interval [#(< x), #(<= x)] / n."""
    n = vals.size
    qs = np.asarray(DIGEST_QS)
    sc = get_scale("K_2")
    bound = sc.max_size(qs, sc.normalizer(100.0, n)) + 1.0 / n
    xs = np.array([d.quantile(q) for q in qs])
    lo = np.searchsorted(vals, xs, side="left") / n
    hi = np.searchsorted(vals, xs, side="right") / n
    return float((np.maximum(0.0, np.maximum(lo - qs, qs - hi))
                  / bound).max())


def _fold(kind, empty, rows_of_key, hashes):
    """Single-node fold of one key's rows -> (sketch bytes, rows)."""
    if kind == "histogram":
        vals = np.array([v for _, v, _, _ in rows_of_key
                         if v is not None and not math.isnan(v)])
        h = FloatHistogram(HIST["min_"], HIST["max_"],
                           HIST["bins_per_decade"])
        h.add(vals)
        return h.to_bytes(), vals.size
    kept = [(hashes[it], w) for _, _, it, w in rows_of_key
            if it is not None and (kind != "cm" or w is not None)]
    h = np.array([x for x, _ in kept], dtype=np.int64)
    sk = type(empty).from_bytes(empty.to_bytes())
    if kind == "cm":
        sk.add_hashes(h, np.array([w for _, w in kept], dtype=np.int64))
    else:
        sk.add_hashes(h)
    return sk.to_bytes(), h.size


@pytest.mark.parametrize("parts", [1, 4])
def test_scaffold_matches_groupby_and_fold(spark, rows, small_batches,
                                           parts):
    df = spark.createDataFrame(
        rows, "k double, v double, item long, w long").repartition(parts)
    spark_keys = {_canon(r.k) for r in df.groupBy("k").count().collect()}
    assert spark_keys == {_canon(k) for k in KEYS}
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(_canon(r[0]), []).append(r)
    items = sorted({r[2] for r in rows if r[2] is not None})
    hashes = dict(zip(items, spark.createDataFrame(
        [(i,) for i in items], "item long").select(
            F.xxhash64("item").alias("h")).toPandas()["h"]))

    for kind, (agg, field, empty) in _kinds().items():
        out = agg(df, ["k"]).collect()
        got = {_canon(r.k): r for r in out}
        assert len(got) == len(out), kind  # one row per Spark key
        assert set(got) == spark_keys, kind
        for key, r in got.items():
            if kind in ("digest", "kll"):
                vals = np.sort([v for _, v, _, _ in by_key[key]
                                if v is not None and not math.isnan(v)])
                assert r.rows == vals.size
            if kind == "digest":
                d = TDigest.from_bytes(bytes(r[field]))
                assert d.size == vals.size
                assert _digest_rank_err(vals, d) <= 1.0, key
                continue
            if kind == "kll":
                sk = KLLSketch.from_bytes(bytes(r[field]))
                assert sk.n == vals.size
                for q in (0.1, 0.5, 0.9):
                    assert abs(dist_cdf(sk.quantile(q), vals) - q) \
                        < KLL_EPS, (key, q)
                continue
            blob, n = _fold(kind, empty, by_key[key], hashes)
            assert r.rows == n, (kind, key)
            assert bytes(r[field]) == blob, (kind, key)


def test_global_empty_input_one_row(spark):
    df = spark.createDataFrame([], "v double, item long, w long")
    kinds = _kinds()
    for kind, (agg, field, empty) in kinds.items():
        out = agg(df, []).collect()
        assert len(out) == 1, kind
        assert out[0].rows == 0
        assert bytes(out[0][field]) == empty.to_bytes(), kind


def test_global_aggregate_folds_every_partition(spark, rows):
    df = spark.createDataFrame(
        rows, "k double, v double, item long, w long").repartition(4)
    agg, field, _ = _kinds()["histogram"]
    out = agg(df, []).collect()
    assert len(out) == 1
    vals = np.array([r[1] for r in rows
                     if r[1] is not None and not math.isnan(r[1])])
    h = FloatHistogram(HIST["min_"], HIST["max_"], HIST["bins_per_decade"])
    h.add(vals)
    assert out[0].rows == vals.size
    assert bytes(out[0][field]) == h.to_bytes()


def test_merge_kernel_dictionary_float_keys():
    """Dictionary-encoded double keys are canonicalized by their value
    type: NaN, -0.0/0.0 fold across batches into one row per Spark key."""
    t = pa.dictionary(pa.int32(), pa.float64())
    nan = float("nan")
    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array(k, type=t), pa.array(s),
             pa.array(r, type=pa.int64())], names=["k", "s", "rows"])
        for k, s, r in (
            ([nan, -0.0, 0.0, 1.0, None],
             [b"a0", b"a1", b"a2", b"a3", b"a4"], [1, 2, 3, 4, 5]),
            ([0.0, nan, -0.0, 2.0, nan],
             [b"b0", b"b1", b"b2", b"b3", b"b4"], [10, 20, 30, 40, 50]))]
    gen = partition_merge(["k"], "s", lambda bl: b"|".join(sorted(bl)))
    (out,) = list(gen(iter(batches)))
    got = {_canon(k): (s, r) for k, s, r in zip(
        out.column(0).to_pylist(), out.column(1).to_pylist(),
        out.column(2).to_pylist())}
    assert out.num_rows == len(got) == 5
    assert got == {
        "nan": (b"a0|b1|b4", 1 + 20 + 50),
        0.0: (b"a1|a2|b0|b2", 2 + 3 + 10 + 30),
        1.0: (b"a3", 4),
        2.0: (b"b3", 40),
        "null": (b"a4", 5),
    }
    # the emitted zero key is +0.0, as Spark's groupBy normalizes it
    assert [math.copysign(1.0, k) for k in out.column(0).to_pylist()
            if k == 0.0] == [1.0]


def test_digest_build_dictionary_float_keys():
    """The digest's stage-1 build canonicalizes dictionary-encoded double
    keys the same way (stage 1 emits one row per Spark key)."""
    acc = SketchAccumulator(["k"], DIGEST_FIELD,
                            **digest_protocol(100.0, "K_2", 1 << 16))
    t = pa.dictionary(pa.int32(), pa.float64())
    for keys in ([float("nan"), -0.0, 0.0, 1.0], [0.0, float("nan"), -0.0]):
        acc.update(pa.RecordBatch.from_arrays(
            [pa.array(keys, type=t),
             pa.array(np.arange(len(keys), dtype=np.float64))],
            names=["k", "v"]))
    out = acc.finish()
    got = dict(zip(map(_canon, out.column(0).to_pylist()),
                   out.column(2).to_pylist()))
    assert out.num_rows == 3
    assert got == {"nan": 2, 0.0: 4, 1.0: 1}


def test_digest_build_bytes_equal_full_path():
    """Through the shared build, every digest partial is byte-for-byte
    ``TDigest(...).add_batch(v); to_bytes(compress=False)`` of its key's
    kept values: small keys (singleton encoder), a key the singleton
    encoder declines, and a key whose rows pass the buffer."""
    buf = 1 << 10
    rng = np.random.default_rng(7)
    sizes = {0: 5, 1: 40, 2: 110, 3: 600, 4: 3 * buf}
    keys = np.concatenate([np.full(n, k) for k, n in sizes.items()])
    rng.shuffle(keys)
    vals = rng.normal(size=keys.size)
    vals[rng.random(keys.size) < 0.1] = 0.0
    vals[rng.random(keys.size) < 0.1] = -0.0
    vals[rng.random(keys.size) < 0.05] = np.nan
    acc = SketchAccumulator(["k"], DIGEST_FIELD,
                            **digest_protocol(100.0, "K_2", buf))
    for i in range(0, keys.size, 97):
        acc.update(pa.RecordBatch.from_arrays(
            [pa.array(keys[i:i + 97]), pa.array(vals[i:i + 97])],
            names=["k", "v"]))
    out = acc.finish()
    got = dict(zip(out.column(0).to_pylist(), zip(
        out.column(1).to_pylist(), out.column(2).to_pylist())))
    assert sorted(got) == sorted(sizes)
    singleton = 0
    for k in sizes:
        v = vals[(keys == k) & ~np.isnan(vals)]
        d = TDigest(100.0, buffer_size=buf, scale="K_2")
        d.add_batch(v)
        assert got[k] == (d.to_bytes(compress=False), v.size), k
        singleton += try_singleton_blob(v, 100.0, buf, "K_2") is not None
    assert 0 < singleton < len(sizes)


def test_key_groups_wide_int_keys_do_not_collide():
    """Four int64 key columns of 60,000 distinct values each: the packed
    per-column codes pass 2^63, and every row must stay its own group."""
    rng = np.random.default_rng(0)
    n = 60_000
    cols = [rng.permutation(n) for _ in range(4)]
    order, starts, ends, keys, _ = key_groups(
        [pa.array(c) for c in cols], n, False)
    assert len(keys) == n
    assert ends == [s + 1 for s in starts]
    assert keys == [tuple(int(c[j]) for c in cols) for j in order[starts]]


def test_weighted_digest_drops_bad_weights(spark, small_batches):
    """Rows whose weight is null, NaN, 0 or negative are dropped from the
    weighted digest; the rest fold as a single-node weighted digest."""
    rng = np.random.default_rng(13)
    bad = [None, float("nan"), 0.0, -1.5]
    data = []
    for i in range(400):
        w = bad[i % 4] if i % 5 == 0 else float(rng.integers(1, 5))
        data.append((i % 3, float(rng.gamma(2.0, 3.0)), w))
    df = spark.createDataFrame(data, "k long, v double, w double") \
        .coalesce(1)
    got = {r.k: r for r in partial_digests(
        df, "v", ["k"], weight_col="w").collect()}
    merged = {r.k: r for r in tdigest_aggregate(
        df.repartition(4), "v", ["k"], weight_col="w").collect()}
    assert sorted(got) == sorted(merged) == [0, 1, 2]
    for k in range(3):
        kept = [(v, w) for kk, v, w in data
                if kk == k and w is not None and w > 0]
        assert 0 < len(kept) < sum(kk == k for kk, _, _ in data)
        v, w = (np.array(x) for x in zip(*kept))
        d = TDigest(100.0, buffer_size=DEFAULT_BUFFER, scale="K_2")
        d.add_batch(v, w)
        assert got[k].rows == merged[k].rows == v.size
        assert bytes(got[k].digest) == d.to_bytes(compress=False)
        assert TDigest.from_bytes(bytes(merged[k].digest)).size \
            == w.sum()
