"""Single-thread kernel microbenches run in the driver process on the
workload's own value and key shapes (a seeded sample of its exact
per-key data, split into ``parts`` partials per key the way stage 1
splits a key over scan partitions)."""

from __future__ import annotations

import statistics
import time

import numpy as np

SAMPLE = 500_000
KEYS = 200
REPS = 3
COMPRESSION = 100.0


def _per(fn, n: int, scale: float) -> float:
    """Median over REPS of fn()'s wall time, per item, in 1/scale s."""
    ts = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts) / n * scale


def run(exact: dict, parts: int, seed: int) -> dict:
    from t_digest_spark.core import (
        TDigest, merge_blobs, try_singleton_blob,
    )
    from t_digest_spark.functions.histogram import FloatHistogram
    from t_digest_spark.functions.kll import KLLSketch
    from t_digest_spark.functions.sketches import HyperLogLog
    from t_digest_spark.operators.aggregate import DEFAULT_BUFFER

    from . import inputs, ops

    rng = np.random.default_rng((seed, 77))
    values = exact["values"]
    sample = values[rng.choice(values.size, min(SAMPLE, values.size),
                               replace=False)]
    off = exact["offsets"]
    sizes = np.diff(off)
    keys = rng.choice(sizes.size, min(KEYS, sizes.size), replace=False)
    key_parts = []
    for k in keys:
        v = rng.permutation(values[off[k]:off[k + 1]])
        key_parts.append([p for p in np.array_split(v, parts) if p.size])
    out = {}

    # stage 1 builds its digests with the aggregate's buffer size
    def digest():
        return TDigest(COMPRESSION, buffer_size=DEFAULT_BUFFER)

    out["core.add_batch_ns_per_pt"] = _per(
        lambda: digest().add_batch(sample), sample.size, 1e9)

    firsts = [kp[0] for kp in key_parts]
    hits = sum(try_singleton_blob(p, COMPRESSION, DEFAULT_BUFFER) is not None
               for p in firsts)
    out["core.singleton_hit_frac"] = hits / len(firsts)
    out["core.singleton_blob_us_per_key"] = _per(
        lambda: [try_singleton_blob(p, COMPRESSION, DEFAULT_BUFFER)
                 for p in firsts],
        len(firsts), 1e6)

    def blob(p):
        d = digest()
        d.add_batch(p)
        return d.to_bytes()

    blobs = [[blob(p) for p in kp] for kp in key_parts]
    n_blobs = sum(len(b) for b in blobs)
    out["core.merge_blobs_us_per_blob"] = _per(
        lambda: [merge_blobs(b, compression=COMPRESSION) for b in blobs],
        n_blobs, 1e6)
    merged = [merge_blobs(b, compression=COMPRESSION).to_bytes()
              for b in blobs]
    out["core.from_bytes_us"] = _per(
        lambda: [TDigest.from_bytes(b) for b in merged], len(merged), 1e6)
    out["core.quantiles_us_per_key"] = _per(
        lambda: [TDigest.from_bytes(b).quantiles(ops.LATENCY_QS)
                 for b in merged], len(merged), 1e6)
    cents = [TDigest.from_bytes(b).centroid_count() for b in merged]
    out["core.centroids_per_key"] = float(np.mean(cents))
    out["core.centroid_fill_max"] = max(cents) / COMPRESSION

    def kll_update():
        sk = KLLSketch(ops.KLL_K, seed=seed)
        for chunk in np.array_split(sample, 64):
            sk.update(chunk)

    out["kll.update_ns_per_pt"] = _per(kll_update, sample.size, 1e9)

    def kll_blob(p):
        sk = KLLSketch(ops.KLL_K, seed=int(rng.integers(1 << 30)))
        sk.update(p)
        return sk.to_bytes()

    kll_blobs = [[kll_blob(p) for p in kp] for kp in key_parts]

    def kll_merge():
        for bs in kll_blobs:
            sks = [KLLSketch.from_bytes(b) for b in bs]
            for s in sks[1:]:
                sks[0].merge(s)
            sks[0].to_bytes()

    out["kll.merge_us_per_blob"] = _per(kll_merge, n_blobs, 1e6)

    hashes = rng.integers(-(1 << 63), (1 << 63) - 1, size=sample.size,
                          dtype=np.int64)
    out["hll.add_ns_per_hash"] = _per(
        lambda: HyperLogLog(ops.HLL_P).add_hashes(hashes), hashes.size, 1e9)
    out["histogram.add_ns_per_pt"] = _per(
        lambda: FloatHistogram(inputs.HIST_MIN, inputs.HIST_MAX,
                               inputs.HIST_BPD).add(sample),
        sample.size, 1e9)
    return out
