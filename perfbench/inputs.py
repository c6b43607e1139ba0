"""Seeded inputs and their exact answers, cached on disk.

Every input is a pure function of (workload, seed, size).  Tables are
written as parquet directories readable by ``sources.tables.load_table``;
the exact per-key answers are computed once here with NumPy and stored
beside them, so an op's correctness check only looks answers up.

Cache layout: ``<cache>/<workload>-s<seed>-<size>/`` holding
``<table>.parquet/part-NNNNN.parquet``, ``exact.npz`` and ``DONE``
(generation seconds).  Only the newest ``KEEP`` entries are kept.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

KEEP = 4

TRANSCRIPT_FILES = 16
EVENT_FILES = 8

# events: histogram parameters shared by the op and the oracle
HIST_MIN, HIST_MAX, HIST_BPD = 1e-3, 1e6, 50
NULL_FRAC = 0.01


def _transcript_file(args) -> tuple:
    """Write generator chunk ``f`` as one parquet file; return its
    exact latencies with their role code and hour (epoch seconds)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from t_digest_spark.sources.tables import _ROLES, _gen_chunk

    f, convs_per_file, seed, tdir = args
    df = _gen_chunk(f, convs_per_file, seed, with_text=False)
    table = pa.Table.from_pandas(df, preserve_index=False)
    i = table.schema.get_field_index("ts")
    table = table.set_column(i, "ts", table["ts"].cast(
        pa.timestamp("us", tz="UTC")))
    # one row group, so no scan split starts mid-conversation
    pq.write_table(table, os.path.join(tdir, f"part-{f:05d}.parquet"),
                   row_group_size=max(1, table.num_rows))

    us = df["ts"].to_numpy().astype(np.int64)
    sec = us / 1e6
    conv = df["conv_id"].to_numpy()
    same = conv[1:] == conv[:-1]
    role = pd.Categorical(df["role"].to_numpy()[1:][same],
                          categories=_ROLES).codes
    return ((sec[1:] - sec[:-1])[same], role,
            us[1:][same] // 3_600_000_000 * 3600, table.num_rows)


def _transcripts(seed: int, n_convs: int, out: str) -> dict:
    """The library's own synthetic transcripts
    (``sources.tables._gen_chunk``, without text), one parquet file per
    generator chunk, written by one process per core: rows sorted by
    (conv_id, turn_idx) inside each file and no conversation spanning
    two files -- the clustered-lag contract.  The exact latencies repeat
    the kernel's arithmetic on the stored whole-microsecond timestamps:
    double(us / 1e6), then subtract."""
    import multiprocessing

    from t_digest_spark.sources.tables import _ROLES

    tdir = os.path.join(out, "transcripts.parquet")
    os.makedirs(tdir)
    jobs = [(f, n_convs // TRANSCRIPT_FILES, seed, tdir)
            for f in range(TRANSCRIPT_FILES)]
    procs = min(len(os.sched_getaffinity(0)), TRANSCRIPT_FILES)
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        parts = pool.map(_transcript_file, jobs, chunksize=1)
        pool.close()
        pool.join()
    lat, role, hour_s = (np.concatenate([p[i] for p in parts])
                         for i in range(3))
    order = np.lexsort((lat, hour_s, role))
    lat, role, hour_s = lat[order], role[order], hour_s[order]
    first = np.flatnonzero(np.concatenate(
        ([True], (role[1:] != role[:-1]) | (hour_s[1:] != hour_s[:-1]))))
    return {
        "key_role": _ROLES[role[first]].astype(str),
        "key_hour_s": hour_s[first].astype(np.int64),
        "offsets": np.append(first, lat.size).astype(np.int64),
        "values": lat,
        "records": np.int64(sum(p[3] for p in parts)),
    }


def _events(seed: int, n_rows: int, n_keys: int, out: str) -> dict:
    """Dashboard events: Zipf(1.0)-popular keys, a heavy-tailed gamma
    value and a user id, each nullable at NULL_FRAC."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from t_digest_spark.functions.histogram import FloatHistogram

    rng = np.random.default_rng((seed, 1 << 20))
    p = 1.0 / np.arange(1, n_keys + 1)
    key = rng.choice(n_keys, size=n_rows, p=p / p.sum()).astype(np.int64)
    value = rng.gamma(2.0, 50.0, size=n_rows)
    value_null = rng.random(n_rows) < NULL_FRAC
    user = rng.integers(0, 1 << 40, size=n_rows)
    # a key's users repeat: draw from a per-key pool of ~rows/2 ids
    user = (key << 40) | (user % np.maximum(
        np.bincount(key, minlength=n_keys)[key] // 2, 1))
    user_null = rng.random(n_rows) < NULL_FRAC
    table = pa.table({
        "key": pa.array(key),
        "value": pa.array(value, mask=value_null),
        "user": pa.array(user, mask=user_null),
    })
    edir = os.path.join(out, "events.parquet")
    os.makedirs(edir)
    step = -(-n_rows // EVENT_FILES)
    for f in range(EVENT_FILES):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(edir, f"part-{f:05d}.parquet"))

    ok = ~value_null
    order = np.lexsort((value[ok], key[ok]))
    k_sorted, v_sorted = key[ok][order], value[ok][order]
    offsets = np.searchsorted(k_sorted, np.arange(n_keys + 1))

    # user ids already carry their key in the high bits
    distinct = np.bincount(np.unique(user[~user_null]) >> 40,
                           minlength=n_keys)
    user_rows = np.bincount(key[~user_null], minlength=n_keys)

    h = FloatHistogram(HIST_MIN, HIST_MAX, HIST_BPD)
    nb = len(h.counts)
    counts = np.bincount(key[ok] * nb + h.bucket(value[ok]),
                         minlength=n_keys * nb).reshape(n_keys, nb)
    return {
        "offsets": offsets.astype(np.int64),
        "values": v_sorted,
        "distinct": distinct.astype(np.int64),
        "user_rows": user_rows.astype(np.int64),
        "hist_counts": counts.astype(np.int64),
        "records": np.int64(n_rows),
    }


GENERATORS = {
    "latency_by_hour": lambda seed, size, out: _transcripts(
        seed, size["convs"], out),
    "sketch_mix": lambda seed, size, out: _events(
        seed, size["rows"], size["keys"], out),
}


def prepare(cache: str, workload: str, seed: int, size: dict):
    """Return (input dir, exact answers, generation seconds), generating
    on a cache miss."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    path = os.path.join(cache, f"{workload}-s{seed}-{tag}")
    done = os.path.join(path, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        exact = GENERATORS[workload](seed, size, tmp)
        np.savez(os.path.join(tmp, "exact.npz"), **exact)
        with open(os.path.join(tmp, "DONE"), "w") as fh:
            json.dump({"gen_s": time.perf_counter() - t0}, fh)
        os.rename(tmp, path)
        _evict(cache, keep=path)
    os.utime(done)
    with open(done) as fh:
        gen_s = json.load(fh)["gen_s"]
    with np.load(os.path.join(path, "exact.npz")) as z:
        exact = {k: z[k] for k in z.files}
    return path, exact, gen_s


def _evict(cache: str, keep: str) -> None:
    entries = [os.path.join(cache, d) for d in os.listdir(cache)]
    entries = [d for d in entries
               if os.path.exists(os.path.join(d, "DONE")) and d != keep]
    entries.sort(key=lambda d: os.path.getmtime(os.path.join(d, "DONE")))
    for d in entries[:max(0, len(entries) - (KEEP - 1))]:
        shutil.rmtree(d, ignore_errors=True)
