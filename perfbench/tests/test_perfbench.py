"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, inputs, layers, ops  # noqa: E402
from t_digest_spark.sources.tables import _gen_chunk  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "small_eventlog.jsonl")
SMALL = {"latency_by_hour": {"convs": 800},
         "sketch_mix": {"rows": 6_000, "keys": 40}}


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tables(path):
    return {d: pq.read_table(os.path.join(path, d))
            for d in sorted(os.listdir(path)) if d.endswith(".parquet")}


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, ex_a, _ = inputs.prepare(str(tmp_path / "a"), workload, 7,
                                SMALL[workload])
    b, ex_b, _ = inputs.prepare(str(tmp_path / "b"), workload, 7,
                                SMALL[workload])
    c, ex_c, _ = inputs.prepare(str(tmp_path / "c"), workload, 8,
                                SMALL[workload])
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    assert ta.keys() == tb.keys() and all(ta[k].equals(tb[k]) for k in ta)
    assert ex_a.keys() == ex_b.keys()
    assert all(np.array_equal(ex_a[k], ex_b[k]) for k in ex_a)
    assert not all(ta[k].equals(tc[k]) for k in ta)


def test_cache_reuses_and_evicts(tmp_path):
    cache = str(tmp_path)
    for seed in range(inputs.KEEP + 2):
        inputs.prepare(cache, "sketch_mix", seed, SMALL["sketch_mix"])
    assert len(os.listdir(cache)) == inputs.KEEP
    path, _, gen_s = inputs.prepare(cache, "sketch_mix", inputs.KEEP + 1,
                                    SMALL["sketch_mix"])
    again = inputs.prepare(cache, "sketch_mix", inputs.KEEP + 1,
                           SMALL["sketch_mix"])
    assert again[0] == path and again[2] == gen_s


def test_transcripts_are_conv_clustered_and_oracle_matches(tmp_path):
    path, exact, _ = inputs.prepare(str(tmp_path), "latency_by_hour", 3,
                                    SMALL["latency_by_hour"])
    tdir = os.path.join(path, "transcripts.parquet")
    files = sorted(os.listdir(tdir))
    assert len(files) == inputs.TRANSCRIPT_FILES
    lat_all, key_all = [], []
    for f in files:
        df = pq.read_table(os.path.join(tdir, f)).to_pandas()
        # every file starts a conversation; rows sorted (conv, turn)
        assert df["turn_idx"].iloc[0] == 0
        index = df.set_index(["conv_id", "turn_idx"]).index
        assert index.is_monotonic_increasing
        # each file is the library's own generator chunk
        gen = _gen_chunk(int(f[5:10]), 800 // inputs.TRANSCRIPT_FILES, 3,
                         with_text=False)
        assert (df["conv_id"] == gen["conv_id"]).all()
        assert (df["role"] == gen["role"]).all()
        us = df["ts"].astype("int64").to_numpy()
        assert np.array_equal(us, gen["ts"].to_numpy().astype(np.int64))
        sec = us / 1e6
        same = (df["conv_id"].to_numpy()[1:] == df["conv_id"].to_numpy()[:-1])
        lat = sec[1:] - sec[:-1]
        hour = us[1:] // 3_600_000_000 * 3600
        lat_all.append(lat[same])
        key_all += list(zip(df["role"].to_numpy()[1:][same], hour[same]))
    lat_all = np.concatenate(lat_all)
    by_key: dict = {}
    for k, v in zip(key_all, lat_all):
        by_key.setdefault((k[0], int(k[1])), []).append(v)
    off = exact["offsets"]
    got = {(str(r), int(h)): exact["values"][off[i]:off[i + 1]]
           for i, (r, h) in enumerate(zip(exact["key_role"],
                                          exact["key_hour_s"]))}
    assert got.keys() == by_key.keys()
    for k, v in by_key.items():
        assert np.array_equal(got[k], np.sort(v))
    assert int(exact["records"]) == sum(
        pq.read_metadata(os.path.join(tdir, f)).num_rows for f in files)


def test_events_oracle_matches_brute_force(tmp_path):
    from t_digest_spark.functions.histogram import FloatHistogram

    path, exact, _ = inputs.prepare(str(tmp_path), "sketch_mix", 5,
                                    SMALL["sketch_mix"])
    df = pq.read_table(os.path.join(path, "events.parquet")).to_pandas()
    for key, g in df.groupby("key"):
        vals = g["value"].dropna().to_numpy()
        off = exact["offsets"]
        assert np.array_equal(exact["values"][off[key]:off[key + 1]],
                              np.sort(vals))
        users = g["user"].dropna()
        assert exact["distinct"][key] == users.nunique()
        assert exact["user_rows"][key] == users.size
        h = FloatHistogram(inputs.HIST_MIN, inputs.HIST_MAX, inputs.HIST_BPD)
        h.add(vals)
        assert np.array_equal(exact["hist_counts"][key], h.get_counts())


def test_rank_error_grid():
    values = np.arange(10.0)
    # exact order statistics and a value between neighbours are within
    # one rank step; a far value is not
    assert ops.rank_err_to_bound(values, [0.5], [5.0], 0.0) == 0.0
    assert ops.rank_err_to_bound(values, [0.5], [4.5], 0.0) <= 1.0
    assert ops.rank_err_to_bound(values, [0.5], [8.0], 0.0) == \
        pytest.approx(0.3 / 0.1)
    bounds = ops.tdigest_bounds(1000, ops.LATENCY_QS)
    assert bounds[0] > bounds[1] > bounds[2] > 0


def test_parser_on_fixture_event_log():
    table = eventlog.parse(FIXTURE)
    assert set(table) == {"w|op0|q", "w|phase|q|scan"}
    assert table["w|op0|q"]["jobs"] == 2
    assert [s["id"] for s in table["w|op0|q"]["stages"]] == [0, 3]
    m = eventlog.action_metrics(table, {"w|op0|q": (999.9, 1002.5)}, 4)
    assert m["stage1.wall_s"] == pytest.approx(1.0)
    assert m["stage1.task_s"] == pytest.approx(1.0)
    assert m["stage1.tasks"] == 2
    assert m["stage1.occupancy"] == pytest.approx(0.25)
    assert m["stage2.wall_s"] == pytest.approx(1.0)
    assert m["stage2.task_s"] == pytest.approx(1.2)
    assert m["stage2.tasks"] == 3
    assert m["stage2.task_skew"] == pytest.approx(4.5)
    assert m["exchange.rows"] == 30
    assert m["exchange.bytes"] == 3000
    assert m["exchange.reduce_tasks"] == 3
    assert m["driver.jobs"] == 2
    assert m["driver.stages"] == 2
    assert m["driver.gap_s"] == pytest.approx(0.6)


def test_end_to_end_bounds():
    bench = _bench()
    for m in bench["end_to_end"]:
        assert 0 <= m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_workloads_and_predictions_are_recorded():
    bench = _bench()
    assert {w["name"] for w in bench["workloads"]} == set(ops.WORKLOADS)
    assert all(w["why"].strip() for w in bench["workloads"])
    for name in (m["name"] for m in bench["per_layer"]):
        assert any(name.startswith(p[0]) for p in layers.PREDICTIONS), name


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    bench = _bench()
    proc = subprocess.run(
        bench["command"] + ["--workload", bench["workloads"][0]["name"],
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


ORPHAN_SCRIPT = """
import multiprocessing, subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench import probes
probes.adopt_orphans()
# the spawn pool starts multiprocessing's resource tracker
with multiprocessing.get_context("spawn").Pool(1) as pool:
    pool.map(abs, [1])
    pool.close()
    pool.join()
# a grandchild whose parent exits at once: an orphan
subprocess.run(["sh", "-c", "sleep 600 & exit 0"], check=True)
assert len(probes.descendants(multiprocessing.current_process().pid)) >= 2
probes.stop_descendants(timeout=5)
print(len(probes.descendants(multiprocessing.current_process().pid)))
"""


def test_stop_descendants_leaves_nothing_running():
    """The resource tracker and an orphaned grandchild both end."""
    proc = subprocess.run([sys.executable, "-c", ORPHAN_SCRIPT, ROOT],
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "0"
