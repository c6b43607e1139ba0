"""Sketch-job benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload latency_by_hour --seed 1 \
        --seconds 12 --trace 0

Builds seeded inputs (cached under .perfbench/ by workload, seed and
size), sets up the Spark session from a fresh JVM, then runs whole ops
one at a time for --seconds, checking every answer against the exact
oracle.  Every process the run starts has ended before the result line
is printed, on every way out.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.

The traced run times a few ops in an untraced session, then repeats
them in a session writing a Spark event log, with spans recorded around
every public call and noop-sink phase; spans and the parsed stage table
go to .perfbench/traces/.  Metric names, units and the workloads'
purposes are read from BENCHMARK.json; layers.py says which end-to-end
metric each per-layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# The first op of a fresh JVM is cold (codegen, JIT, Python UDF workers)
# and is timed on its own (first_op_s in the record, session.first_op_s
# in the traced run).  The second is still warming (~25% slower than the
# third), so job_s is the median of at least WARM_OPS ops after the
# first: a fixed count keeps that median off the warming op.
WARM_OPS = 3
# ops per session of the traced run (cold, warming, warm); per-layer
# metrics and the tracing overhead come from the last one
TRACE_OPS = 3


def _declared(kind: str) -> dict:
    """{name: unit} of the ``kind`` metrics ("end_to_end" or
    "per_layer") that BENCHMARK.json declares; every one is printed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_heap() -> str:
    """A quarter of MemTotal, within [1, 8] GiB: the box is shared."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh
                  if line.startswith("MemTotal:"))
    return f"{min(max(kb // 4096, 1024), 8192)}m"


def _environment() -> None:
    """Worker PYTHONPATH, local and temp dirs must be in the environment
    the JVM (and through it every Python worker) inherits; all of them
    stay inside the checkout.  Without -XX:-UsePerfData every JVM (the
    launcher spark-submit starts first, then the driver) writes a
    counters file under /tmp."""
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    opts = os.environ.get("SPARK_LAUNCHER_OPTS")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData" + (
        " " + opts if opts else "")
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(WORK, sub)
        os.makedirs(os.environ[var], exist_ok=True)


def start_session(cores: int, event_dir: str | None):
    """build_session, then one task per core through a Python worker.
    Returns (spark, build seconds, warm-up seconds)."""
    from perfbench.ops import identity_batches
    from t_digest_spark import session

    confs = {
        "spark.driver.memory": _driver_heap(),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -Djava.io.tmpdir=" + os.environ["TMPDIR"],
    }
    if event_dir:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # a fresh process would redo build_session's memoized probes too
    for memo in vars(session).values():
        if hasattr(memo, "cache_clear"):
            memo.cache_clear()
    t0 = time.perf_counter()
    spark = session.build_session(f"local[{cores}]", cores,
                                  app_name="perfbench", **confs)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(0, cores, 1, cores)
    df.mapInArrow(identity_batches, df.schema).write.format("noop") \
        .mode("overwrite").save()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM and the Python
    workers it started to exit, so the next set-up starts from nothing."""
    from pyspark import SparkContext

    from perfbench.probes import descendants, wait_gone

    gw = SparkContext._gateway
    kids = descendants(gw.proc.pid)
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=120)
    wait_gone(kids)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def run_op(w, spark, spans, op_id: str) -> tuple[bool, float]:
    """One op: every query collected and checked.  Returns (ok,
    err_to_bound); a raised error or failed check is not ok."""
    from perfbench.ops import CheckFailed

    sc = spark.sparkContext
    worst = 0.0
    try:
        for q in w.queries:
            tag = f"{w.name}|{op_id}|{q}"
            sc.setJobDescription(tag)
            with spans.span(tag, op_id):
                with spans.span(f"{tag}|action", op_id):
                    rows = w.query(q).collect()
                with spans.span(f"{tag}|check", op_id):
                    err = w.check(q, rows)
                worst = max(worst, err)
                if not err <= 1.0:  # also catches NaN answers
                    raise CheckFailed(f"{q}: err_to_bound {err:.3f} > 1")
    except CheckFailed as e:
        print(f"check failed: {e}", file=sys.stderr)
        return False, worst
    except Exception as e:  # noqa: BLE001 — an op that raises is counted
        print(f"op raised: {e!r}", file=sys.stderr)
        return False, worst
    finally:
        sc.setJobDescription(None)
    return True, worst


def timed_ops(w, spark, spans, seconds: float, min_ops: int,
              prefix: str = "op"):
    """Closed loop: the next op starts when the previous one returns,
    until ``seconds`` have passed and ``min_ops`` ops ran."""
    times, errs, failed = [], [], 0
    t_end = time.perf_counter() + seconds
    while len(times) < min_ops or time.perf_counter() < t_end:
        op_id = f"{prefix}{len(times)}"
        with spans.span(op_id, op_id) as sp:
            ok, err = run_op(w, spark, spans, op_id)
        times.append(sp["end"] - sp["start"])
        errs.append(err)
        failed += not ok
    return times, errs, failed


def untraced(wl, path, exact, cores, seconds) -> dict:
    from perfbench import probes

    # one set-up per run: a second from a fresh JVM would cost ~16 s of
    # a ~55 s run on a 4-core host; the median over runs steadies setup_s
    spark, start_s, warm_s = start_session(cores, None)
    w = wl(spark, path, exact)
    spans = probes.Spans(False)
    with probes.WorkerRss(_jvm_pid()) as rss:
        first, errs0, failed0 = timed_ops(w, spark, spans, 0, 1,
                                          prefix="first")
        times, errs, failed = timed_ops(w, spark, spans, seconds, WARM_OPS)
    stop_session(spark)
    job_s = statistics.median(times)
    n = len(first) + len(times)
    failed += failed0
    values = {
        "job_s": job_s,
        "rows_per_s": w.records / job_s,
        "err_to_bound": statistics.median(errs0 + errs),
        "worker_peak_rss_mb": rss.peak_mb,
        "setup_s": start_s + warm_s,
        "ok_frac": (n - failed) / n,
    }
    metrics = {k: (values[k], unit)
               for k, unit in _declared("end_to_end").items()}
    info = {"job_s_samples": times, "first_op_s": first[0],
            "err_to_bound_samples": errs0 + errs}
    return {"attempted": n, "failed": failed, "metrics": metrics,
            "info": info}


def traced(wl, path, exact, cores, seed) -> dict:
    from perfbench import eventlog, micro, probes

    # A: untraced session, the base of the tracing overhead
    spark, start_s, warm_s = start_session(cores, None)
    w = wl(spark, path, exact)
    base, _, failed_a = timed_ops(w, spark, probes.Spans(False), 0,
                                  TRACE_OPS, prefix="base")
    stop_session(spark)

    # B: traced session
    event_dir = os.path.join(WORK, "eventlog", f"{wl.name}-s{seed}-"
                             f"{int(time.time())}")
    os.makedirs(event_dir)
    spark, _, _ = start_session(cores, event_dir)
    sc = spark.sparkContext
    w = wl(spark, path, exact)
    spans = probes.Spans(True)
    times, errs, failed_b = timed_ops(w, spark, spans, 0, TRACE_OPS)
    # phases after the ops, so the JVM is as warm as for a timed op
    phase = {}
    for q in w.queries:
        for name, fn in w.prefixes(q).items():
            tag = f"{w.name}|phase|{q}|{name}"
            sc.setJobDescription(tag)
            with spans.span(tag, "phase") as sp:
                fn()
            phase[(q, name)] = sp["end"] - sp["start"]
        sc.setJobDescription(None)
    app_id = sc.applicationId
    stop_session(spark)

    table = eventlog.parse(os.path.join(event_dir, app_id))
    # the last op's actions, each from its call until its rows are on
    # the driver (the answer check is not in the action span)
    op_id = f"op{TRACE_OPS - 1}"
    actions = {s["name"][:-len("|action")]: (s["start"], s["end"])
               for s in spans.records
               if s["op"] == op_id and s["name"].endswith("|action")}
    metrics = eventlog.action_metrics(table, actions, cores)
    # not applicable where the kind is not queried: reported as 0
    for q in ("kll", "hll", "histogram"):
        tag = f"{w.name}|{op_id}|{q}"
        metrics[f"{q}.stage2_task_s"] = (
            eventlog.action_metrics(table, {tag: actions[tag]},
                                    cores)["stage2.task_s"]
            if tag in actions else 0.0)

    metrics.update({
        "session.start_s": start_s,
        "session.warmup_s": warm_s,
        "session.first_op_s": base[0],
        "phase.scan_s": sum(phase[(q, "scan")] for q in w.queries),
        "phase.boundary_s": sum(phase[(q, "boundary")] - phase[(q, "scan")]
                                for q in w.queries),
        "phase.aggregate_s": sum(
            phase[(q, "aggregate")] - phase[(q, "boundary")]
            for q in w.queries),
        "phase.extract_s": sum(
            phase[(q, "query")] - phase[(q, "aggregate")]
            for q in w.queries),
        "trace.job_s_untraced": base[-1],
        "trace.job_s_traced": times[-1],
    })
    metrics["trace.overhead_frac"] = (metrics["trace.job_s_traced"]
                                      / metrics["trace.job_s_untraced"] - 1)
    parts = max(1, round(metrics["stage1.tasks"] / len(w.queries)))
    metrics.update(micro.run(exact, parts, seed))

    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, os.path.basename(event_dir)
                           + ".json"), "w") as fh:
        json.dump({"spans": spans.records, "stages": table}, fh)

    n = len(base) + len(times)
    return {"attempted": n, "failed": failed_a + failed_b,
            "metrics": {k: (metrics[k], unit)
                        for k, unit in _declared("per_layer").items()
                        if not k.startswith("host.")},
            "info": {"trace_file": os.path.basename(event_dir) + ".json",
                     "err_to_bound_samples": errs}}


def _run(args) -> list[str] | None:
    """The run itself: its two output lines, None for an unknown
    workload."""
    from perfbench import inputs, probes
    from perfbench.ops import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return None
    _environment()
    cores = _cores()
    path, exact, gen_s = inputs.prepare(
        os.path.join(WORK, "inputs"), wl.name, args.seed, wl.size)
    burn_pre = probes.calibration_burn(cores)
    if args.trace:
        res = traced(wl, path, exact, cores, args.seed)
    else:
        res = untraced(wl, path, exact, cores, args.seconds)
    burn_post = probes.calibration_burn(cores)
    if args.trace:
        res["metrics"]["host.burn_pre_s"] = (burn_pre, "s")
        res["metrics"]["host.burn_post_s"] = (burn_post, "s")

    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "cores": cores, "gen_s": gen_s, "burn_pre_s": burn_pre,
              "burn_post_s": burn_post, **res["info"],
              "metrics": {k: v for k, (v, _) in res["metrics"].items()}}
    with open(os.path.join(WORK, "records.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    return [json.dumps({"info": record}), json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in res["metrics"].items()},
    })]


def _exit_on_signal(signum, _frame):
    # SystemExit unwinds through main's clean-up
    sys.exit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "t_digest_spark",
                                       "__init__.py")):
        print("perfbench: t_digest_spark not found beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import probes

    probes.adopt_orphans()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    try:
        lines = _run(args)
    finally:
        # the JVM, its Python workers, pools and the resource tracker
        probes.stop_descendants()
    if lines is None:
        return 2
    for line in lines:
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
