"""For each per-layer metric of BENCHMARK.json (by name prefix): the
end-to-end metric it should move, on which workload, and where it should
stay flat.

Layers are the repository's modules: ``session``; ``sources.tables``
(scan, clustered lag); ``operators.aggregate`` stage 1 (partial / fused
build), the sketch-row exchange, stage 2 (merge); ``operators.extract``;
``core`` (the NumPy t-digest); and the other-sketch scaffolds
(``functions.kll`` via ``operators._arrow_agg``, ``operators.sketch_agg``
HLL, ``functions.histogram``).  "both" means both workloads; "job_s"
stands for job_s and rows_per_s together.
"""

# (per-layer metric prefix, moves, on, flat on)
PREDICTIONS = (
    ("session.", "setup_s; first_op_s is the cold op a one-query job "
     "pays", "both", "-"),
    ("phase.scan_s", "job_s", "both", "-"),
    ("phase.boundary_s", "job_s", "both", "-"),
    ("phase.aggregate_s", "job_s", "both", "-"),
    # extract = noop(whole query) - noop(aggregate): no answer check
    ("phase.extract_s", "job_s", "latency_by_hour (~3k keys)",
     "sketch_mix (extract is a few small UDFs)"),
    ("stage1.", "job_s", "both", "-"),
    ("stage2.", "job_s", "both; task_skew is the ragged-wave shape",
     "-"),
    ("exchange.", "job_s", "latency_by_hour (pinned, large partial table)",
     "-"),
    ("driver.", "job_s", "both; driver.jobs checks that observation "
     "adds no Spark job", "-"),
    ("core.add_batch_ns_per_pt", "job_s", "latency_by_hour",
     "sketch_mix (no t-digest)"),
    ("core.singleton_", "job_s", "latency_by_hour", "sketch_mix"),
    ("core.merge_blobs_us_per_blob", "job_s", "latency_by_hour",
     "sketch_mix"),
    ("core.from_bytes_us", "job_s", "latency_by_hour", "sketch_mix"),
    ("core.quantiles_us_per_key", "job_s", "latency_by_hour", "sketch_mix"),
    ("core.centroid", "err_to_bound, exchange.bytes", "latency_by_hour",
     "sketch_mix"),
    ("kll.", "job_s", "sketch_mix", "latency_by_hour"),
    ("hll.", "job_s", "sketch_mix", "latency_by_hour"),
    ("histogram.", "job_s", "sketch_mix", "latency_by_hour"),
    ("trace.", "-", "tracing overhead; must stay small", "-"),
    ("host.", "-", "host steal before/after the run", "-"),
)
