"""Spark-layer tests: two-stage digest aggregation, partition-count
independence, tree merge, extraction UDFs, transcripts source
(SURVEY.md §5 "Spark-level tests")."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from t_digest_spark.core import TDigest
from t_digest_spark.operators.aggregate import (
    merge_digests_df, partial_digests, tdigest_aggregate, tdigest_collect,
    tree_merge,
)
from t_digest_spark.operators.extract import (
    cdf_of, digest_stats, quantile_of, quantiles_of, trimmed_mean_of,
)
from t_digest_spark.sources.tables import (
    load_table, synth_transcripts, turn_metrics,
)

from conftest import SF_DIR, dist_cdf

QS = [0.01, 0.1, 0.5, 0.9, 0.99]


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_DIR, "events").cache()


@pytest.fixture(scope="module")
def exact_by_type(events):
    rows = events.select("event_type", "value").collect()
    out = {}
    for r in rows:
        out.setdefault(r.event_type, []).append(r.value)
    return {k: np.sort(np.asarray(v)) for k, v in out.items()}


def test_grouped_aggregate_bounds(spark, events, exact_by_type):
    agg = tdigest_aggregate(events, "value", ["event_type"])
    got = {r.event_type: r for r in agg.collect()}
    assert set(got) == set(exact_by_type)
    for etype, data in exact_by_type.items():
        d = TDigest.from_bytes(bytes(got[etype].digest))
        assert d.size == data.size
        assert got[etype].rows == data.size
        assert d.min == data[0]
        assert d.max == data[-1]
        for q in QS:
            q_back = dist_cdf(d.quantile(q), data)
            assert abs(q_back - q) < 0.015, (etype, q)


def test_partial_digests_row_bound(spark, events):
    nparts = 8
    df = events.repartition(nparts)
    partials = partial_digests(df, "value", ["event_type"])
    nkeys = events.select("event_type").distinct().count()
    assert partials.count() <= nparts * nkeys


def test_partition_count_independence(spark, events, exact_by_type):
    # same table, 1/4/16 partitions → same-bounded quantiles (§5 port
    # strategy); merge bounds hold for any split
    for nparts in (1, 4, 16):
        agg = tdigest_aggregate(events.repartition(nparts), "value",
                                ["event_type"])
        for r in agg.collect():
            d = TDigest.from_bytes(bytes(r.digest))
            data = exact_by_type[r.event_type]
            assert d.size == data.size
            for q in QS:
                q_back = dist_cdf(d.quantile(q), data)
                assert abs(q_back - q) < 0.015, (nparts, r.event_type, q)


def test_tree_merge_equivalence(spark, events, exact_by_type):
    partials = partial_digests(events.repartition(16), "value",
                               ["event_type"])
    treed = tree_merge(partials, ["event_type"], fanout=4)
    for r in treed.collect():
        d = TDigest.from_bytes(bytes(r.digest))
        data = exact_by_type[r.event_type]
        assert d.size == data.size
        for q in QS:
            q_back = dist_cdf(d.quantile(q), data)
            assert abs(q_back - q) < 0.015


def test_skewed_hot_key_aggregate(spark):
    """north_star skew clause: one conv-like hot key carrying ~95% of
    rows must not distort results or stage-1 output size.  Stage 1 is
    skew-immune by construction — each partition emits ONE digest per
    key it sees, independent of that key's row count — so the hot key
    costs nparts partial rows like any other key, and only the reduce
    fan-in (bounded by tree_merge) grows."""
    n_hot, n_cold_keys, per_cold = 190_000, 50, 200
    hot = spark.range(n_hot).select(
        F.lit("conv_hot").alias("k"),
        (F.rand(seed=7) * 100).alias("v"))
    cold = spark.range(n_cold_keys * per_cold).select(
        F.concat(F.lit("conv_"), (F.col("id") % n_cold_keys)).alias("k"),
        (F.rand(seed=8) * 100 + 50).alias("v"))
    df = hot.unionByName(cold).repartition(16)

    partials = partial_digests(df, "v", ["k"])
    # skew immunity: partial count bounded by nparts x nkeys, NOT by
    # row distribution
    assert partials.count() <= 16 * (n_cold_keys + 1)

    agg = tdigest_aggregate(df, "v", ["k"], tree=True, fanout=4)
    rows = {r.k: r for r in agg.collect()}
    assert rows["conv_hot"].rows == n_hot
    hot_d = TDigest.from_bytes(bytes(rows["conv_hot"].digest))
    exact = np.sort(np.asarray(
        [r.v for r in df.where(F.col("k") == "conv_hot").collect()]))
    for q in QS:
        assert abs(dist_cdf(hot_d.quantile(q), exact) - q) < 0.015
    # cold keys unaffected by the hot neighbor
    some_cold = rows[f"conv_{n_cold_keys // 2}"]
    assert some_cold.rows == per_cold


def test_global_collect(spark, events):
    values = np.sort(np.asarray(
        [r.value for r in events.select("value").collect()]))
    d = tdigest_collect(events, "value")
    assert d.size == values.size
    assert d.min == values[0]
    assert d.max == values[-1]
    for q in QS:
        assert abs(dist_cdf(d.quantile(q), values) - q) < 0.015


def test_extract_udfs(spark, events, exact_by_type):
    agg = tdigest_aggregate(events, "value", ["event_type"])
    res = (
        agg.select(
            "event_type",
            quantile_of("digest", 0.5).alias("p50"),
            quantiles_of("digest", [0.1, 0.9]).alias("qs"),
            cdf_of("digest", 50.0).alias("cdf50"),
            trimmed_mean_of("digest", 0.25, 0.75).alias("iqm"),
            digest_stats("digest").alias("stats"),
        )
    ).collect()
    for r in res:
        data = exact_by_type[r.event_type]
        assert abs(dist_cdf(r.p50, data) - 0.5) < 0.015
        assert abs(dist_cdf(r.qs[0], data) - 0.1) < 0.015
        assert abs(dist_cdf(r.qs[1], data) - 0.9) < 0.015
        assert r.cdf50 == pytest.approx(dist_cdf(50.0, data), abs=0.015)
        lo, hi = int(0.25 * len(data)), int(0.75 * len(data))
        assert r.iqm == pytest.approx(data[lo:hi].mean(),
                                      rel=0.05, abs=0.05)
        assert r.stats.n == data.size
        assert r.stats["min"] == data[0]
        assert r.stats["max"] == data[-1]
        assert 0 < r.stats.centroids <= 100


def test_weighted_aggregate(spark):
    sdf = spark.createDataFrame(
        [(float(v), float(w)) for v, w in [(1, 5), (2, 3), (3, 2)]],
        "v double, w double")
    d = TDigest.from_bytes(bytes(
        tdigest_aggregate(sdf, "v", weight_col="w").collect()[0].digest))
    assert d.size == 10
    assert d.min == 1.0 and d.max == 3.0
    # index=1 sits at the recorded min; index>total-1 returns max
    assert d.quantile(0.1) == 1.0
    assert d.quantile(0.99) == 3.0
    # interior quantiles interpolate between weighted centroids
    assert 1.0 <= d.quantile(0.3) <= 2.0


def test_null_values_ignored(spark):
    sdf = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (None,), (3.0,)], "v double")
    d = TDigest.from_bytes(bytes(
        tdigest_aggregate(sdf, "v").collect()[0].digest))
    assert d.size == 3
    assert d.min == 1.0 and d.max == 3.0


# ---------------------------------------------------------------------
# transcripts source + derived metrics (input_hint shape)
# ---------------------------------------------------------------------

def test_transcripts_deterministic(spark):
    t1 = synth_transcripts(spark, n_convs=200, seed=42, partitions=4)
    t2 = synth_transcripts(spark, n_convs=200, seed=42, partitions=4)
    h1 = t1.select(F.sha2(F.concat_ws("|", "conv_id", "turn_idx", "role",
                                      F.sha2("text", 256)), 256).alias("h"))
    h2 = t2.select(F.sha2(F.concat_ws("|", "conv_id", "turn_idx", "role",
                                      F.sha2("text", 256)), 256).alias("h"))
    agg1 = h1.agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")))
    agg2 = h2.agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")))
    assert agg1.collect()[0][0] == agg2.collect()[0][0]
    assert t1.count() == t2.count() > 200


def test_transcripts_text_equality_invariant(spark):
    # per-turn text equality under stable (conv_id, turn_idx) ordering:
    # turn_metrics derives columns but must not touch the payload
    t = synth_transcripts(spark, n_convs=100, seed=7, partitions=2).cache()
    before = t.select("conv_id", "turn_idx",
                      F.sha2("text", 256).alias("h")) \
        .orderBy("conv_id", "turn_idx").collect()
    after = turn_metrics(t).select("conv_id", "turn_idx",
                                   F.sha2("text", 256).alias("h")) \
        .orderBy("conv_id", "turn_idx").collect()
    assert before == after
    t.unpersist()


def test_transcripts_metrics_digest(spark):
    t = turn_metrics(synth_transcripts(spark, n_convs=500, seed=42,
                                       partitions=4))
    agg = tdigest_aggregate(t.where(F.col("latency_s").isNotNull()),
                            "latency_s", ["role"])
    rows = agg.collect()
    assert {r.role for r in rows} <= {"user", "assistant", "system", "tool"}
    for r in rows:
        d = TDigest.from_bytes(bytes(r.digest))
        assert d.size > 0
        assert d.quantile(0.5) >= 0


def test_rollup_matches_direct_aggregation(spark, events, exact_by_type):
    from t_digest_spark.operators.rollup import tdigest_rollup

    rolled = tdigest_rollup(events, "value", ["event_type"]).collect()
    by_level = {}
    for r in rolled:
        by_level.setdefault(r.grouping_level, []).append(r)
    # level 0: one row per type, exact stats per group
    assert len(by_level[0]) == len(exact_by_type)
    for r in by_level[0]:
        d = TDigest.from_bytes(bytes(r.digest))
        assert d.size == exact_by_type[r.event_type].size
    # level 1: grand total row with NULL key, derived purely by merge
    assert len(by_level[1]) == 1
    total = TDigest.from_bytes(bytes(by_level[1][0].digest))
    all_data = np.sort(np.concatenate(list(exact_by_type.values())))
    assert by_level[1][0].event_type is None
    assert total.size == all_data.size
    assert total.min == all_data[0] and total.max == all_data[-1]
    for q in (0.05, 0.5, 0.95):
        from conftest import dist_cdf
        assert abs(dist_cdf(total.quantile(q), all_data) - q) < 0.015


def test_cube_grouping_sets(spark):
    from t_digest_spark.operators.rollup import tdigest_cube

    sdf = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0),
         ("b", "y", 4.0)] * 25,
        "g1 string, g2 string, v double")
    cube = tdigest_cube(sdf, "v", ["g1", "g2"]).collect()
    # 4 + 2 + 2 + 1 = 9 grouping-set rows
    assert len(cube) == 9
    totals = [r for r in cube if r.g1 is None and r.g2 is None]
    assert len(totals) == 1
    assert TDigest.from_bytes(bytes(totals[0].digest)).size == 100


def test_digest_summary_single_decode(spark, events, exact_by_type):
    from t_digest_spark.operators.extract import digest_summary

    agg = tdigest_aggregate(events, "value", ["event_type"])
    rows = agg.select(
        "event_type",
        digest_summary("digest", [0.1, 0.5, 0.9]).alias("s")).collect()
    for r in rows:
        data = exact_by_type[r.event_type]
        assert r.s.n == data.size
        assert r.s["min"] == data[0] and r.s["max"] == data[-1]
        for q, est in zip([0.1, 0.5, 0.9], r.s.quantiles):
            assert abs(dist_cdf(est, data) - q) < 0.015


def test_sql_registered_functions(spark, events, exact_by_type):
    from t_digest_spark.operators.sql_api import register_sql_functions

    register_sql_functions(spark)
    tdigest_aggregate(events, "value", ["event_type"]) \
        .createOrReplaceTempView("ev_digests")
    rows = spark.sql("""
        SELECT event_type,
               tdigest_quantile(digest, 0.5) AS p50,
               tdigest_cdf(digest, 50.0) AS c50,
               tdigest_trimmed_mean(digest, 0.25, 0.75) AS iqm,
               tdigest_count(digest) AS n
        FROM ev_digests
    """).collect()
    for r in rows:
        data = exact_by_type[r.event_type]
        assert r.n == data.size
        assert abs(dist_cdf(r.p50, data) - 0.5) < 0.015
        assert r.c50 == pytest.approx(dist_cdf(50.0, data), abs=0.015)


# ---------------------------------------------------------------------
# clustered (shuffle-free) lag path vs the window path
# ---------------------------------------------------------------------

def test_turn_metrics_clustered_equals_window(spark, tmp_path):
    from t_digest_spark.sources.tables import turn_metrics_clustered

    path = str(tmp_path / "transcripts.parquet")
    synth_transcripts(spark, n_convs=400, seed=11, partitions=4) \
        .write.parquet(path)
    t = spark.read.parquet(path)
    cols = ["conv_id", "turn_idx", "text_len", "latency_s", "ts_hour"]
    a = turn_metrics(t).select(cols) \
        .orderBy("conv_id", "turn_idx").collect()
    b = turn_metrics_clustered(t).select(cols) \
        .orderBy("conv_id", "turn_idx").collect()
    assert len(a) == len(b) > 1000
    for ra, rb in zip(a, b):
        # bit-identical latency: both paths do double(us/1e6) then subtract
        assert ra == rb, (ra, rb)


def test_turn_metrics_clustered_rejects_unsorted(spark):
    from t_digest_spark.sources.tables import turn_metrics_clustered

    rows = [("c1", 0, "user", "a", None, "2026-01-01 00:00:00"),
            ("c1", 2, "user", "b", None, "2026-01-01 00:00:02"),
            ("c1", 1, "user", "c", None, "2026-01-01 00:00:01")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_str string") \
        .withColumn("ts", F.to_timestamp("ts_str")).drop("ts_str") \
        .coalesce(1)
    with pytest.raises(Exception, match="not sorted"):
        turn_metrics_clustered(df).collect()


def test_turn_metrics_clustered_rejects_split_conversation(spark):
    from t_digest_spark.sources.tables import turn_metrics_clustered

    rows = [("c1", 3, "user", "a", None, "2026-01-01 00:00:03"),
            ("c1", 4, "user", "b", None, "2026-01-01 00:00:04")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_str string") \
        .withColumn("ts", F.to_timestamp("ts_str")).drop("ts_str") \
        .coalesce(1)
    with pytest.raises(Exception, match="mid-conversation"):
        turn_metrics_clustered(df).collect()


def test_turn_metrics_clustered_digest_equality(spark, tmp_path):
    # end-to-end: digests built from the clustered path match digests
    # built from the window path, group by group
    from t_digest_spark.sources.tables import turn_metrics_clustered

    path = str(tmp_path / "transcripts2.parquet")
    synth_transcripts(spark, n_convs=300, seed=5, partitions=4,
                      with_text=False).write.parquet(path)
    t = spark.read.parquet(path)

    def digests(m):
        agg = tdigest_aggregate(
            m.where(F.col("latency_s").isNotNull()), "latency_s", ["role"])
        return {r.role: TDigest.from_bytes(bytes(r.digest)) for r in
                agg.collect()}

    da = digests(turn_metrics(t))
    db = digests(turn_metrics_clustered(t))
    assert set(da) == set(db)
    for role in da:
        assert da[role].size == db[role].size
        assert da[role].min == db[role].min
        assert da[role].max == db[role].max
        # the input rows are bit-identical (asserted exactly above);
        # residual quantile differences are merge-order effects of the
        # different partitionings, bounded by the digest's own accuracy
        for q in (0.1, 0.5, 0.9, 0.99):
            assert da[role].cdf(db[role].quantile(q)) == pytest.approx(
                q, abs=0.02)
            assert db[role].cdf(da[role].quantile(q)) == pytest.approx(
                q, abs=0.02)


def test_latency_digests_clustered_fused_equals_two_pass(spark, tmp_path):
    # the fused one-pass kernel (lag + partial digests in one
    # mapInArrow) must produce byte-identical digests to the two-pass
    # clustered path over the same scan partitioning
    from t_digest_spark.sources.tables import (
        latency_digests_clustered, turn_metrics_clustered,
    )

    path = str(tmp_path / "transcripts3.parquet")
    synth_transcripts(spark, n_convs=300, seed=8, partitions=4,
                      with_text=False).write.parquet(path)
    t = spark.read.parquet(path)
    fused = {(r.role, r.ts_hour): (bytes(r.digest), r.rows)
             for r in latency_digests_clustered(t, ["role", "ts_hour"])
             .collect()}
    m = turn_metrics_clustered(t).where(F.col("latency_s").isNotNull())
    two = {(r.role, r.ts_hour): (bytes(r.digest), r.rows)
           for r in tdigest_aggregate(m, "latency_s", ["role", "ts_hour"])
           .collect()}
    assert set(fused) == set(two)
    for k in two:
        assert fused[k][1] == two[k][1], k          # exact row counts
        da = TDigest.from_bytes(fused[k][0])
        db = TDigest.from_bytes(two[k][0])
        assert da.size == db.size
        assert da.min == db.min and da.max == db.max
        if da.size >= 100:  # midpoint-rule steps dominate tiny groups
            for q in (0.1, 0.5, 0.9, 0.99):
                assert da.cdf(db.quantile(q)) == pytest.approx(q, abs=0.02)


def test_turn_digests_clustered_multimetric(spark, tmp_path):
    # one scan, one Python pass, two digest families: latency digests
    # match the single-metric fused path; text_len digests match
    # tdigest_aggregate over the window-derived metrics
    from t_digest_spark.sources.tables import (
        latency_digests_clustered, turn_digests_clustered,
        turn_metrics_clustered,
    )

    path = str(tmp_path / "transcripts4.parquet")
    synth_transcripts(spark, n_convs=300, seed=4, partitions=4) \
        .write.parquet(path)
    t = spark.read.parquet(path)
    multi = turn_digests_clustered(
        t, ("latency_s", "text_len"), ["role"])
    rows = {(r.metric, r.role): r for r in multi.collect()}
    lat_single = {r.role: r for r in
                  latency_digests_clustered(t, ["role"]).collect()}
    m = turn_metrics_clustered(t)
    tl_ref = {r.role: r for r in tdigest_aggregate(
        m, "text_len", ["role"]).collect()}
    roles = {k[1] for k in rows}
    assert roles == set(lat_single) == set(tl_ref)
    for role in roles:
        a = TDigest.from_bytes(bytes(rows[("latency_s", role)].digest))
        b = TDigest.from_bytes(bytes(lat_single[role].digest))
        assert a.size == b.size and a.min == b.min and a.max == b.max
        c = TDigest.from_bytes(bytes(rows[("text_len", role)].digest))
        d = TDigest.from_bytes(bytes(tl_ref[role].digest))
        assert c.size == d.size and c.min == d.min and c.max == d.max
        assert rows[("text_len", role)].rows == tl_ref[role].rows


def test_nan_and_negzero_group_keys(spark):
    """Group-key canonicalization (operators/aggregate._canon_key):
    NaN keys form ONE group across Arrow batches/partitions (Spark
    groupBy semantics; a naive Python dict would split them because
    hash(nan) is id-based), and -0.0 groups with 0.0."""
    rows = [(float("nan"), float(i)) for i in range(10)]
    rows += [(0.0, 100.0), (-0.0, 200.0)]
    df = spark.createDataFrame(rows, "g double, v double").repartition(4)
    out = tdigest_aggregate(df, "v", ["g"]).collect()
    assert len(out) == 2
    by_nan = {(r.g != r.g): r for r in out}
    assert by_nan[True].rows == 10
    assert by_nan[False].rows == 2
    d = TDigest.from_bytes(bytes(by_nan[False].digest))
    assert (d.min, d.max) == (100.0, 200.0)  # both zeros' values merged


def test_array_typed_group_keys(spark):
    """Array-typed group columns: Arrow has no dictionary_encode kernel
    for nested types, so stage 1 takes the Python-encoding fallback;
    stage 2's canon-key dict must treat the (unhashable) lists as
    tuples.  Result must match Spark groupBy semantics."""
    rows = [([1, 2], float(i)) for i in range(6)]
    rows += [([3], 7.0), ([3], 9.0), (None, 5.0)]
    df = spark.createDataFrame(rows, "g array<bigint>, v double") \
        .repartition(3)
    out = tdigest_aggregate(df, "v", ["g"]).collect()
    got = {tuple(r.g) if r.g is not None else None: r.rows for r in out}
    assert got == {(1, 2): 6, (3,): 2, None: 1}


def test_singleton_blob_bit_identical():
    """core.try_singleton_blob is byte-for-byte the full path's partial
    blob whenever it fires, and declines (None) exactly when the merge
    pass would fuse something — swept across sizes spanning the
    eligibility threshold, plus duplicate/negative/inf values and a
    mix of -0.0 and 0.0 (equal, but bit-distinct)."""
    from t_digest_spark.core import try_singleton_blob
    from t_digest_spark.operators.aggregate import DEFAULT_BUFFER

    rng = np.random.default_rng(3)
    fired = declined = 0
    sizes = list(range(1, 40)) + [100, 200, 400, 800, 1600, 3200, 6400]
    for n in sizes:
        zeros = rng.normal(size=n)
        zeros[rng.random(n) < 0.5] = 0.0
        zeros[rng.random(n) < 0.3] = -0.0
        for vals in (rng.gamma(2.0, 1.0, size=n),
                     np.repeat(rng.normal(size=max(1, n // 4 + 1)),
                               4)[:n].astype(np.float64),
                     zeros):
            blob = try_singleton_blob(vals, 100.0, DEFAULT_BUFFER, "K_2")
            d = TDigest(100.0, buffer_size=DEFAULT_BUFFER, scale="K_2")
            d.add_batch(vals)
            full = d.to_bytes(compress=False)
            if blob is None:
                declined += 1
                # declined ⇒ the real path must actually have merged
                # something (fewer centroids than samples) — the
                # predicate may only be conservative NEAR the boundary,
                # not wildly so; allow equality there
                continue
            fired += 1
            assert blob == full, f"fast path diverged at n={n}"
    assert fired > 20 and declined > 0


def test_singleton_memo_bounded():
    """try_singleton_blob's memos (a probe digest per (compression,
    buffer, scale), an eligibility flag per group size) stay bounded in
    a long-lived worker that sees many distinct parameters."""
    from t_digest_spark import core

    rng = np.random.default_rng(5)
    vals = rng.normal(size=20)
    for i in range(3 * core._SINGLETON_PROBES_MAX):
        blob = core.try_singleton_blob(vals, 50.0 + i, 1 << 10,
                                       ("K_1", "K_2", "K_3")[i % 3])
        assert blob is not None
        assert len(core._SINGLETON_PROBES) <= core._SINGLETON_PROBES_MAX
    for n in range(1, 3 * core._SINGLETON_SIZES_MAX, 2):
        core.try_singleton_blob(rng.normal(size=n), 100.0, 1 << 16, "K_2")
        for _probe, elig in core._SINGLETON_PROBES.values():
            assert len(elig) <= core._SINGLETON_SIZES_MAX


def test_singleton_blob_threshold_behavior():
    """The fast path serves the flagship shape (~tens-to-hundreds of
    rows per key) and declines huge keys rather than shipping raw
    samples as a giant singleton blob."""
    from t_digest_spark.core import try_singleton_blob
    from t_digest_spark.operators.aggregate import DEFAULT_BUFFER

    rng = np.random.default_rng(4)
    assert try_singleton_blob(rng.normal(size=110), 100.0,
                              DEFAULT_BUFFER, "K_2") is not None
    assert try_singleton_blob(rng.normal(size=100_000), 100.0,
                              DEFAULT_BUFFER, "K_2") is None
