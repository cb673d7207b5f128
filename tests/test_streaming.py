"""Structured Streaming smoke tests (SURVEY §7 Phase 2): the streaming
mirrors are kept out of the DuckDB oracle set by design; here we check them
against their own batch forms (stream/batch parity on identical input) and
for basic lifecycle correctness."""

from __future__ import annotations

import os
import shutil

import pytest

import os

_FULL_SUITE = os.environ.get("SPARK_GRAFT_FULL_PARITY", "") == "1"
_HEAVY_SWEEP = pytest.mark.skipif(
    not _FULL_SUITE,
    reason="whole-registry/integration sweep — runs with SPARK_GRAFT_FULL_PARITY=1 "
    "(cross-round guard, not a per-commit gate; see OPTIMIZATION_r14.md task #4)",
)

from pyspark.sql import functions as F

from hive_backend_spark import streaming as S

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def stream_src(spark, tmp_path_factory):
    """events fixture split into 3 parquet files -> 3 file-source micro
    batches (maxFilesPerTrigger=1)."""
    src = tmp_path_factory.mktemp("events_stream")
    from pyspark.sql.window import Window

    from hive_backend_spark.catalog import load_table

    # load_table converts the fixture's TIMESTAMP(NANOS) ts to a proper
    # timestamp column. Chunks are TIME-ordered tertiles (realistic arrival
    # order) so event-time watermarks advance monotonically across batches.
    events = load_table(spark, SF_DIR, "events").withColumn(
        "chunk", F.ntile(3).over(Window.orderBy("ts")) - 1
    )
    for i in range(3):
        events.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
            "append"
        ).parquet(str(src / f"chunk_{i}"))
        for f in (src / f"chunk_{i}").glob("part-*.parquet"):
            shutil.move(str(f), str(src / f"batch_{i}.parquet"))
        shutil.rmtree(src / f"chunk_{i}")
    return str(src)


def _run_to_memory(spark, df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_route_stream_batch_parity(spark, stream_src):
    """The same route_events projection over the same rows must agree
    between a 3-micro-batch stream and a single batch read."""
    got = _run_to_memory(
        spark, S.route_events(S.read_event_stream(spark, stream_src)), "routed"
    )
    want = S.route_events(spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src))
    assert got.count() == want.count()
    assert sorted(r.id for r in got.select("id").collect()) == sorted(
        r.id for r in want.select("id").collect()
    )
    assert got.filter(F.col("source_type") == F.col("target_type")).count() == 0


def test_dedup_within_watermark(spark, stream_src, tmp_path):
    """Q6: at-least-once redelivery (every row delivered twice inside its
    watermark window) yields each id exactly once."""
    dup = str(tmp_path / "dup_src")
    os.makedirs(dup)
    for f in sorted(os.listdir(stream_src)):
        chunk = spark.read.schema(S.EVENT_SCHEMA).parquet(os.path.join(stream_src, f))
        chunk.union(chunk).coalesce(1).write.mode("append").parquet(
            os.path.join(tmp_path / "stage", f)
        )
        import glob

        (part,) = glob.glob(os.path.join(tmp_path / "stage", f, "part-*.parquet"))
        shutil.move(part, os.path.join(dup, f))
    got = _run_to_memory(
        spark, S.dedup_stream(S.read_event_stream(spark, dup)), "deduped"
    )
    n_unique = spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src).count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_tumbling_window_stream_batch_parity(spark, stream_src):
    """Q11: windowed counts from the stream equal the batch groupBy(window)
    on the same data once the backlog is drained."""
    got = _run_to_memory(
        spark,
        S.tumbling_counts(S.read_event_stream(spark, stream_src)),
        "tumbling",
        mode="append",
    )
    batch = spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src)
    want = (
        batch.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    # append mode only emits windows the watermark has closed; every emitted
    # row must match the batch result exactly, and only the tail windows
    # (not yet past the 1-hour watermark delay) may be missing.
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows <= want_rows
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    missing = want_rows - got_rows
    assert missing, "expected at least the final open window to be unemitted"
    for window_start, _etype, _n in missing:
        hours_from_end = (max_ts - window_start).total_seconds() / 3600
        assert hours_from_end <= 7, f"closed window missing from stream output: {window_start}"


def test_session_window_smoke(spark, stream_src):
    got = _run_to_memory(
        spark, S.session_counts(S.read_event_stream(spark, stream_src)), "sessions"
    )
    # sessions must be non-overlapping per user and non-empty overall
    assert got.count() > 0
    assert got.filter(F.col("session_end") <= F.col("session_start")).count() == 0


def test_stale_users_state_smoke(spark, stream_src):
    """Q7 applyInPandasWithState: every user seen in the stream gets a state
    row with their true max(ts) as last_seen."""
    got = _run_to_memory(
        spark,
        S.stale_users_stream(S.read_event_stream(spark, stream_src)),
        "stale",
        mode="update",
    )
    batch = spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src)
    want = batch.groupBy("user_id").agg(F.max("ts").alias("last_seen"))
    # last emitted row per user must carry the global max ts
    from pyspark.sql.window import Window

    last = (
        got.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("last_seen").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "last_seen")
    )
    assert last.count() == want.count()
    assert last.exceptAll(want).count() == 0


def test_two_phase_pipeline(spark, stream_src, tmp_path):
    """Q3+Q4: per-micro-batch prioritized top-k lands in the processed sink,
    marked processed, idempotently keyed."""
    processed = str(tmp_path / "processed")
    ckpt = str(tmp_path / "ckpt")
    S.run_two_phase(spark, stream_src, processed, ckpt, batch_size=50)
    out = spark.read.parquet(processed)
    assert out.filter(~F.col("processed")).count() == 0
    # 3 micro-batches, <=50 rows each
    assert 0 < out.count() <= 150
    per_batch = out.groupBy("batch_id").count().collect()
    assert all(r["count"] <= 50 for r in per_batch)
    # within each batch, picked rows are the top-priority ones available
    assert out.select("id").distinct().count() == out.count()
    # restart with same checkpoint: no new work -> no duplicate appends
    S.run_two_phase(spark, stream_src, processed, ckpt, batch_size=50)
    assert spark.read.parquet(processed).count() == out.count()


def test_sliding_window_stream_batch_parity(spark, stream_src):
    """Q11: sliding-window counts emitted by the stream are a subset of the
    batch sliding-window result, short only of not-yet-closed windows."""
    got = _run_to_memory(
        spark,
        S.sliding_counts(S.read_event_stream(spark, stream_src)),
        "sliding",
        mode="append",
    )
    batch = spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src)
    want = (
        batch.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows <= want_rows
    assert len(got_rows) > 0
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    for window_start, _etype, _n in want_rows - got_rows:
        hours_from_end = (max_ts - window_start).total_seconds() / 3600
        assert hours_from_end <= 7, f"closed window missing: {window_start}"


def test_stream_static_join_parity(spark, stream_src):
    """J2 streaming form: per-micro-batch broadcast join against a static
    dimension produces exactly the batch join's rows."""
    from hive_backend_spark.catalog import load_table

    dim = (
        load_table(spark, SF_DIR, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment")
    )
    got = _run_to_memory(
        spark,
        S.enrich_stream(S.read_event_stream(spark, stream_src), dim, "user_id"),
        "enriched",
    )
    batch = spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src)
    want = batch.join(dim, "user_id", "inner")
    assert got.count() == want.count() > 0
    assert sorted(got.columns) == sorted(want.columns)
    g = sorted(map(repr, got.select(*sorted(got.columns)).collect()))
    w = sorted(map(repr, want.select(*sorted(want.columns)).collect()))
    assert g == w


def test_rollup_stream_batch_parity(spark, stream_src):
    """Chained windowed aggregation (minute -> hour continuous rollup):
    every hourly row the stream emits must equal the batch two-level rollup
    on the same data; only hours not yet closed by the watermark may be
    missing from the stream output."""
    got = _run_to_memory(
        spark,
        S.rollup_stream(S.read_event_stream(spark, stream_src)),
        "rollup_hier",
        mode="append",
    )
    batch = spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src)
    minute = batch.groupBy(F.window("ts", "1 minute").alias("wm"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
    )
    want = (
        minute.groupBy(F.window(F.col("wm.start"), "1 hour").alias("wh"), "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_value").alias("sum_value"))
        .select(F.col("wh.start").alias("hour_start"), "event_type", "n", "sum_value")
    )

    def norm(rows):
        return {(r[0], r[1], r[2], round(r[3], 3)) for r in rows}

    got_rows = norm(got.collect())
    want_rows = norm(want.collect())
    assert got_rows, "stream emitted no closed hourly windows"
    assert got_rows <= want_rows
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    for hour_start, _etype, _n, _s in want_rows - got_rows:
        hours_from_end = (max_ts - hour_start).total_seconds() / 3600
        assert hours_from_end <= 2, f"closed hour missing from stream output: {hour_start}"


def test_stream_stream_interval_join_parity(spark, stream_src):
    """Stream-stream interval join (selection -> update within 30 min per
    user): every pair the stream emits must appear in the batch interval
    join; pairs may only be missing if their selection arrived too close to
    the end of the stream for the closing watermark to pass its interval."""
    sel = S.read_event_stream(spark, stream_src).filter(F.col("event_type") == "click")
    upd = S.read_event_stream(spark, stream_src).filter(
        F.col("event_type") == "purchase"
    )
    got = _run_to_memory(
        spark, S.correlate_streams(sel, upd), "correlated", mode="append"
    )

    batch = spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src)
    bs = batch.filter(F.col("event_type") == "click").alias("s")
    bu = batch.filter(F.col("event_type") == "purchase").alias("u")
    want = bs.join(
        bu,
        F.expr(
            "s.user_id = u.user_id AND u.ts >= s.ts "
            "AND u.ts <= s.ts + INTERVAL 30 minutes"
        ),
    ).select(
        F.col("s.event_id").alias("selection_id"),
        F.col("s.ts").alias("selection_ts"),
        F.col("s.user_id").alias("user_id"),
        F.col("u.event_id").alias("update_id"),
        F.col("u.ts").alias("update_ts"),
        F.col("u.value").alias("value"),
    )
    got_rows = set(map(repr, got.collect()))
    want_rows = set(map(repr, want.collect()))
    assert want_rows, "batch interval join found no pairs — vacuous test"
    assert got_rows, "stream emitted no joined pairs"
    assert got_rows <= want_rows, "stream emitted pairs the batch join lacks"
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    missing = want.join(got, ["selection_id", "update_id"], "left_anti").collect()
    for r in missing:
        lag_h = (max_ts - r["selection_ts"]).total_seconds() / 3600
        assert lag_h <= 1.5, f"pair missing though watermark closed it: {r}"


def test_stream_stream_outer_join_unmatched(spark, stream_src):
    """left_outer stream-stream join: unmatched selections emit with null
    update columns once the update watermark provably closes their
    interval; matched pairs must be exactly the inner join's."""
    sel = S.read_event_stream(spark, stream_src).filter(F.col("event_type") == "click")
    upd = S.read_event_stream(spark, stream_src).filter(
        F.col("event_type") == "purchase"
    )
    got = _run_to_memory(
        spark,
        S.correlate_streams(sel, upd, how="left_outer"),
        "correlated_outer",
        mode="append",
    )
    batch = spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src)
    bs = batch.filter(F.col("event_type") == "click").alias("s")
    bu = batch.filter(F.col("event_type") == "purchase").alias("u")
    want_pairs = bs.join(
        bu,
        F.expr(
            "s.user_id = u.user_id AND u.ts >= s.ts "
            "AND u.ts <= s.ts + INTERVAL 30 minutes"
        ),
    ).select(F.col("s.event_id").alias("selection_id"), F.col("u.event_id").alias("update_id"))

    got_matched = {
        (r["selection_id"], r["update_id"])
        for r in got.filter(F.col("update_id").isNotNull()).collect()
    }
    want_matched = {(r["selection_id"], r["update_id"]) for r in want_pairs.collect()}
    assert got_matched <= want_matched

    # every unmatched emission must be genuinely unmatched in the batch join
    got_unmatched = {
        r["selection_id"] for r in got.filter(F.col("update_id").isNull()).collect()
    }
    batch_matched_sel = {r["selection_id"] for r in want_pairs.collect()}
    assert got_unmatched, "no unmatched selections emitted — vacuous"
    assert not (got_unmatched & batch_matched_sel), (
        "stream declared a selection unmatched though the batch join matched it"
    )


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics, proven not assumed: a replay arriving after the
    watermark has closed a window must not resurrect or inflate it. Four
    micro-batches (maxFilesPerTrigger=1): hours 0-2, hours 6-30, hours 30-48
    (buffer — Spark applies a batch's watermark advance one batch later),
    then a replay of hour-0 events, by now far beyond the 1h delay. Every
    window the stream emits must match the count computed from the on-time
    data only. numRowsDroppedByWatermark is NOT asserted: for streaming
    aggregations Spark filters late rows before the state operator, so the
    metric legitimately stays 0 — output semantics are the contract."""
    import shutil

    from hive_backend_spark.catalog import load_table

    src = tmp_path / "late_src"
    src.mkdir()
    events = load_table(spark, SF_DIR, "events")
    t0 = events.agg(F.min("ts")).collect()[0][0]

    def hours(lo, hi):
        return events.filter(
            (F.col("ts") >= F.lit(t0) + F.expr(f"INTERVAL {lo} HOURS"))
            & (F.col("ts") < F.lit(t0) + F.expr(f"INTERVAL {hi} HOURS"))
        )

    batches = [hours(0, 2), hours(6, 30), hours(30, 48), hours(0, 1)]
    for i, df in enumerate(batches):
        assert df.count() > 0, f"batch {i} empty — widen its hour range"
        d = src / f"c{i}"
        df.coalesce(1).write.parquet(str(d))
        for f in d.glob("part-*.parquet"):
            shutil.move(str(f), str(src / f"batch_{i}.parquet"))
        shutil.rmtree(d)

    agg = (
        S.read_event_stream(spark, str(src))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_agg")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len({p["batchId"] for p in q.recentProgress if p["numInputRows"]})
    assert n_batches == len(batches), (
        f"expected {len(batches)} separate micro-batches, got {n_batches} — "
        "maxFilesPerTrigger not honored, late-data scenario did not happen"
    )

    # Ground truth from ON-TIME data only (batches 0-2, no replay): every
    # window the stream emitted must carry exactly the on-time count.
    on_time = batches[0].unionByName(batches[1]).unionByName(batches[2])
    want = {
        (r["ws"], r["event_type"]): r["n"]
        for r in (
            on_time.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "event_type", "n")
            .collect()
        )
    }
    got = spark.table("late_agg").collect()
    assert len(got) > 0, "no windows closed — watermark never advanced"
    hour0_emitted = False
    for r in got:
        k = (r["ws"], r["event_type"])
        assert k in want, f"stream emitted a window absent from on-time truth: {k}"
        assert r["n"] == want[k], (
            f"late replay inflated closed window {k}: got {r['n']}, want {want[k]}"
        )
        if r["ws"] == t0.replace(minute=0, second=0, microsecond=0):
            hour0_emitted = True
    assert hour0_emitted, "hour-0 window never emitted — scenario did not close it"


def test_drift_monitor_stream_batch_parity(spark, stream_src, tmp_path):
    """The per-micro-batch KS drift gate must agree with its batch kernel:
    a single-trigger run (all files in one batch) produces exactly
    batch_value_drift(all events, reference); a 3-trigger run produces one
    verdict group per micro batch, each matching the kernel applied to
    that batch's file."""
    from hive_backend_spark.catalog import load_table

    events = load_table(spark, SF_DIR, "events")
    reference = events.filter(F.col("user_id") % 2 == 0).select(
        "event_type", "value"
    )

    # one trigger == one batch == the batch kernel over everything
    mono = str(tmp_path / "monitor_single")
    S.drift_monitor_stream(
        spark,
        stream_src,
        reference,
        mono,
        str(tmp_path / "ckpt_single"),
        max_files_per_trigger=None,
    )
    got = spark.read.parquet(mono).drop("batch_id")
    want = S.batch_value_drift(
        spark.read.parquet(f"{stream_src}/batch_0.parquet",
                           f"{stream_src}/batch_1.parquet",
                           f"{stream_src}/batch_2.parquet"),
        reference,
    )
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    assert got.count() > 0

    # three triggers -> three stamped verdict groups, each == the kernel
    # on that micro batch's file
    multi = str(tmp_path / "monitor_multi")
    S.drift_monitor_stream(
        spark, stream_src, reference, multi, str(tmp_path / "ckpt_multi")
    )
    verdicts = spark.read.parquet(multi)
    batch_ids = [r.batch_id for r in verdicts.select("batch_id").distinct().collect()]
    assert len(batch_ids) == 3
    # file->batch order follows modification order; check by matching each
    # batch's row multiset against ONE of the per-file kernel results
    per_file = [
        sorted(
            map(
                repr,
                S.batch_value_drift(
                    spark.read.parquet(f"{stream_src}/batch_{i}.parquet"), reference
                ).collect(),
            )
        )
        for i in range(3)
    ]
    for bid in batch_ids:
        rows = sorted(
            map(repr, verdicts.filter(F.col("batch_id") == bid).drop("batch_id").collect())
        )
        assert rows in per_file, f"batch {bid} verdicts match no source file"


def test_drift_one_sided_type_explicit_verdict(spark):
    """A type present on only one side must not kill the query with an
    ANSI DIVIDE_BY_ZERO (the crash mode: a brand-new event type in the
    ingest — exactly the drift the monitor exists to catch). The verdict
    is explicit: ks_stat/ks_crit NULL, drifted TRUE."""
    from hive_backend_spark.catalog import load_table

    events = load_table(spark, SF_DIR, "events").select("event_type", "value")
    ref = events.filter(F.col("event_type") != "click")

    # new type: in current, absent from reference
    out = {r.event_type: r for r in S.batch_value_drift(events, ref).collect()}
    row = out["click"]
    assert row.drifted is True
    assert row.ks_stat is None and row.ks_crit is None
    assert row.n_ref == 0 and row.n_cur > 0

    # vanished type: in reference, absent from current
    out2 = {
        r.event_type: r
        for r in S.batch_value_drift(
            events.filter(F.col("event_type") != "click"), events
        ).collect()
    }
    row2 = out2["click"]
    assert row2.drifted is True and row2.ks_stat is None
    assert row2.n_cur == 0 and row2.n_ref > 0


def test_drift_monitor_replay_is_idempotent(spark, stream_src, tmp_path):
    """foreachBatch is at-least-once: simulate a post-write/pre-commit
    failure by wiping the checkpoint and re-running — every batch replays
    under its original batch_id and must OVERWRITE its own partition, not
    append duplicates."""
    from hive_backend_spark.catalog import load_table

    events = load_table(spark, SF_DIR, "events")
    reference = events.filter(F.col("user_id") % 2 == 0).select(
        "event_type", "value"
    )
    monitor = str(tmp_path / "monitor")
    ckpt = str(tmp_path / "ckpt")
    S.drift_monitor_stream(spark, stream_src, reference, monitor, ckpt)
    first = sorted(map(repr, spark.read.parquet(monitor).collect()))
    shutil.rmtree(ckpt)  # forget progress -> full replay, same batch ids
    S.drift_monitor_stream(spark, stream_src, reference, monitor, ckpt)
    second = sorted(map(repr, spark.read.parquet(monitor).collect()))
    assert second == first, "replayed batches duplicated verdict rows"


@pytest.mark.slow
@_HEAVY_SWEEP
def test_streaming_integration_sf01_midstream_restart(spark, tmp_path):
    """sf0.1 integration (the round-4 advisory's modest-scale gate): 20
    time-ordered micro batches through BOTH production streaming operators
    with a mid-stream stop, a simulated crash (the newest checkpoint
    commit deleted, so that batch replays on restart), and a resume:

    - drift_monitor_stream: after the restart drains the backlog, the
      monitor table must hold exactly one verdict group per source file,
      each equal to the batch kernel on that file — the replayed batch
      must overwrite, not duplicate.
    - correlate_streams (parquet sink + checkpoint): pairs emitted across
      the restart must be a duplicate-free subset of the batch interval
      join, missing only interval-not-yet-closed tail selections."""
    from pyspark.sql.window import Window

    from hive_backend_spark.catalog import load_table

    sf_dir = "/root/testdata/sf0.1"
    events = load_table(spark, sf_dir, "events").withColumn(
        "chunk", F.ntile(20).over(Window.orderBy("ts")) - 1
    )
    events.persist()
    src = str(tmp_path / "src")
    os.makedirs(src)

    def publish(lo, hi):
        for i in range(lo, hi):
            d = tmp_path / f"stage_{i}"
            events.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
                "append"
            ).parquet(str(d))
            for f in d.glob("part-*.parquet"):
                shutil.move(str(f), os.path.join(src, f"batch_{i:02d}.parquet"))
            shutil.rmtree(d)

    reference = events.filter(F.col("user_id") % 2 == 0).select("event_type", "value")
    monitor = str(tmp_path / "monitor")
    ckpt_root = str(tmp_path / "ckpt")
    corr_out = str(tmp_path / "corr_out")
    corr_ckpt = str(tmp_path / "corr_ckpt")

    def run_correlate():
        sel = S.read_event_stream(spark, src).filter(F.col("event_type") == "click")
        upd = S.read_event_stream(spark, src).filter(F.col("event_type") == "purchase")
        q = (
            S.correlate_streams(sel, upd)
            .writeStream.format("parquet")
            .option("path", corr_out)
            .option("checkpointLocation", corr_ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # phase 1: first 8 files, both operators drain them
    publish(0, 8)
    S.drift_monitor_stream(spark, src, reference, monitor, ckpt_root)
    run_correlate()

    # simulated crash: the newest drift commit vanishes -> that batch is
    # post-write/pre-commit and MUST replay idempotently on restart
    commits_dir = tmp_path / "ckpt" / "drift_monitor" / "commits"
    newest = sorted(
        (c for c in commits_dir.iterdir() if not c.name.startswith(".")),
        key=lambda c: int(c.name),
    )[-1]
    crc = commits_dir / f".{newest.name}.crc"
    newest.unlink()
    if crc.exists():  # hadoop checksum sidecar must vanish with its commit
        crc.unlink()

    # phase 2: 12 more files arrive; same checkpoints -> resume + replay
    publish(8, 20)
    S.drift_monitor_stream(spark, src, reference, monitor, ckpt_root)
    run_correlate()
    events.unpersist()

    # drift: one verdict group per file, each == the batch kernel, no dupes
    verdicts = spark.read.parquet(monitor)
    groups = {
        bid: sorted(
            map(repr, verdicts.filter(F.col("batch_id") == bid).drop("batch_id").collect())
        )
        for bid in [r.batch_id for r in verdicts.select("batch_id").distinct().collect()]
    }
    assert len(groups) == 20, f"expected 20 verdict groups, got {sorted(groups)}"
    kernels = [
        sorted(
            map(
                repr,
                S.batch_value_drift(
                    spark.read.parquet(os.path.join(src, f"batch_{i:02d}.parquet")),
                    reference,
                ).collect(),
            )
        )
        for i in range(20)
    ]
    unmatched = [bid for bid, rows in groups.items() if rows not in kernels]
    assert not unmatched, f"verdict groups matching no file kernel: {unmatched}"
    for k in kernels:
        assert sum(1 for rows in groups.values() if rows == k) >= 1

    # correlate: duplicate-free subset of the batch interval join
    got = spark.read.parquet(corr_out)
    assert got.count() == got.distinct().count(), "restart duplicated join rows"
    batch = spark.read.schema(S.EVENT_SCHEMA).parquet(src)
    bs = batch.filter(F.col("event_type") == "click").alias("s")
    bu = batch.filter(F.col("event_type") == "purchase").alias("u")
    want = bs.join(
        bu,
        F.expr(
            "s.user_id = u.user_id AND u.ts >= s.ts "
            "AND u.ts <= s.ts + INTERVAL 30 minutes"
        ),
    ).select(
        F.col("s.event_id").alias("selection_id"),
        F.col("s.ts").alias("selection_ts"),
        F.col("s.user_id").alias("user_id"),
        F.col("u.event_id").alias("update_id"),
        F.col("u.ts").alias("update_ts"),
        F.col("u.value").alias("value"),
    )
    got_rows = set(map(repr, got.collect()))
    want_rows = set(map(repr, want.collect()))
    assert want_rows, "batch interval join found no pairs — vacuous"
    assert got_rows, "stream emitted no pairs"
    assert got_rows <= want_rows, "stream emitted pairs the batch join lacks"
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    missing = want.join(got, ["selection_id", "update_id"], "left_anti").collect()
    for r in missing:
        lag_h = (max_ts - r["selection_ts"]).total_seconds() / 3600
        assert lag_h <= 1.5, f"pair missing though watermark closed it: {r}"


def test_rate_limit_stream_batch_parity(spark, stream_src):
    """The streaming limiter's admitted set on in-order ingest equals the
    batch replay's rank rule (row_number over (user, hour) in (ts,
    event_id) order, rank <= cap) — counts survive micro-batch splits
    because the state carries the already-admitted count per key."""
    from pyspark.sql.window import Window

    got = _run_to_memory(
        spark,
        S.rate_limit_stream(S.read_event_stream(spark, stream_src), cap=1),
        "rate_limited",
        mode="update",
    )
    batch = spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src)
    w = Window.partitionBy(
        "user_id", F.date_trunc("hour", F.col("ts"))
    ).orderBy("ts", "event_id")
    # cap=1 so the limit actually binds at the tiny fixture's density
    want = batch.select(
        "event_id", F.row_number().over(w).alias("rk")
    ).withColumn("admitted", F.col("rk") <= 1)

    assert got.count() == batch.count()  # one verdict per event
    j = got.select("event_id", F.col("rk").alias("s_rk"), F.col("admitted").alias("s_adm")).join(
        want, "event_id"
    )
    assert j.filter(F.col("s_rk") != F.col("rk")).count() == 0
    assert j.filter(F.col("s_adm") != F.col("admitted")).count() == 0
    # the cap binds: some events rejected, none admitted past the cap
    assert got.filter(~F.col("admitted")).count() > 0
    per_key = got.filter(F.col("admitted")).groupBy("user_id", "window_start").count()
    assert per_key.filter(F.col("count") > 1).count() == 0


def test_windowed_distinct_users_stream_batch_parity(spark, stream_src):
    """Exact distinct-user counts per tumbling window: the streaming
    dedup-then-count recipe must equal the batch COUNT(DISTINCT)."""
    got = _run_to_memory(
        spark,
        S.windowed_distinct_users(S.read_event_stream(spark, stream_src)),
        "win_distinct",
        mode="append",
    )
    batch = spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src)
    want = (
        batch.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.countDistinct("user_id").alias("distinct_users"))
        .select(
            F.col("w").getField("start").alias("window_start"),
            F.col("w").getField("end").alias("window_end"),
            "distinct_users",
        )
    )
    # append mode emits only watermark-closed windows; every emitted row
    # must match the batch truth, and most windows must have closed
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0
    closed = want.join(got.select("window_start"), "window_start", "left_semi")
    assert closed.exceptAll(got.select(want.columns)).count() == 0


def test_batch_value_psi_self_and_shifted(spark, stream_src):
    """PSI kernel sanity: a distribution compared against itself scores
    ~0 (every bucket share matches); the same distribution shifted by a
    constant larger than its spread scores far above the 0.2 alarm; a
    type absent from the reference reports drifted=True with NULL psi."""
    batch = spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src)
    self_psi = S.batch_value_psi(batch, batch).collect()
    assert self_psi and all(abs(r["psi"]) < 0.02 and not r["drifted"] for r in self_psi)

    shifted = batch.withColumn("value", F.col("value") + F.lit(10000.0))
    moved = S.batch_value_psi(shifted, batch).collect()
    assert all(r["psi"] > 0.2 and r["drifted"] for r in moved)

    new_type = batch.withColumn("event_type", F.lit("brand_new"))
    novel = {r["event_type"]: r for r in S.batch_value_psi(new_type, batch).collect()}
    assert novel["brand_new"]["drifted"] is True
    # no reference rows -> no bucket basis -> the documented NULL sentinel,
    # not a finite eps-absorbed score
    assert novel["brand_new"]["psi"] is None


def test_two_phase_replay_after_crash_is_idempotent(spark, stream_src, tmp_path):
    """Kill/restart across the at-least-once window: delete the LAST commit
    marker from the checkpoint (simulating a crash between the sink write
    and the checkpoint commit), restart, and require zero duplicate rows in
    the processed table WITHOUT any read-side dedup — the batch_id dynamic
    overwrite must absorb the replay."""
    import os

    processed = str(tmp_path / "processed")
    ckpt = str(tmp_path / "ckpt")
    S.run_two_phase(spark, stream_src, processed, ckpt, batch_size=50)
    before = spark.read.parquet(processed)
    n_before = before.count()
    ids_before = sorted(r["id"] for r in before.select("id").collect())

    commits = os.path.join(ckpt, "two_phase", "commits")
    last = max(
        (f for f in os.listdir(commits) if not f.startswith(".")), key=int
    )
    os.remove(os.path.join(commits, last))  # crash window: written, not committed
    crc = os.path.join(commits, f".{last}.crc")  # local-FS checksum shadow
    if os.path.exists(crc):
        os.remove(crc)

    S.run_two_phase(spark, stream_src, processed, ckpt, batch_size=50)
    after = spark.read.parquet(processed)
    assert after.count() == n_before
    assert sorted(r["id"] for r in after.select("id").collect()) == ids_before
    # no duplicate (id, batch_id) even at file level
    assert after.groupBy("id", "batch_id").count().filter("count > 1").count() == 0


def _greedy_carryover_simulation(chunks, batch_size):
    """Pure-Python ground truth for run_prioritized_carryover: per trigger,
    serve the top batch_size of (pending + arrivals) by
    (priority desc, created_at asc, id asc); the rest carries forward.
    Returns (served_ids_per_batch, final_pending_ids)."""
    pending: list[tuple] = []  # (neg_priority, created_at, id)
    served = []
    for chunk in chunks:
        pending.extend(chunk)
        pending.sort()
        take = pending[:batch_size]
        pending = pending[batch_size:]
        served.append({t[2] for t in take})
    return served, {t[2] for t in pending}


def test_carryover_matches_greedy_simulation(spark, stream_src, tmp_path):
    """Priority order must hold ACROSS triggers: the served set per batch
    equals a greedy simulation where unserved rows compete in every later
    batch — a high-priority row that missed its arrival batch's quota beats
    any lower-priority later arrival. Also: processed + pending partitions
    exactly the routed input (no loss, no duplication)."""
    processed = str(tmp_path / "processed")
    pending = str(tmp_path / "pending")
    ckpt = str(tmp_path / "ckpt")
    BATCH = 40
    S.run_prioritized_carryover(spark, stream_src, processed, pending, ckpt, batch_size=BATCH)

    chunks = []
    for f in sorted(os.listdir(stream_src)):
        routed = S.route_events(
            spark.read.schema(S.EVENT_SCHEMA).parquet(os.path.join(stream_src, f))
        )
        chunks.append(
            [
                (-(r["priority"] or 0), r["created_at"], r["id"])
                for r in routed.select("priority", "created_at", "id").collect()
            ]
        )
    want_served, want_pending = _greedy_carryover_simulation(chunks, BATCH)

    out = spark.read.parquet(processed)
    got_served = {
        r["batch_id"]: set()
        for r in out.select("batch_id").distinct().collect()
    }
    for r in out.select("id", "batch_id").collect():
        got_served[r["batch_id"]].add(r["id"])
    assert got_served == {i: s for i, s in enumerate(want_served)}

    left = S.read_pending_state(spark, pending)
    assert {r["id"] for r in left.select("id").collect()} == want_pending
    # carryover actually happened: some batch-0 arrival served later than 0
    batch0_ids = {t[2] for t in chunks[0]}
    assert any(got_served[b] & batch0_ids for b in got_served if b > 0)


def test_carryover_replay_after_crash_is_idempotent(spark, stream_src, tmp_path):
    """Crash between sink write and checkpoint commit: the replayed batch
    re-reads state_version N-1 (never pruned) and overwrites exactly its
    own outputs — processed table and final pending state are unchanged."""
    processed = str(tmp_path / "processed")
    pending = str(tmp_path / "pending")
    ckpt = str(tmp_path / "ckpt")
    S.run_prioritized_carryover(spark, stream_src, processed, pending, ckpt, batch_size=40)
    before = spark.read.parquet(processed)
    served_before = sorted(
        (r["id"], r["batch_id"]) for r in before.select("id", "batch_id").collect()
    )

    commits = os.path.join(ckpt, "carryover", "commits")
    last = max((f for f in os.listdir(commits) if not f.startswith(".")), key=int)
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    S.run_prioritized_carryover(spark, stream_src, processed, pending, ckpt, batch_size=40)
    after = spark.read.parquet(processed)
    served_after = sorted(
        (r["id"], r["batch_id"]) for r in after.select("id", "batch_id").collect()
    )
    assert served_after == served_before
    assert after.groupBy("id").count().filter("count > 1").count() == 0


@_HEAVY_SWEEP
def test_carryover_untouched_band_not_rewritten(spark, tmp_path):
    """Per-trigger state write cost must be O(touched backlog): a priority
    band with no arrivals and no served rows in a trigger keeps its OLD
    state_version directory untouched — no new version, no rewrite. Source:
    batch 0 mixes view (band 0) and click (band 1) arrivals; batches 1-2
    are click-only and the head is all clicks, so band 0 is never touched
    again. After the run band=0 must still hold exactly state_version=0
    (the batch-0 files, never rewritten), while band=1 advanced and pruned.
    The final backlog must still equal the greedy simulation."""
    import datetime

    src = tmp_path / "src"
    src.mkdir()
    t0 = datetime.datetime(2020, 1, 1)

    def mk(batch, rows):
        df = spark.createDataFrame(
            [
                (i, t0 + datetime.timedelta(seconds=i), i, et, "{}")
                for i, et in rows
            ],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        import glob as g
        import shutil

        part = g.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"batch_{batch}.parquet"))

    mk(0, [(i, "view") for i in range(10)] + [(100 + i, "click") for i in range(10)])
    mk(1, [(200 + i, "click") for i in range(6)])
    mk(2, [(300 + i, "click") for i in range(6)])

    processed = str(tmp_path / "processed")
    pending = str(tmp_path / "pending")
    ckpt = str(tmp_path / "ckpt")
    S.run_prioritized_carryover(spark, src.as_posix(), processed, pending, ckpt, batch_size=5)

    assert sorted(os.listdir(os.path.join(pending, "band=0"))) == [
        "state_version=0"
    ], "band 0 was rewritten despite no arrivals and no serves after batch 0"
    b1 = sorted(os.listdir(os.path.join(pending, "band=1")))
    assert b1 == ["state_version=1", "state_version=2"], b1  # 0 pruned

    # clicks always outrank views: all 22 clicks served across 3 batches
    # of 5 would need 25 slots, so 15 clicks served, 7 pending; no view
    # ever served — band 0 pending is all 10 views
    left = S.read_pending_state(spark, pending)
    got = {r["id"] for r in left.select("id").collect()}
    served = {
        r["id"]
        for r in spark.read.parquet(processed).select("id").collect()
    }
    clicks = set(range(100, 110)) | set(range(200, 206)) | set(range(300, 306))
    views = set(range(10))
    assert served == set(sorted(clicks)[:15])
    assert got == views | (clicks - served)



def test_carryover_steady_trigger_compiles_nothing(spark, tmp_path):
    """A steady carryover trigger reuses the classes earlier triggers
    compiled: no plan of the sink may carry the batch id, since an integer
    literal is inlined into generated code and every new value compiles
    new classes. One file per call is one trigger; the third is timed."""
    import datetime
    import glob

    src = tmp_path / "src"
    src.mkdir()
    t0 = datetime.datetime(2020, 1, 1)
    processed, pending, ckpt = (str(tmp_path / d) for d in ("processed", "pending", "ckpt"))
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    per_trigger = []
    for batch in range(3):
        rows = [
            (e, t0 + datetime.timedelta(seconds=e), e, "click" if e % 4 == 0 else "view", "{}")
            for e in range(batch * 20, batch * 20 + 20)
        ]
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, props string"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        part = glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"batch_{batch}.parquet"))
        c0 = compiles.getCount()
        S.run_prioritized_carryover(spark, src.as_posix(), processed, pending, ckpt, batch_size=8)
        per_trigger.append(compiles.getCount() - c0)
    assert per_trigger[2] == 0, per_trigger
    assert spark.read.parquet(processed).count() == 24

def test_batch_type_chi2_kernel(spark, stream_src):
    """Categorical drift kernel: self-comparison scores ~0 and calm; a
    composition change (one type removed from current) alarms; an empty
    reference has no composition basis -> NULL chi2, drifted TRUE. Against
    the batch audit: comparing the two timeline halves must reproduce
    q196's chi2_total exactly (same independence model, same lookup)."""
    batch = spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src)
    calm = S.batch_type_chi2(batch, batch).collect()
    assert calm and all(r["chi2_total"] == 0.0 and not r["drifted"] for r in calm)

    a_type = batch.select("event_type").first()["event_type"]
    moved = S.batch_type_chi2(batch.filter(F.col("event_type") != a_type), batch)
    rows = moved.collect()
    assert all(r["drifted"] for r in rows)
    assert any(r["n_cur"] == 0 for r in rows)  # the removed type still appears

    empty = batch.filter(F.lit(False))
    novel = S.batch_type_chi2(batch, empty).collect()
    assert novel and all(r["chi2_term"] is None and r["drifted"] for r in novel)

    # dof beyond the exact lookup (13+ types): the verdict must stay
    # non-NULL — Wilson-Hilferty takes over, the monitor keeps alarming
    wide = spark.createDataFrame(
        [(f"type_{i % 20}",) for i in range(400)], "event_type string"
    )
    wide_rows = S.batch_type_chi2(wide, wide).collect()
    assert wide_rows and all(
        r["dof"] == 19
        and r["chi2_crit_99"] is not None
        and r["drifted"] is not None
        for r in wide_rows
    )
    # WH at dof=19: exact table value would be 36.19; approximation ~36.2
    assert abs(wide_rows[0]["chi2_crit_99"] - 36.19) < 0.2
    assert not wide_rows[0]["drifted"]  # self-comparison stays calm

    # parity with the batch audit q196 on the same midpoint split
    from hive_backend_spark.registry import all_queries

    ms = F.unix_millis(F.col("ts"))
    b = batch.agg(((F.min(ms) + F.max(ms)) / F.lit(2)).cast("bigint").alias("thr"))
    tagged = batch.crossJoin(b)
    early = tagged.filter(ms <= F.col("thr"))
    late = tagged.filter(ms > F.col("thr"))
    got = S.batch_type_chi2(late, early).select("event_type", "chi2_total", "drifted")
    want = all_queries()["q196_chi2_type_drift"].fn(spark, SF_DIR).select(
        "event_type", "chi2_total", "drifted"
    )
    # the streaming fixture IS the sf fixture's events table re-chunked
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def _mk_doc_batch(spark, tmp_path, src, batch, rows):
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "doc_stage"))
    import glob as g
    import shutil

    part = g.glob(str(tmp_path / "doc_stage" / "part-*.parquet"))[0]
    shutil.move(part, str(src / f"batch_{batch}.parquet"))


def _index_rows(df):
    return sorted(
        (r["term"], r["df"], r["cf"], tuple(r["head"]))
        for r in df.select("term", "df", "cf", "head").collect()
    )


def test_incremental_index_matches_full_rebuild(spark, tmp_path):
    """The standing index after N micro-batches must equal a from-scratch
    build over all documents seen (merge==rebuild through REPEATED merges,
    not just one): term df/cf totals and the min-20 posting heads are
    value-compared. Terms deliberately recur across batches so the merge
    path (not just the insert path) is exercised."""
    from hive_backend_spark.queries.corpus import _partial_index

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(i, "alpha beta gamma shared", "en", "s0", 10) for i in range(30)],
        [(100 + i, "beta delta shared epsilon", "en", "s1", 10) for i in range(30)],
        [(200 + i, "alpha zeta shared", "de", "s0", 10) for i in range(30)],
    ]
    for b, rows in enumerate(batches):
        _mk_doc_batch(spark, tmp_path, src, b, rows)

    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    S.run_incremental_index(spark, src.as_posix(), idx, ckpt)

    got = _index_rows(S.read_index_state(spark, idx))
    all_docs = spark.createDataFrame(
        [r for rows in batches for r in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    want = _index_rows(_partial_index(all_docs))
    assert got == want
    # the min-20 head really truncates (df > 20 for the shared term)
    by_term = {t: (d, c, h) for t, d, c, h in got}
    assert by_term["shared"][0] == 90 and len(by_term["shared"][2]) == 20
    assert by_term["shared"][2] == tuple(range(20))  # 20 smallest doc_ids


def test_incremental_index_replay_after_crash_is_idempotent(spark, tmp_path):
    """Crash between index write and checkpoint commit: the replayed batch
    re-reads each touched bucket's newest version < N and rewrites exactly
    its own output — the final index is unchanged."""
    from hive_backend_spark.queries.corpus import _partial_index

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(i, "alpha beta gamma", "en", "s0", 10) for i in range(10)],
        [(100 + i, "beta delta", "en", "s1", 10) for i in range(10)],
    ]
    for b, rows in enumerate(batches):
        _mk_doc_batch(spark, tmp_path, src, b, rows)
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    S.run_incremental_index(spark, src.as_posix(), idx, ckpt)
    before = _index_rows(S.read_index_state(spark, idx))

    commits = os.path.join(ckpt, "inc_index", "commits")
    last = max((f for f in os.listdir(commits) if not f.startswith(".")), key=int)
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    S.run_incremental_index(spark, src.as_posix(), idx, ckpt)
    after = _index_rows(S.read_index_state(spark, idx))
    assert after == before

    all_docs = spark.createDataFrame(
        [r for rows in batches for r in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    assert after == _index_rows(_partial_index(all_docs))


def test_incremental_index_untouched_bucket_not_rewritten(spark, tmp_path):
    """A term bucket none of a batch's terms hash into keeps its OLD
    state_version directory — the O(touched state) write contract. Batch 1
    reuses exactly batch 0's vocabulary subset, so only those terms'
    buckets are rewritten."""
    import hashlib

    src = tmp_path / "src"
    src.mkdir()
    # vocab chosen so batch 1's term buckets are a strict subset
    v0 = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    b0 = {hashlib.md5(t.encode()).hexdigest()[0] for t in v0}
    only_b1 = ["alpha"]
    b1 = {hashlib.md5(t.encode()).hexdigest()[0] for t in only_b1}
    assert b1 < b0  # strict subset: some bucket is untouched in batch 1
    _mk_doc_batch(spark, tmp_path, src, 0, [(1, " ".join(v0), "en", "s0", 9)])
    _mk_doc_batch(spark, tmp_path, src, 1, [(2, "alpha alpha", "en", "s0", 9)])
    idx = str(tmp_path / "index")
    S.run_incremental_index(spark, src.as_posix(), idx, str(tmp_path / "ckpt"))

    for tok in sorted(b0):
        vers = sorted(os.listdir(os.path.join(idx, f"tbucket={tok}")))
        if tok in b1:
            # rewritten at batch 1; version 0 stays until a LATER batch
            # supersedes it (a replay of batch 1 still reads it)
            assert vers == ["state_version=0", "state_version=1"], (tok, vers)
        else:
            assert vers == ["state_version=0"], (tok, vers)  # never rewritten


# --- stream-side near-dup admission -------------------------------------------

# Magic shingles (see tests/test_properties.py): M0's 3-gram wins MinHash
# seeds {0,1} (band 0), M1's wins seeds {2,3} (band 1) — deterministic md5
# structure used to build a held-doc-does-not-block chain.
_ADM_M0 = "am727432 bm727432 cm727432"
_ADM_M1 = "dm1239447 em1239447 fm1239447"


def _seq_admit(spark, batches):
    """Independent sequential reference: process every document ONE AT A
    TIME in (batch, doc_id) order against a growing admitted-only index —
    exact fingerprint first (q105's predicate), then any shared non-null
    LSH band (q67/q173's candidate predicate). Band signatures come from
    the same explode_bands operator, so this tests the ADMISSION logic,
    not the (property-tested) MinHash."""
    import hashlib

    import hive_backend_spark.operators.dedup as D

    all_rows = [(r[0], r[1]) for rows in batches for r in rows]
    df = spark.createDataFrame(all_rows, "doc_id bigint, text string")
    bands = {}
    for r in D.explode_bands(df, "doc_id").collect():
        bands.setdefault(r["doc_id"], set())
        if r["band_sig"] is not None:
            bands[r["doc_id"]].add((r["band_idx"], r["band_sig"]))
    idx_fps, idx_bands = set(), set()
    decisions = {}
    for rows in batches:
        for did, text, *_ in sorted(rows):
            fp = hashlib.md5(text.encode()).hexdigest()
            if fp in idx_fps:
                decisions[did] = (False, "exact")
            elif bands[did] & idx_bands:
                decisions[did] = (False, "near_dup")
            else:
                decisions[did] = (True, "admitted")
                idx_fps.add(fp)
                idx_bands |= bands[did]
    return decisions


def _admission_batches():
    base1 = "the quick brown fox jumps over the lazy dog today and tomorrow"
    base2 = "completely different content with many unique words present here now"
    fresh = "another fully unrelated document about streaming state tables indeed"
    fill = lambda tag: " ".join(f"{tag}f{j}" for j in range(8))
    return [
        # batch 0: three distinct docs + a gram-less one
        [(1, base1), (2, base2), (3, "xy"), (4, f"{_ADM_M0} " + fill("a"))],
        # batch 1: exact dup of 1, near-variant of 1, gram-less exact dup,
        # a genuinely new doc, and the held-does-not-block chain:
        # 15 carries M0 (collides with indexed 4 -> held) AND M1;
        # 16 carries only M1 -> collides ONLY with held 15 -> admitted
        [
            (10, base1),
            (11, base1.replace("tomorrow", "tonight")),
            (12, "xy"),
            (13, fresh),
            (15, f"{_ADM_M0} {_ADM_M1} " + fill("b")),
            (16, f"{_ADM_M1} " + fill("c")),
        ],
        # batch 2: within-batch exact pair (20 admits, 21 held) and a
        # near-variant of batch-1's admitted doc 13
        [
            (20, "a brand new text about graph contraction rounds at scale"),
            (21, "a brand new text about graph contraction rounds at scale"),
            (22, fresh.replace("indeed", "truly")),
        ],
    ]


def test_near_dup_admission_matches_sequential(spark, tmp_path):
    """Stream/batch parity: admission decisions over N micro-batches equal
    the one-document-at-a-time sequential reference (q105 exact semantics
    + q173 band-collision semantics), including the held-does-not-block
    rule, within-batch ordering, gram-less docs, and the final index
    containing exactly the admitted docs' band rows."""
    batches = _admission_batches()
    src = tmp_path / "src"
    src.mkdir()
    for b, rows in enumerate(batches):
        _mk_doc_batch(
            spark, tmp_path, src, b, [(i, t, "en", "s0", len(t)) for i, t in rows]
        )
    dec_dir = str(tmp_path / "decisions")
    idx_dir = str(tmp_path / "index")
    S.run_near_dup_admission(
        spark, src.as_posix(), dec_dir, idx_dir, str(tmp_path / "ckpt")
    )
    got = {
        r["doc_id"]: (r["admitted"], r["reason"])
        for r in spark.read.parquet(dec_dir).collect()
    }
    want = _seq_admit(spark, batches)
    assert got == want

    # the fixture exercises every decision class
    assert got[10] == (False, "exact")  # cross-batch exact (q105)
    assert got[12] == (False, "exact")  # gram-less exact dup
    assert got[11] == (False, "near_dup")  # cross-batch near-dup
    assert got[21] == (False, "exact")  # within-batch exact
    assert got[22] == (False, "near_dup")  # near-dup of a later admission
    assert got[15] == (False, "near_dup")  # magic-M0 collision with doc 4
    assert got[16] == (True, "admitted")  # blocked ONLY by held 15 -> in

    # index state == admitted docs' band rows, nothing of the held ones
    import hive_backend_spark.operators.dedup as D

    adm = sorted(d for d, (a, _) in want.items() if a)
    all_docs = spark.createDataFrame(
        [(i, t) for rows in batches for i, t in rows], "doc_id bigint, text string"
    )
    want_rows = {
        (r["fp"], r["band_idx"], r["band_sig"])
        for r in D.explode_bands(
            all_docs.filter(F.col("doc_id").isin(adm)), "doc_id"
        )
        .join(
            all_docs.select("doc_id", F.md5("text").alias("fp")), "doc_id"
        )
        .select("fp", "band_idx", "band_sig")
        .collect()
    }
    got_rows = {
        (r["fp"], r["band_idx"], r["band_sig"])
        for r in S.read_neardup_index(spark, idx_dir).collect()
    }
    assert got_rows == want_rows


def test_near_dup_admission_replay_after_crash_is_idempotent(spark, tmp_path):
    """Crash between state write and checkpoint commit: the replayed batch
    re-reads each touched bucket's newest version < N and deterministically
    rewrites its own decisions partition and state versions — decisions
    and index are unchanged after the replay."""
    batches = _admission_batches()
    src = tmp_path / "src"
    src.mkdir()
    for b, rows in enumerate(batches):
        _mk_doc_batch(
            spark, tmp_path, src, b, [(i, t, "en", "s0", len(t)) for i, t in rows]
        )
    dec_dir = str(tmp_path / "decisions")
    idx_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    S.run_near_dup_admission(spark, src.as_posix(), dec_dir, idx_dir, ckpt)
    before_dec = sorted(
        tuple(r) for r in spark.read.parquet(dec_dir).collect()
    )
    before_idx = sorted(
        tuple(r) for r in S.read_neardup_index(spark, idx_dir).collect()
    )

    commits = os.path.join(ckpt, "admission", "commits")
    last = max((f for f in os.listdir(commits) if not f.startswith(".")), key=int)
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    S.run_near_dup_admission(spark, src.as_posix(), dec_dir, idx_dir, ckpt)
    after_dec = sorted(tuple(r) for r in spark.read.parquet(dec_dir).collect())
    after_idx = sorted(
        tuple(r) for r in S.read_neardup_index(spark, idx_dir).collect()
    )
    assert after_dec == before_dec
    assert after_idx == before_idx


def test_streaming_heavy_hitters_mg_guarantees(spark, stream_src):
    """The streaming Misra-Gries summary, after draining all micro-batches,
    must satisfy the MG contract per shard against the exact batch counts:
    (a) lower_bound <= true count for every surviving candidate,
    (b) undercount <= n_shard / (capacity + 1),
    (c) every key with true count > n_shard / (capacity + 1) survives,
    (d) at most `capacity` candidates per shard (bounded state)."""
    cap, shards = 4, 4
    got = _run_to_memory(
        spark,
        S.streaming_heavy_hitters(
            S.read_event_stream(spark, stream_src), capacity=cap, shards=shards
        ),
        "stream_mg",
        mode="update",
    )
    rows = got.collect()
    latest_v = {}
    for r in rows:
        latest_v[r["shard"]] = max(latest_v.get(r["shard"], 0), r["version"])
    final_rows = [r for r in rows if r["version"] == latest_v[r["shard"]]]
    batch = spark.read.schema(S.EVENT_SCHEMA).parquet(stream_src)
    true = (
        batch.select(
            (F.col("user_id") % shards).cast("int").alias("shard"),
            F.col("user_id").cast("string").alias("key"),
        )
        .groupBy("shard", "key")
        .count()
    )
    n_shard = true.groupBy("shard").agg(F.sum("count").alias("n_true"))

    f = {r["shard"]: {} for r in n_shard.collect()}
    for r in final_rows:
        f[r["shard"]][r["key"]] = (r["lower_bound"], r["n_shard"])
        assert len(f[r["shard"]]) <= cap, "state exceeded capacity"
    t = {(r["shard"], r["key"]): r["count"] for r in true.collect()}
    n_by_shard = {r["shard"]: r["n_true"] for r in n_shard.collect()}
    assert f and t
    for shard, cands in f.items():
        bound = n_by_shard[shard] / (cap + 1)
        for key, (lb, n_s) in cands.items():
            assert n_s == n_by_shard[shard], "state total drifted from truth"
            assert lb <= t[(shard, key)], f"lb overcounts: {shard}/{key}"
            assert t[(shard, key)] - lb <= bound, f"undercount bound: {shard}/{key}"
        for (s2, key), c in t.items():
            if s2 == shard and c > bound:
                assert key in cands, f"heavy hitter {key} evicted from shard {shard}"


def test_streaming_heavy_hitters_survives_restart(spark, tmp_path):
    """The MG summary's keyed state must survive a stop/resume on the same
    checkpoint: phase 1 drains 3 files, the query stops, 3 more arrive,
    phase 2 resumes. If state were lost, the final n_shard would count
    only phase-2 rows; instead it must equal the full per-shard truth and
    the candidate set must still satisfy the MG contract over ALL rows."""
    from pyspark.sql.window import Window

    from hive_backend_spark.catalog import load_table

    cap, shards = 4, 4
    events = load_table(spark, SF_DIR, "events").withColumn(
        "chunk", F.ntile(6).over(Window.orderBy("ts")) - 1
    )
    src = tmp_path / "src"
    os.makedirs(src)

    def publish(lo, hi):
        for i in range(lo, hi):
            d = tmp_path / f"stage_{i}"
            events.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
                "append"
            ).parquet(str(d))
            for f in d.glob("part-*.parquet"):
                shutil.move(str(f), str(src / f"batch_{i}.parquet"))
            shutil.rmtree(d)

    out = str(tmp_path / "mg_out")
    ckpt = str(tmp_path / "mg_ckpt")

    def run():
        q = (
            S.streaming_heavy_hitters(
                S.read_event_stream(spark, str(src)), capacity=cap, shards=shards
            )
            .writeStream.foreachBatch(
                lambda b, bid: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    publish(0, 3)
    run()
    publish(3, 6)
    run()

    emitted = spark.read.parquet(out).collect()
    latest_v = {}
    for r in emitted:
        latest_v[r["shard"]] = max(latest_v.get(r["shard"], 0), r["version"])
    assert all(v >= 2 for v in latest_v.values()), "no post-restart emission"
    final = [r for r in emitted if r["version"] == latest_v[r["shard"]]]

    batch = events.drop("chunk")
    true = (
        batch.select(
            (F.col("user_id") % shards).cast("int").alias("shard"),
            F.col("user_id").cast("string").alias("key"),
        )
        .groupBy("shard", "key")
        .count()
    )
    t = {(r["shard"], r["key"]): r["count"] for r in true.collect()}
    n_by_shard = {}
    for (shard, _), c in t.items():
        n_by_shard[shard] = n_by_shard.get(shard, 0) + c

    cands = {s: {} for s in n_by_shard}
    for r in final:
        # state continuity: totals cover BOTH phases, not just post-restart
        assert r["n_shard"] == n_by_shard[r["shard"]], "state lost on restart"
        cands[r["shard"]][r["key"]] = r["lower_bound"]
    for shard, kc in cands.items():
        assert len(kc) <= cap
        bound = n_by_shard[shard] / (cap + 1)
        for key, lb in kc.items():
            assert lb <= t[(shard, key)]
            assert t[(shard, key)] - lb <= bound
        for (s2, key), c in t.items():
            if s2 == shard and c > bound:
                assert key in kc, f"heavy hitter {key} lost across restart"


def test_flagship_flow_end_to_end_with_restart(spark, tmp_path):
    """The reference's flagship client flow (script.mjs:89-164) as ONE
    chained streaming pipeline — register -> broadcast both selections ->
    connect -> value updates -> poll both targets -> acknowledge — with a
    mid-flow crash between polls (VERDICT r7 item 6):

      1. register: a connections dimension (80% of users, deterministic
         user_id %% 5 != 0, each with an active connection id).
      2-3. broadcast + connect: streaming leg A = file stream ->
         stream-static broadcast enrich against the dimension (only
         registered users' events become queue messages) -> parquet
         staging sink (checkpointed).
      4-5. value updates + poll both targets: streaming leg B =
         run_prioritized_carryover over the staging dir — route to
         sheets/slides targets, serve bounded prioritized batches with
         cross-trigger carryover into batch_id-partitioned processed
         output.
      6. acknowledge: the q52 two-phase semantics in batch form — the
         served batch flows back as a broadcast semi join marking rows
         acknowledged; the acked id set must equal the served id set
         exactly.

    Between the two poll phases the newest carryover checkpoint commit is
    deleted (post-write/pre-commit crash), so one batch replays on
    restart: served rows must stay unique, every batch within budget."""
    from pyspark.sql.window import Window

    from hive_backend_spark.catalog import load_table

    # (ts, event_id) is a total order, so the chunk assignment is
    # deterministic across the two publish phases; persist pins it anyway
    # (re-evaluating ntile between actions must not move boundary rows)
    events = load_table(spark, SF_DIR, "events").withColumn(
        "chunk", F.ntile(6).over(Window.orderBy("ts", "event_id")) - 1
    )
    events.persist().count()
    src = tmp_path / "src"
    staging = str(tmp_path / "staging")
    processed = str(tmp_path / "processed")
    pending = str(tmp_path / "pending")
    os.makedirs(src)

    def publish(lo, hi):
        for i in range(lo, hi):
            d = tmp_path / f"stage_{i}"
            events.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
                "append"
            ).parquet(str(d))
            for f in d.glob("part-*.parquet"):
                shutil.move(str(f), str(src / f"batch_{i}.parquet"))
            shutil.rmtree(d)

    # 1. register: the connections dimension (the reference's POST
    # /connections step) — small, broadcast into every micro-batch
    connections = (
        events.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 5 != 0)
        .select(
            "user_id",
            F.concat(F.lit("conn-"), F.col("user_id")).alias("connection_id"),
            F.lit(True).alias("active"),
        )
    )
    connections.persist().count()

    def run_connect():  # leg A: broadcast both selections + connect
        ev = S.read_event_stream(spark, str(src))
        enriched = (
            S.enrich_stream(ev, connections, "user_id")
            .filter(F.col("active"))
            .select("event_id", "ts", "user_id", "event_type", "value", "props")
        )
        q = (
            enriched.writeStream.format("parquet")
            .option("path", staging)
            .option("checkpointLocation", str(tmp_path / "ckpt_connect"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def run_poll():  # leg B: value updates -> routed prioritized poll
        S.run_prioritized_carryover(
            spark, staging, processed, pending, str(tmp_path / "ckpt_poll"),
            batch_size=30,
        )

    # phase 1: first 4 update files flow through connect then poll
    publish(0, 4)
    run_connect()
    run_poll()

    # mid-flow crash: newest poll commit vanishes -> that batch replays
    commits = tmp_path / "ckpt_poll" / "carryover" / "commits"
    newest = sorted(
        (c for c in commits.iterdir() if not c.name.startswith(".")),
        key=lambda c: int(c.name),
    )[-1]
    crc = commits / f".{newest.name}.crc"
    newest.unlink()
    if crc.exists():
        crc.unlink()

    # phase 2: remaining updates arrive; both legs resume on checkpoints
    publish(4, 6)
    run_connect()
    run_poll()
    events.unpersist()

    served = spark.read.parquet(processed)
    queue = S.route_events(spark.read.schema(S.EVENT_SCHEMA).parquet(staging))

    # replay overwrote its own partition: served ids unique, budget held
    n_served = served.count()
    assert n_served > 0
    assert n_served == served.select("id").distinct().count()
    per_batch = served.groupBy("batch_id").count().collect()
    assert all(r["count"] <= 30 for r in per_batch)

    # the connect gate held: only registered users' messages were served
    assert served.join(queue, "id", "left_anti").count() == 0
    all_routed_direct = S.route_events(
        spark.read.schema(S.EVENT_SCHEMA).parquet(str(src))
    )
    unregistered = all_routed_direct.join(queue, "id", "left_anti")
    assert unregistered.count() > 0  # the dimension really filtered some
    assert served.join(unregistered, "id", "left_semi").count() == 0

    # both targets polled (the reference polls sheets AND slides)
    targets = {r["target_type"] for r in served.select("target_type").distinct().collect()}
    assert targets == {"sheets", "slides"}

    # 6. acknowledge: q52 two-phase semantics — served batch broadcast
    # semi-joins back, marking acknowledged; acked set == served set
    acked = (
        queue.join(F.broadcast(served.select("id")), "id", "left_semi")
        .withColumn("processed", F.lit(True))
        .withColumn("acknowledged", F.lit(True))
    )
    assert acked.count() == n_served
    assert acked.select("id").exceptAll(served.select("id")).count() == 0
    connections.unpersist()


def test_ewma_monitor_stream_matches_recursion_and_survives_crash(
    spark, stream_src, tmp_path
):
    """The cross-batch EWMA walk must equal the pure-python recursion over
    the per-file error rates, in file order; a post-write/pre-commit
    crash (newest checkpoint commit deleted) must replay its batch into
    the SAME monitor partition and state version — no duplicate rows, no
    double-fold of the replayed batch."""
    monitor = str(tmp_path / "monitor")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    S.ewma_monitor_stream(spark, stream_src, monitor, state, ckpt, lam=0.2)

    # simulated crash: newest commit vanishes -> last batch replays
    commits = tmp_path / "ckpt" / "ewma_monitor" / "commits"
    newest = sorted(
        (c for c in commits.iterdir() if not c.name.startswith(".")),
        key=lambda c: int(c.name),
    )[-1]
    crc = commits / f".{newest.name}.crc"
    newest.unlink()
    if crc.exists():
        crc.unlink()
    S.ewma_monitor_stream(spark, stream_src, monitor, state, ckpt, lam=0.2)

    rows = sorted(
        spark.read.parquet(monitor).collect(), key=lambda r: r["batch_id"]
    )
    # one verdict row per micro-batch (3 files, maxFilesPerTrigger=1),
    # no duplicates from the replay
    assert [r["batch_id"] for r in rows] == [0, 1, 2]

    # ground truth: python recursion over per-file rates in file order
    # (file source triggers in filename order for equal mod times)
    import os as _os

    z = None
    for k, fname in enumerate(sorted(_os.listdir(stream_src))):
        chunk = spark.read.schema(S.EVENT_SCHEMA).parquet(
            _os.path.join(stream_src, fname)
        )
        n = chunk.count()
        ne = chunk.filter(F.col("event_type") == "error").count()
        x = ne / n
        z = x if z is None else 0.2 * x + 0.8 * z
        r = rows[k]
        assert (r["n"], r["n_err"]) == (n, ne), (fname, r)
        assert abs(r["x"] - x) < 1e-12
        assert abs(r["z"] - z) < 1e-12, (fname, r["z"], z)

    # state holds exactly one live (slot, version) pair with i == 3
    from hive_backend_spark.streaming.pipeline import (
        EWMA_STATE_SCHEMA,
        VersionedStateTable,
    )

    final = VersionedStateTable(spark, state, EWMA_STATE_SCHEMA, "slot").read_latest()
    srow = final.collect()
    assert len(srow) == 1 and srow[0]["i"] == 3
    assert abs(srow[0]["z"] - z) < 1e-12


def test_session_emitter_stream_batch_parity(spark, stream_src):
    """session_emitter_stream emits exactly the CLOSED q57 sessions: every
    batch session except those still open at end-of-stream (a user's last
    session whose timeout the final watermark has not passed). Stream and
    batch must agree on (user, start, end, n_events) row for row."""
    import pandas as pd

    from hive_backend_spark.catalog import load_table

    got = _run_to_memory(
        spark,
        S.session_emitter_stream(S.read_event_stream(spark, stream_src)),
        "closed_sessions",
    ).collect()

    # batch reference: q57 sessionization over the same events
    from pyspark.sql.window import Window

    events = load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    numbered = events.withColumn(
        "is_new", F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    ).withColumn(
        "sid", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    sess = (
        numbered.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    )
    # closure rule mirrored from the operator: closed inline by a later
    # session of the same user, or timed out once the FINAL watermark
    # (global max ts - 1h delay) passed session_end + 30min gap.
    max_ts = load_table(spark, SF_DIR, "events").agg(F.max("ts")).collect()[0][0]
    wm = pd.Timestamp(max_ts) - pd.Timedelta(hours=1)
    by_user = {}
    for r in sess:
        by_user.setdefault(r["user_id"], []).append(r)
    expected = set()
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: r["session_start"])
        for i, r in enumerate(rows):
            inline_closed = i < len(rows) - 1
            timed_out = (
                pd.Timestamp(r["session_end"]) + pd.Timedelta(minutes=30) < wm
            )
            if inline_closed or timed_out:
                expected.add(
                    (uid, r["session_start"], r["session_end"], r["n_events"])
                )
    got_set = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in got
    }
    assert got_set == expected
    assert len(got_set) > 0


def test_near_dup_admission_template_flood_stays_bounded(spark, tmp_path):
    """Flood posture (round-10): a 30-variant template flood arriving
    ACROSS triggers must neither grow the persisted index nor the driver
    state — held docs never enter the index, so after the first variant
    admits, every later trigger's touched-bucket read is the SAME one
    admitted doc's rows, and the within-batch walk is admitted-key-set
    based (O(batch x bands) driver state), not a C(K,2) self-join edge
    list. Decisions must still match the one-at-a-time sequential
    reference (q105/q173 semantics)."""
    fill = lambda i: " ".join(f"v{i}w{j}" for j in range(6))
    # every variant carries the magic M0 shingle, so band 0's signature is
    # identical across all 30 — a deterministic single-bucket flood
    batches = [
        [(b * 100 + i, f"{_ADM_M0} {fill(b * 100 + i)}") for i in range(10)]
        for b in range(3)
    ]
    src = tmp_path / "src"
    src.mkdir()
    for b, rows in enumerate(batches):
        _mk_doc_batch(
            spark, tmp_path, src, b, [(i, t, "en", "s0", len(t)) for i, t in rows]
        )
    dec_dir = str(tmp_path / "decisions")
    idx_dir = str(tmp_path / "index")
    S.run_near_dup_admission(
        spark, src.as_posix(), dec_dir, idx_dir, str(tmp_path / "ckpt")
    )
    got = {
        r["doc_id"]: (r["admitted"], r["reason"])
        for r in spark.read.parquet(dec_dir).collect()
    }
    assert got == _seq_admit(spark, batches)
    admitted = [d for d, (a, _) in got.items() if a]
    assert admitted == [0]  # first variant wins, 29 held
    assert all(got[d] == (False, "near_dup") for d in got if d != 0)

    # index boundedness: after 3 flood triggers the standing index holds
    # exactly ONE doc's band rows — the volume every later trigger reads
    import hive_backend_spark.operators.dedup as D

    doc0 = spark.createDataFrame([batches[0][0]], "doc_id bigint, text string")
    want_n = (
        D.explode_bands(doc0, "doc_id").filter(F.col("band_sig").isNotNull()).count()
    )
    assert S.read_neardup_index(spark, idx_dir).count() == want_n


def test_versioned_state_drained_bucket_writes_sentinel_object(spark, tmp_path):
    """A touched partition whose NEW state is empty must supersede its
    prior version with a version dir that is durable on object stores:
    dynamic partitionBy writes nothing for an empty partition, and a bare
    mkdirs leaves only an empty-directory marker — which S3A does not
    keep durable once sibling objects churn, silently resurrecting the
    stale prior version. The sink therefore drops a zero-byte `_EMPTY`
    OBJECT into the dir; Spark's `_`-prefix listing rule keeps the read
    an empty frame."""
    from pyspark.sql.types import LongType, StructField, StructType

    from hive_backend_spark.streaming.pipeline import VersionedStateTable

    schema = StructType(
        [StructField("id", LongType()), StructField("band", LongType())]
    )
    tbl = VersionedStateTable(spark, str(tmp_path / "state"), schema, "band")

    df0 = spark.createDataFrame([(1, 0), (2, 0), (3, 1)], schema)
    tbl.overwrite_parts(df0, F.col("band"), {0, 1}, batch_id=0)
    assert {r["id"] for r in tbl.read_latest().collect()} == {1, 2, 3}

    # batch 1 drains band 0 (no surviving rows) while band 1 keeps one
    df1 = spark.createDataFrame([(3, 1)], schema)
    tbl.overwrite_parts(df1, F.col("band"), {0, 1}, batch_id=1)

    drained = tmp_path / "state" / "band=0" / "state_version=1"
    assert drained.is_dir()
    assert (drained / "_EMPTY").is_file(), (
        "drained bucket must carry an explicit sentinel OBJECT, not a "
        "bare directory entry"
    )
    got = tbl.read_latest().collect()
    assert [(r["id"], r["band"]) for r in got] == [(3, 1)]
    # and the sentinel version participates in pruning like any other
    tbl.prune(batch_id=2)
    assert sorted(p.name for p in (tmp_path / "state" / "band=0").iterdir()) == [
        "state_version=1"
    ]
