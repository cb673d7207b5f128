"""The queue pipeline, streaming-first (SURVEY §2.9).

Reference semantics reproduced (sites cited per row of SURVEY §2.9):
  Q1/Q2/Q9  enqueue + routing + priority   -> ``route_events`` projection
  Q3        bounded prioritized consume    -> per-micro-batch top-k in
            ``run_two_phase`` (per-batch ordering IS the reference contract:
            the reference orders within one poll's LIMIT, db.mjs:289-290)
  Q4/Q5     two-phase completion,          -> overwrite of the processed
            at-least-once redelivery          batch's own batch_id partition
                                              (replay-idempotent sink)
  Q6        dedup on unique id             -> ``dedup_stream``
            (dropDuplicatesWithinWatermark)
  Q7        heartbeat staleness            -> ``stale_users_stream``
            (applyInPandasWithState, ProcessingTime timeout)
  Q11      late-data extension             -> tumbling/sliding/session
            windows over event time with watermarks

Scale posture: file sources bound ingest with maxFilesPerTrigger; state
stores are keyed by (user|id) and bounded by watermark eviction; the
foreachBatch sink appends partitioned parquet — no driver-side collect
anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """File-source stream over events-shaped parquet. maxFilesPerTrigger is
    the ingest bound (the reference's MAX_BATCH_SIZE analog, server.mjs:134)."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def route_events(events: DataFrame) -> DataFrame:
    """Q1+Q2+Q9 producer shape — identical columns to the oracle-checked
    batch form (queries/queue.py q50): works unchanged on a batch OR
    streaming DataFrame, which is the point of declaring the logical plan."""
    is_sheets = F.col("event_type").isin("click", "view")
    return events.select(
        F.col("event_id").alias("id"),
        F.col("event_type").alias("type"),
        F.when(is_sheets, "sheets").otherwise("slides").alias("source_type"),
        F.when(is_sheets, "slides").otherwise("sheets").alias("target_type"),
        F.col("props").alias("content"),
        F.lit(False).alias("processed"),
        F.lit(False).alias("acknowledged"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("priority"),
        F.col("ts").alias("created_at"),
    )


def dedup_stream(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Q6 dedup on the unique id within an event-time watermark — the
    streaming form of the UNIQUE(id) constraint (db.mjs:49). State is
    evicted once the watermark passes, so memory is bounded by the delay,
    not the stream length."""
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(["event_id"])


def tumbling_counts(events: DataFrame, size: str = "6 hours", delay: str = "1 hour") -> DataFrame:
    """Q11 extension: tumbling event-time window counts per type."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w").getField("start").alias("window_start"), "event_type", "n")
    )


def sliding_counts(
    events: DataFrame, size: str = "6 hours", slide: str = "3 hours", delay: str = "1 hour"
) -> DataFrame:
    """Q11 extension: sliding event-time window counts per type."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", size, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w").getField("start").alias("window_start"), "event_type", "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", delay: str = "1 hour") -> DataFrame:
    """Q11 extension: per-user session windows (gap-based)."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w").getField("start").alias("session_start"),
            F.col("w").getField("end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stale_users_stream(events: DataFrame, timeout_ms: int | None = None) -> DataFrame:
    """Q7 heartbeat/staleness: per-user last_seen tracked in keyed state
    (the streaming analog of getStaleApps' last_seen < horizon scan,
    db.mjs:366-373). Emits (user_id, last_seen, n_events, stale) on every
    update.

    timeout_ms enables ProcessingTime timeouts for LIVE streams: a user
    with no events for the duration is emitted stale=True and evicted.
    Leave None for bounded/availableNow runs — processing-time timers wait
    on wall clock and stall a drain-and-stop query."""
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, last_seen timestamp, n_events bigint, stale boolean"
    state_schema = "last_seen timestamp, n_events bigint"

    def track(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if timeout_ms is not None and state.hasTimedOut:
            (last_seen, n) = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "last_seen": [last_seen], "n_events": [n], "stale": [True]}
            )
            return
        last_seen, n = (state.get if state.exists else (None, 0))
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            batch_max = pdf["ts"].max()
            last_seen = batch_max if last_seen is None else max(last_seen, batch_max)
            n += len(pdf)
        state.update((last_seen, n))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {"user_id": [user_id], "last_seen": [last_seen], "n_events": [n], "stale": [False]}
        )

    mode = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        track, out_schema, state_schema, "update", mode
    )


def _batch_dir(table_dir: str, batch_id: int) -> str:
    """The ``batch_id=N`` partition directory of a per-batch sink table.
    A sink writes its rows there with mode overwrite: a replay replaces only
    its own batch, and readers of ``table_dir`` see ``batch_id`` as a
    partition column. The id stays out of the plan on purpose: an integer
    literal is inlined into the generated code, so a ``lit(batch_id)``
    column compiles new classes on every trigger."""
    return os.path.join(table_dir, f"batch_id={batch_id}")


def run_two_phase(
    spark: SparkSession,
    source_dir: str,
    processed_dir: str,
    checkpoint_dir: str,
    batch_size: int = 100,
) -> None:
    """Q3+Q4+Q5 end to end: stream -> route -> per-micro-batch prioritized
    top-k -> write the processed batch (processed=true) to its batch_id
    partition. Runs with availableNow and blocks until the backlog drains.

    Sink idempotence: foreachBatch is at-least-once — a crash between the
    sink write and the checkpoint commit replays that batch on restart. A
    plain append would duplicate the replayed batch's rows, so each batch
    overwrites its own batch_id partition directory (``_batch_dir``, the
    drift-monitor sink's pattern): a replay overwrites ONLY its own
    partition, leaving every other batch intact — exactly-once per
    batch_id in the TABLE without a transactional format. The CONSUMER
    contract stays at-least-once like the reference (a consumer may have
    seen the pre-crash rows before the overwrite; redelivered rows are
    deduplicated downstream on id — Q5/Q6)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        picked = (
            batch_df.orderBy(
                F.coalesce(F.col("priority"), F.lit(0)).desc(),
                F.col("created_at").asc(),
                F.col("id").asc(),
            )
            .limit(batch_size)
            .withColumn("processed", F.lit(True))
        )
        picked.write.mode("overwrite").parquet(_batch_dir(processed_dir, batch_id))

    stream = route_events(read_event_stream(spark, source_dir))
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "two_phase"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def enrich_stream(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """J2 streaming form — stream-static dimension lookup: each micro-batch
    inner-joins the (small, broadcast) static dimension, exactly the
    reference's incoming-event-matched-against-local-connections step
    (sheets-code.gs:395, slides-code.gs:414). The dimension is re-resolved
    per micro-batch, so a dim refresh between triggers is picked up without
    restarting the stream. Same call works on a batch DataFrame."""
    return events.join(F.broadcast(dim), on, "inner")


def correlate_streams(
    selections: DataFrame,
    updates: DataFrame,
    within: str = "30 minutes",
    delay: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream event-time interval join: each selection event is
    matched to the update events the same user produced within `within`
    AFTER it — the streaming form of the reference's selection->value-update
    correlation (a selection broadcast, server.mjs:97-127, followed by the
    cell update it triggered, server.mjs:201-239), and the streaming mirror
    of the batch range join (q39).

    Both sides carry watermarks and the join condition bounds the time gap
    in BOTH directions, so Spark can size and evict the per-side join state:
    buffered rows are dropped once the other side's watermark passes their
    interval — state is bounded by (delay + within) of traffic per user,
    never by stream length. Without the interval bound this join would be
    required to buffer both streams forever.

    how='left_outer' additionally emits every selection that attracted NO
    update — but only once its interval is provably closed (the update-side
    watermark passed selection_ts + within), which is why outer stream-stream
    joins REQUIRE the watermark + interval bound that inner joins merely
    exploit. Unmatched rows carry nulls on the update columns — the
    dead-letter view of selections that never produced a value update."""
    s = selections.withWatermark("ts", delay).alias("s")
    u = updates.withWatermark("ts", delay).alias("u")
    return s.join(
        u,
        F.expr(
            f"""s.user_id = u.user_id
            AND u.ts >= s.ts
            AND u.ts <= s.ts + INTERVAL {within}"""
        ),
        how,
    ).select(
        F.col("s.event_id").alias("selection_id"),
        F.col("s.ts").alias("selection_ts"),
        F.col("s.user_id").alias("user_id"),
        F.col("u.event_id").alias("update_id"),
        F.col("u.ts").alias("update_ts"),
        F.col("u.value").alias("value"),
    )


def rollup_stream(events: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Continuous-aggregate hierarchy — the streaming mirror of
    q85_rollup_hierarchy (minute -> hour composition): minute-level partial
    aggregates roll into hourly aggregates INSIDE one streaming query via
    chained event-time window aggregation (window over window_time). The
    hourly state consumes closed minute windows, so late data within the
    watermark delay corrects both levels; per-trigger work is bounded by
    open windows, not stream length. This is the standard shape for
    maintaining a multi-resolution rollup (hypertable-style) over an
    unbounded event stream."""
    minute = (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 minute").alias("wm"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    return (
        minute.groupBy(F.window(F.window_time("wm"), "1 hour").alias("wh"), "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_value").alias("sum_value"))
        .select(F.col("wh.start").alias("hour_start"), "event_type", "n", "sum_value")
    )


def batch_value_drift(current: DataFrame, reference: DataFrame) -> DataFrame:
    """Two-sample KS statistic on the `value` distribution per event_type
    between `current` and a `reference` DataFrame — the batch kernel of
    ``drift_monitor_stream`` and the generic form of q147's corpus drift
    monitor. Returns one row per event_type present in either side:
    (event_type, n_ref, n_cur, ks_stat, ks_crit, drifted) with the
    alpha=0.01 critical value 1.63*sqrt((n1+n2)/(n1*n2)).

    Shuffle shape: both sides reduce to (event_type, value) counts before
    anything global happens; the ECDF cumsums run over that reduced
    relation partitioned by event_type.

    One-sided types: an event_type present on only one side has no KS
    statistic (nr or nc = 0 — the ECDF ratio is undefined), and under the
    session's ANSI mode a plain division would kill the whole stream with
    DIVIDE_BY_ZERO on exactly the batch that matters. try_divide keeps
    ks_stat/ks_crit NULL for those rows, and `drifted` is explicitly TRUE:
    a type appearing or vanishing IS the distribution change the monitor
    exists to catch."""
    from pyspark.sql.window import Window

    tagged = reference.select(
        "event_type", "value", F.lit(1).alias("is_ref")
    ).unionByName(current.select("event_type", "value", F.lit(0).alias("is_ref")))
    per = tagged.groupBy("event_type", "value").agg(
        F.sum("is_ref").cast("bigint").alias("c_ref"),
        F.sum(1 - F.col("is_ref")).cast("bigint").alias("c_cur"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    c = per.select(
        "event_type",
        F.sum("c_ref").over(wcum).alias("cr"),
        F.sum("c_cur").over(wcum).alias("cc"),
        F.sum("c_ref").over(wall).alias("nr"),
        F.sum("c_cur").over(wall).alias("nc"),
    )
    diff = F.abs(
        F.try_divide(F.col("cr"), F.col("nr").cast("double"))
        - F.try_divide(F.col("cc"), F.col("nc").cast("double"))
    )
    crit = 1.63 * F.sqrt(
        F.try_divide(
            F.max("nr") + F.max("nc"),
            F.max("nr").cast("double") * F.max("nc"),
        )
    )
    one_sided = (F.max("nr") == 0) | (F.max("nc") == 0)
    return c.groupBy("event_type").agg(
        F.max("nr").cast("bigint").alias("n_ref"),
        F.max("nc").cast("bigint").alias("n_cur"),
        F.round(F.max(diff), 6).alias("ks_stat"),
        F.round(crit, 6).alias("ks_crit"),
        F.when(one_sided, F.lit(True))
        .otherwise(F.max(diff) > crit)
        .alias("drifted"),
    )


def drift_monitor_stream(
    spark: SparkSession,
    source_dir: str,
    reference: DataFrame,
    monitor_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Per-ingest-batch drift gate — the streaming mirror of the corpus
    drift monitor (q147): every micro-batch's per-type `value`
    distribution is KS-tested against a static reference distribution
    inside foreachBatch, and the verdict rows (stamped with batch_id)
    append to a monitor table. This is the production shape for "stop
    the ingest if the scraper changed": the verdict table is tiny
    (|types| rows per trigger), the reference is re-resolved per batch
    (a refresh is picked up without restarting the stream), and the
    checkpoint makes the monitor restart-safe. Runs availableNow and
    drains the backlog.

    Restart idempotence: foreachBatch is at-least-once — a failure
    between the sink write and the checkpoint commit replays the batch
    on restart. A plain append would duplicate that batch's verdict
    rows, so each batch overwrites its own batch_id partition directory
    (``_batch_dir``): the replay overwrites ONLY its own
    partition, leaving every other batch's verdicts intact — exactly-
    once per batch_id without a transactional table format."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_value_drift(batch_df, reference).write.mode("overwrite").parquet(
            _batch_dir(monitor_dir, batch_id)
        )

    stream = read_event_stream(spark, source_dir, max_files_per_trigger)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "drift_monitor"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def rate_limit_stream(events: DataFrame, cap: int = 3) -> DataFrame:
    """Streaming rate-limit admission — the live form of the q164 batch
    replay: each user admits at most `cap` events per clock-hour window;
    excess arrivals are emitted with admitted=False. Keyed state is ONE
    counter per (user, hour) group (the already-admitted count), so state
    size is bounded by active keys and a watermark can evict closed hours
    in a live deployment. Within a micro-batch, rows are processed in
    (ts, event_id) order — the same total order the batch kernel ranks
    by — so on in-order ingest the admitted set is identical to the
    batch replay (asserted by the parity test); on out-of-order ingest
    the stream necessarily admits in arrival order, which is the
    semantics a live limiter actually has.

    Emits (event_id, user_id, window_start, rk, admitted) per event."""
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "event_id bigint, user_id bigint, window_start timestamp, "
        "rk bigint, admitted boolean"
    )
    state_schema = "n_admitted bigint"

    def limiter(key, pdfs, state: GroupState):
        import pandas as pd

        user_id, window_start = key
        (n,) = state.get if state.exists else (0,)
        frames = []
        for pdf in pdfs:
            if len(pdf):
                frames.append(pdf[["event_id", "ts"]])
        if not frames:
            state.update((n,))
            return
        batch = pd.concat(frames).sort_values(["ts", "event_id"])
        rks = range(n + 1, n + 1 + len(batch))
        out = pd.DataFrame(
            {
                "event_id": batch["event_id"].to_numpy(),
                "user_id": user_id,
                "window_start": window_start,
                "rk": list(rks),
            }
        )
        out["admitted"] = out["rk"] <= cap
        state.update((n + len(batch),))
        yield out

    keyed = events.withColumn(
        "window_start", F.date_trunc("hour", F.col("ts"))
    ).groupBy("user_id", "window_start")
    return keyed.applyInPandasWithState(
        limiter, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def windowed_distinct_users(
    events: DataFrame, size: str = "6 hours", delay: str = "1 hour"
) -> DataFrame:
    """Exact distinct users per tumbling window, streaming-safe: Structured
    Streaming forbids COUNT(DISTINCT) in streaming aggregations, so the
    standard recipe is dedup-then-count — dropDuplicates on (window,
    user_id) holds one state row per distinct pair (watermark-evicted when
    the window closes), and the downstream count is a plain streaming agg.
    Same result as the batch count-distinct on identical input (parity
    test), with state bounded by |active windows| x |users seen in them|
    — the exact cost any engine pays for exact distinct over streams."""
    withw = events.withWatermark("ts", delay).select(
        F.window("ts", size).alias("w"), "user_id"
    )
    deduped = withw.dropDuplicates(["w", "user_id"])
    return deduped.groupBy("w").agg(
        F.count(F.lit(1)).alias("distinct_users")
    ).select(
        F.col("w").getField("start").alias("window_start"),
        F.col("w").getField("end").alias("window_end"),
        "distinct_users",
    )


def batch_value_psi(
    current: DataFrame, reference: DataFrame, eps: float = 0.0005
) -> DataFrame:
    """Population Stability Index on the `value` distribution per
    event_type between `current` and `reference` — q180's batch kernel
    generalized to any two frames, completing the streaming drift pair
    (``batch_value_drift`` answers WHETHER via KS; this localizes WHICH
    decile region moved and reports the industry 0.2-alarm). Buckets are
    the REFERENCE's own per-type deciles; shares floored at `eps` so an
    empty bucket contributes a large finite term, never infinity. A type
    with no reference rows has no bucket basis: emitted with psi NULL and
    drifted TRUE (a brand-new type IS a population shift).

    Returns one row per event_type: (event_type, n_ref, n_cur, psi,
    drifted). Shuffle shape: one decile aggregate per type on the
    reference, broadcast as a 9-value array; bucket assignment rides the
    scan; the report reduces |types x 10| bucket rows."""
    cuts = reference.groupBy("event_type").agg(
        F.expr(
            "percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("c")
    )
    tagged = reference.select(
        "event_type", "value", F.lit(1).alias("is_ref")
    ).unionByName(current.select("event_type", "value", F.lit(0).alias("is_ref")))
    b = tagged.join(F.broadcast(cuts), "event_type", "left").select(
        "event_type",
        "is_ref",
        F.when(
            F.col("c").isNotNull(),
            F.size(F.filter(F.col("c"), lambda v: v < F.col("value"))),
        ).alias("bucket"),
    )
    per = b.groupBy("event_type", "bucket").agg(
        F.sum("is_ref").cast("bigint").alias("ref_n"),
        F.sum(1 - F.col("is_ref")).cast("bigint").alias("cur_n"),
    )
    from pyspark.sql.window import Window

    wall = Window.partitionBy("event_type")
    sh = per.select(
        "event_type",
        "bucket",
        F.sum("ref_n").over(wall).alias("nr"),
        F.sum("cur_n").over(wall).alias("nc"),
        F.greatest(
            F.try_divide(F.col("ref_n"), F.sum("ref_n").over(wall).cast("double")),
            F.lit(eps),
        ).alias("p"),
        F.greatest(
            F.try_divide(F.col("cur_n"), F.sum("cur_n").over(wall).cast("double")),
            F.lit(eps),
        ).alias("q"),
    )
    term = (F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))
    no_basis = (F.max("nr") == 0) | (F.min(F.col("bucket").isNull().cast("int")) == 1)
    return sh.groupBy("event_type").agg(
        F.max("nr").cast("bigint").alias("n_ref"),
        F.max("nc").cast("bigint").alias("n_cur"),
        F.when(no_basis, F.lit(None).cast("double"))
        .otherwise(F.round(F.sum(term), 6))
        .alias("psi"),
        F.when(no_basis, F.lit(True)).otherwise(F.sum(term) > 0.2).alias("drifted"),
    )


ROUTED_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("type", StringType()),
        StructField("source_type", StringType()),
        StructField("target_type", StringType()),
        StructField("content", StringType()),
        StructField("processed", BooleanType()),
        StructField("acknowledged", BooleanType()),
        StructField("priority", IntegerType()),
        StructField("created_at", TimestampType()),
    ]
)


def _state_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path class) for `path` — version discovery and
    pruning go through the Hadoop FS API so the state table works on any
    supported filesystem (local, HDFS, S3A), not just driver-local disk."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), (
        spark._jvm.org.apache.hadoop.fs.Path
    )


class VersionedStateTable:
    """Partitioned, versioned parquet state for foreachBatch sinks:
    ``root/<part_key>=<P>/state_version=<N>`` holds partition P's state
    after the last batch <= N that touched it. The contract every consumer
    (queue backlog, standing index) relies on:

      - a trigger rewrites ONLY the partitions it touched — per-trigger
        write cost is O(touched state), not O(total state);
      - a replay of batch N reads each partition's newest version < N
        (pruning keeps it until a later batch supersedes it), so the
        crash window between sink write and checkpoint commit is
        idempotent for any deterministic sink;
      - discovery and pruning go through the Hadoop FS API, so the state
        dir works on local disk, HDFS, or S3A alike.
    """

    def __init__(self, spark: SparkSession, root: str, schema, part_key: str):
        self.spark = spark
        self.root = root
        self.schema = schema
        self.part_key = part_key

    def _part_dir(self, part, version: int) -> str:
        return os.path.join(
            self.root, f"{self.part_key}={part}", f"state_version={version}"
        )

    def versions(self) -> dict[str, list[int]]:
        """{partition token -> sorted versions present}, via Hadoop FS."""
        fs, Path = _state_fs(self.spark, self.root)
        root = Path(self.root)
        if not fs.exists(root):
            return {}
        out: dict[str, list[int]] = {}
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith(f"{self.part_key}="):
                continue
            vers = sorted(
                int(s.getPath().getName().split("=", 1)[1])
                for s in fs.listStatus(st.getPath())
                if s.getPath().getName().startswith("state_version=")
            )
            if vers:
                out[name.split("=", 1)[1]] = vers
        return out

    def read_latest(self, before_batch: int | None = None) -> DataFrame:
        """The table as of a batch boundary: per partition, its latest
        state_version (< before_batch if given), as ONE multi-path scan.
        Empty-schema DataFrame when no state exists yet."""
        # basePath keeps Hive partition discovery alive for the leaf read,
        # so the part column — stored in the DIR name by the round-12
        # single-job writer, in the data files by older versions — lands in
        # the declared schema either way. Discovery surfaces BOTH path
        # components (part key + state_version); ones the declared schema
        # doesn't carry are read as strings and dropped.
        # Round 13: every selected leaf dir goes into a SINGLE
        # spark.read.parquet(*paths) relation instead of a per-bucket
        # union — the union's 17 scan nodes each paid their own listing
        # and planning, which the admission-sink profile showed was the
        # dominant probe cost (the relation is evaluated twice per
        # trigger: probe + merged state write).
        names = [f.name for f in self.schema.fields]
        read_schema = StructType(list(self.schema.fields))
        for pc in (self.part_key, "state_version"):
            if pc not in names:
                read_schema = read_schema.add(StructField(pc, StringType()))
        paths = []
        for tok, vers in self.versions().items():
            use = [v for v in vers if before_batch is None or v < before_batch]
            if use:
                paths.append(self._part_dir(tok, use[-1]))
        if not paths:
            return self.spark.createDataFrame([], self.schema)
        return (
            self.spark.read.schema(read_schema)
            .option("basePath", self.root)
            .parquet(*sorted(paths))
            .select(*names)
        )

    def overwrite_parts(self, df: DataFrame, part_col, touched, batch_id: int) -> None:
        """Write batch_id's version of each touched partition (and only
        those). `touched` is bounded by construction at every call site
        (priority codomain, 16 hex term buckets).

        ONE write job lays out every touched partition: partitionBy writes
        `{part}=tok/` directories into ``root/_staging-N`` (the `_` prefix
        hides it from ``versions``), and each is then renamed through the
        Hadoop FS to `{part}=tok/state_version=N`. The version lives only in
        the directory name, never in the plan — a `lit(batch_id)` column
        is inlined into generated code and recompiled on every trigger.
        Repartition by the part column gives one output file per bucket.
        A replay of batch N deletes whatever a crashed attempt left at
        version N (and its staging directory) before writing again."""
        fs, Path = _state_fs(self.spark, self.root)
        staging = Path(self.root, f"_staging-{batch_id}")
        (
            df.filter(part_col.isin(*sorted(touched)))
            .withColumn(self.part_key, part_col)
            .repartition(F.col(self.part_key))
            .write.mode("overwrite")
            .partitionBy(self.part_key)
            .parquet(staging.toString())
        )
        for part in sorted(touched):
            d = Path(self._part_dir(part, batch_id))
            if fs.exists(d):
                fs.delete(d, True)
            staged = Path(staging, f"{self.part_key}={part}")
            if fs.exists(staged):
                fs.mkdirs(d.getParent())
                if not fs.rename(staged, d):
                    raise OSError(f"could not move {staged.toString()} to {d.toString()}")
                continue
            # partitionBy writes nothing for a touched partition whose
            # new state is EMPTY — but that empty state must still supersede
            # the previous version (a drained bucket that kept its old rows
            # would re-serve them; caught by the restart-idempotence test).
            # The sentinel is a zero-byte `_EMPTY` OBJECT inside the version
            # dir, not a bare mkdirs: on S3A an empty-directory marker is not
            # durable once sibling objects churn (the prefix can vanish and
            # the drained bucket would re-serve its stale prior version), while
            # a real object persists. Spark's file listing skips `_`-prefixed
            # names, so the dir still reads back as an empty frame under the
            # declared schema, exactly like the per-part writer's empty write.
            fs.mkdirs(d)
            fs.create(Path(d, "_EMPTY"), True).close()
        fs.delete(staging, True)

    def prune(self, batch_id: int) -> None:
        """Per partition: a replay of batch N needs only the newest
        version <= N-1; keep that and anything newer, drop the rest."""
        fs, Path = _state_fs(self.spark, self.root)
        for tok, vers in self.versions().items():
            prior = [v for v in vers if v <= batch_id - 1]
            keep = set(prior[-1:]) | {v for v in vers if v >= batch_id}
            for v in vers:
                if v not in keep:
                    fs.delete(Path(self._part_dir(tok, v)), True)


def read_pending_state(
    spark: SparkSession, pending_dir: str, before_batch: int | None = None
) -> DataFrame:
    """The carryover backlog as of a batch boundary (the band-partitioned
    VersionedStateTable read)."""
    return VersionedStateTable(spark, pending_dir, ROUTED_SCHEMA, "band").read_latest(
        before_batch
    )


def run_prioritized_carryover(
    spark: SparkSession,
    source_dir: str,
    processed_dir: str,
    pending_dir: str,
    checkpoint_dir: str,
    batch_size: int = 100,
) -> None:
    """Q3 extension — priority order held ACROSS triggers, not just within
    one micro-batch: unserved rows carry forward, so a high-priority
    message that missed its arrival batch's quota is served before any
    lower-priority later arrival (the semantics a production queue needs;
    the reference's per-poll LIMIT, db.mjs:285-293, is the per-batch form
    ``run_two_phase`` mirrors).

    Mechanics: the pending backlog lives in a VERSIONED parquet state
    table PARTITIONED BY PRIORITY BAND
    (pending_dir/band=B/state_version=N = band B's backlog after the last
    batch <= N that TOUCHED it). Each micro-batch unions the new arrivals
    with every band's latest prior version, takes the global top-k by
    (priority desc, created_at, id) — TakeOrderedAndProject, a distributed
    per-partition top-k + k-row merge, never a global sort or a
    single-task state funnel — serves it to the processed table's batch_id
    partition, and rewrites ONLY the bands the trigger touched (bands with
    arrivals or served rows, observed on the pick job itself). An
    untouched band's state files are not rewritten at all — per-trigger
    write cost is O(touched backlog), not O(total backlog), which is what
    lets a deep low-priority backlog sit cheaply while the hot band
    churns.

    Restart idempotence: a replay of batch N re-reads each band's latest
    version < N (pruning keeps it: per band, the newest version <= N-1
    survives until a LATER batch supersedes it) and overwrites exactly its
    own outputs (processed batch_id=N partition, band/state_version=N for
    the same deterministic touched set), so the crash window between sink
    write and checkpoint commit duplicates nothing. All state discovery
    and pruning go through the Hadoop FS API (``_state_fs``), so
    checkpoint/state dirs on HDFS or S3 behave identically to local disk.
    State size is the backlog itself — the irreducible state of any
    queue — held distributed in parquet, not in executor memory."""
    band_of = F.coalesce(F.col("priority"), F.lit(0))

    def sink(arrivals: DataFrame, batch_id: int) -> None:
        sess = arrivals.sparkSession
        state = VersionedStateTable(sess, pending_dir, ROUTED_SCHEMA, "band")
        carry = state.read_latest(before_batch=batch_id)
        # touched = bands with new arrivals (state grows) or served rows
        # (state shrinks), a |bands|-bounded set (priority codomain),
        # observed on the pick job rather than by two more jobs
        arrived, served = Observation(), Observation()
        avail = arrivals.observe(
            arrived, F.collect_set(band_of).alias("bands")
        ).unionByName(carry)
        # (priority, created_at, id) is a TOTAL order (id unique), so the
        # served set is deterministic — a replay picks the same rows
        picked = (
            avail.orderBy(
                F.coalesce(F.col("priority"), F.lit(0)).desc(),
                F.col("created_at").asc(),
                F.col("id").asc(),
            )
            .limit(batch_size)
            .observe(served, F.collect_set(band_of).alias("bands"))
            .localCheckpoint()  # k rows, pinned so serve and remainder agree
        )
        touched = set(arrived.get["bands"]) | set(served.get["bands"])
        rest = avail.join(picked.select("id"), "id", "left_anti").select(
            *[f.name for f in ROUTED_SCHEMA.fields]
        )
        picked.withColumn("processed", F.lit(True)).write.mode("overwrite").parquet(
            _batch_dir(processed_dir, batch_id)
        )
        state.overwrite_parts(rest, band_of, touched, batch_id)
        state.prune(batch_id)

    stream = route_events(read_event_stream(spark, source_dir))
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "carryover"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def batch_type_chi2(current: DataFrame, reference: DataFrame) -> DataFrame:
    """Chi-square test of the event_type COMPOSITION between `current` and
    `reference` — the categorical member of the streaming drift trio
    (``batch_value_drift`` = numeric KS, ``batch_value_psi`` = decile
    shares; neither sees a route-mix change where VALUES stay put). Same
    independence model as the batch audit (q196): expected count = row
    total x side share; types absent from one side still contribute (their
    expected mass is nonzero as long as the side has any rows). Returns
    one row per event_type: (event_type, n_ref, n_cur, chi2_term) plus the
    test verdict columns (chi2_total, dof, chi2_crit_99, drifted) repeated
    per row. A side with zero rows total has no composition to compare:
    chi2 columns NULL, drifted TRUE.

    Shuffle shape: both sides reduce to |types| count rows before anything
    global happens; the test arithmetic runs on that bounded relation."""
    from ..queries.text import chi2_crit_99_col  # shared dof -> critical value
    from pyspark.sql.window import Window

    tagged = reference.select("event_type", F.lit(1).alias("is_ref")).unionByName(
        current.select("event_type", F.lit(0).alias("is_ref"))
    )
    per = tagged.groupBy("event_type").agg(
        F.sum("is_ref").cast("bigint").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("bigint").alias("n_cur"),
    )
    wall = Window.partitionBy()  # |types| rows — bounded
    tot_r = F.sum("n_ref").over(wall)
    tot_c = F.sum("n_cur").over(wall)
    n_types = F.count(F.lit(1)).over(wall)
    row_tot = F.col("n_ref") + F.col("n_cur")
    exp_r = row_tot * tot_r / (tot_r + tot_c).cast("double")
    exp_c = row_tot * tot_c / (tot_r + tot_c).cast("double")
    term = F.when(exp_r > 0, (F.col("n_ref") - exp_r) ** 2 / exp_r).otherwise(
        F.lit(0.0)
    ) + F.when(exp_c > 0, (F.col("n_cur") - exp_c) ** 2 / exp_c).otherwise(F.lit(0.0))
    one_sided = (tot_r == 0) | (tot_c == 0)
    scored = per.select(
        "event_type",
        "n_ref",
        "n_cur",
        F.when(one_sided, F.lit(None).cast("double")).otherwise(term).alias("term"),
        (n_types - 1).cast("bigint").alias("dof"),
        one_sided.alias("one_sided"),
    )
    crit = chi2_crit_99_col(F.col("dof"))
    w2 = Window.partitionBy()
    return scored.select(
        "event_type",
        "n_ref",
        "n_cur",
        F.round("term", 4).alias("chi2_term"),
        F.round(F.sum("term").over(w2), 4).alias("chi2_total"),
        "dof",
        crit.alias("chi2_crit_99"),
        F.when(F.col("one_sided"), F.lit(True))
        .otherwise(F.sum("term").over(w2) > crit)
        .alias("drifted"),
    )


# --- incremental inverted-index maintenance ----------------------------------

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

INDEX_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("df", LongType()),
        StructField("cf", LongType()),
        StructField("head", ArrayType(LongType())),
        StructField("tbucket", StringType()),
    ]
)

_INDEX_HEAD_K = 20


def read_document_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """File-source stream over documents-shaped parquet — the crawl-batch
    arrival feed for the standing index."""
    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def merge_partial_indexes(base: DataFrame, delta: DataFrame) -> DataFrame:
    """q217's merge on (term, df, cf, head-array) rows: df/cf add over
    disjoint doc sets; the merged posting head is sort(concat)[:k] — exact
    because a min-k head is a mergeable summary. Returns rows with the
    term's hex bucket recomputed (the index table's partition key)."""
    b = base.select(
        "term",
        F.col("df").alias("df_b"),
        F.col("cf").alias("cf_b"),
        F.col("head").alias("head_b"),
    )
    d = delta.select(
        "term",
        F.col("df").alias("df_d"),
        F.col("cf").alias("cf_d"),
        F.col("head").alias("head_d"),
    )
    empty = F.array().cast("array<bigint>")
    head = F.slice(
        F.sort_array(
            F.concat(
                F.coalesce(F.col("head_b"), empty),
                F.coalesce(F.col("head_d"), empty),
            )
        ),
        1,
        _INDEX_HEAD_K,
    )
    return b.join(d, "term", "full_outer").select(
        "term",
        (F.coalesce(F.col("df_b"), F.lit(0)) + F.coalesce(F.col("df_d"), F.lit(0)))
        .cast("bigint")
        .alias("df"),
        (F.coalesce(F.col("cf_b"), F.lit(0)) + F.coalesce(F.col("cf_d"), F.lit(0)))
        .cast("bigint")
        .alias("cf"),
        head.alias("head"),
        F.substring(F.md5("term"), 1, 1).alias("tbucket"),
    )


def read_index_state(spark: SparkSession, index_dir: str) -> DataFrame:
    """The standing index's current state (term, df, cf, head, tbucket)."""
    return VersionedStateTable(spark, index_dir, INDEX_SCHEMA, "tbucket").read_latest()


def run_incremental_index(
    spark: SparkSession, source_dir: str, index_dir: str, checkpoint_dir: str
) -> None:
    """Standing inverted index maintained incrementally from a document
    stream — the production form of q217's merge==rebuild contract: each
    micro-batch builds the DELTA's partial index (O(batch postings)),
    reads only the 16-way term-bucket partitions its terms touch from the
    VersionedStateTable, full-outer-merges index ROWS (term, counts,
    min-{_INDEX_HEAD_K} head — never documents), and rewrites just those
    buckets at the batch's version. The base corpus is never re-read and
    untouched buckets are never rewritten.

    Restart idempotence is the state table's contract: a replay re-reads
    each bucket's newest version < N and deterministically rewrites its
    own output. Equality with a from-scratch rebuild after every batch is
    pinned in tests (merge==rebuild, the q126/q217 discipline)."""
    from ..queries.corpus import _partial_index

    def sink(docs: DataFrame, batch_id: int) -> None:
        sess = docs.sparkSession
        state = VersionedStateTable(sess, index_dir, INDEX_SCHEMA, "tbucket")
        delta = _partial_index(docs).withColumn(
            "tbucket", F.substring(F.md5("term"), 1, 1)
        )
        touched = {
            r["tbucket"] for r in delta.select("tbucket").distinct().collect()
        }  # <= 16 hex buckets — bounded by construction
        if not touched:
            state.prune(batch_id)
            return
        prior = state.read_latest(before_batch=batch_id).filter(
            F.col("tbucket").isin(*touched)
        )
        merged = merge_partial_indexes(prior, delta)
        state.overwrite_parts(merged, F.col("tbucket"), touched, batch_id)
        state.prune(batch_id)

    q = (
        read_document_stream(spark, source_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "inc_index"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# --- stream-side near-dup admission (streaming mirror of q105 + q173) --------

NEARDUP_STATE_SCHEMA = StructType(
    [
        StructField("fp", StringType()),        # md5(text) — exact identity
        StructField("band_idx", IntegerType()),
        StructField("band_sig", StringType()),  # NULL for gram-less texts
        StructField("sbucket", StringType()),   # substr(band_sig,1,1) | '_'
    ]
)

def _sbucket_col():
    # built lazily: Column construction needs an active SparkContext
    return F.coalesce(F.substring("band_sig", 1, 1), F.lit("_"))


def read_neardup_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The standing admission index: one (fp, band_idx, band_sig) row per
    admitted document per band, partitioned by band-signature hex prefix
    ('_' parks the NULL-signature rows of gram-less texts, which still
    serve as exact-fingerprint membership markers)."""
    return VersionedStateTable(
        spark, index_dir, NEARDUP_STATE_SCHEMA, "sbucket"
    ).read_latest()


def run_near_dup_admission(
    spark: SparkSession,
    source_dir: str,
    decisions_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streamed documents are ADMITTED or HELD against a persisted LSH band
    index — the streaming mirror of q105's exact-fingerprint admission
    lifted to near-dups (q173's incremental-probe contract kept alive
    across triggers): only the arriving batch pays the signature pass; the
    standing corpus is probed by band digest, never re-signed.

    Admission rule (equivalent to processing arrivals one at a time in
    doc_id order — the sequential reference the parity test replays):
      - exact duplicate of an indexed or earlier-ADMITTED doc -> held
        ('exact': the q105 anti-join predicate);
      - shares >= 1 LSH band with an indexed or earlier-ADMITTED doc ->
        held ('near_dup': the q67/q173 candidate predicate);
      - otherwise admitted, and its band rows join the index.
    HELD documents do NOT enter the index, so a later arrival blocked only
    by a held doc is admitted — exactly what one-at-a-time processing
    does (held docs never existed, index-wise).

    Per trigger: the batch's band table (delta-only signature pass,
    mapInPandas) determines <= 17 touched signature buckets; ONLY those
    partitions of the VersionedStateTable are read (the band probe is an
    equi-join on band_sig, so non-matching prefixes cannot hit; an exact
    duplicate's rows are co-located by construction — identical text =>
    identical band digests), and only they are rewritten with the admitted
    rows merged in. Driver state per trigger is the decision walk's input:
    one row per batch doc plus the batch's self-collision edges — bounded
    by the micro-batch (a crawl shard) and its internal near-dup edge
    count, the irreducible input of the sequential rule; the corpus-side
    index is never collected.

    Restart idempotence is the state table's contract (replay reads each
    bucket's newest version < N, rewrites exactly its own outputs;
    decisions_dir overwrites its own batch_id partition directory) —
    pinned by the crash-replay test, same rigor as the incremental index."""
    from ..operators import dedup as D

    def sink(docs: DataFrame, batch_id: int) -> None:
        # Round-12 action-count collapse (r11 verdict task #4): the r11
        # sink referenced the lazily-built band frame from FOUR separate
        # actions, re-running the signature mapInPandas pass each time
        # (~25-30 s per 500-doc trigger, all fixed cost). Now the batch's
        # band rows — O(docs x 17), linear by construction — are collected
        # ONCE; every batch-local structure (touched buckets, per-doc band
        # keys, fingerprints, the new index rows) derives from that local
        # list, and the persisted index is probed by ONE combined job
        # (exact-fp semi-join union band semi-join). Per trigger: 1 band
        # collect + 1 probe + 2 writes, down from ~8 jobs / 4 signature
        # passes. Measured: BENCH_stream_r12.json.
        sess = docs.sparkSession
        state = VersionedStateTable(
            sess, index_dir, NEARDUP_STATE_SCHEMA, "sbucket"
        )
        base = docs.select("doc_id", "text", F.md5("text").alias("fp"))
        bands = (
            D.explode_bands(base.select("doc_id", "text"), "doc_id")
            .join(base.select("doc_id", "fp"), "doc_id")
            .withColumn("sbucket", _sbucket_col())
        )
        # ONE action materializes the signature pass; everything
        # batch-local below is pure driver-side bookkeeping over it.
        # Driver state stays linear in the batch: each doc contributes its
        # fp plus a fixed band count — NOT the C(K,2) self-join edges a
        # template-flood micro-batch would explode (the r10 fix, kept).
        band_rows = bands.select(
            "doc_id", "fp", "band_idx", "band_sig", "sbucket"
        ).collect()
        touched = {r["sbucket"] for r in band_rows}
        if not touched:
            state.prune(batch_id)
            return
        fps: dict = {}
        doc_bands: dict = {}
        for r in band_rows:
            fps[r["doc_id"]] = r["fp"]
            if r["band_sig"] is not None:
                doc_bands.setdefault(r["doc_id"], []).append(
                    (r["band_idx"], r["band_sig"])
                )
        prior = state.read_latest(before_batch=batch_id).filter(
            F.col("sbucket").isin(*touched)
        )
        # ONE combined probe of the persisted index through a COMPOSITE
        # key ('f:'+fp for exact membership, 'b:'+idx+':'+sig for band
        # collisions): the index side derives BOTH key kinds from each
        # state row with one explode, so the whole probe is a single
        # semi-join over a single state scan (round 13 — the r12 shape
        # unioned two semi-joins and scanned the state twice).
        probe = sess.createDataFrame(
            [(d, "f:" + f) for d, f in fps.items()]
            + [
                (d, f"b:{bi}:{bs}")
                for d, keys in doc_bands.items()
                for bi, bs in keys
            ],
            "doc_id bigint, k string",
        )
        index_keys = prior.select(
            F.explode(
                F.array(
                    F.concat(F.lit("f:"), "fp"),
                    F.when(
                        F.col("band_sig").isNotNull(),
                        F.concat(
                            F.lit("b:"), F.col("band_idx").cast("string"),
                            F.lit(":"), "band_sig",
                        ),
                    ),
                )
            ).alias("k")
        ).filter(F.col("k").isNotNull())
        hits = probe.join(index_keys, "k", "left_semi").collect()
        exact_idx = {r["doc_id"] for r in hits if r["k"].startswith("f:")}
        near_idx = {r["doc_id"] for r in hits if r["k"].startswith("b:")}
        # the sequential walk: doc_id order IS arrival order within a
        # batch; "an earlier ADMITTED doc shares my fp/band" is exactly
        # "my fp/band key is already in the admitted set" — the same
        # semantics the sequential-parity test replays
        admitted_fps: set = set()
        admitted_buckets: set = set()
        rows = []
        for did in sorted(fps):
            fp = fps[did]
            if did in exact_idx or fp in admitted_fps:
                rows.append((did, fp, False, "exact"))
            elif did in near_idx or any(
                k in admitted_buckets for k in doc_bands.get(did, ())
            ):
                rows.append((did, fp, False, "near_dup"))
            else:
                admitted_fps.add(fp)
                admitted_buckets.update(doc_bands.get(did, ()))
                rows.append((did, fp, True, "admitted"))
        sess.createDataFrame(
            rows, "doc_id bigint, fp string, admitted boolean, reason string"
        ).write.mode("overwrite").parquet(_batch_dir(decisions_dir, batch_id))
        admitted_ids = {did for did, _, adm, _ in rows if adm}
        new_index_rows = [
            (r["fp"], r["band_idx"], r["band_sig"], r["sbucket"])
            for r in band_rows
            if r["doc_id"] in admitted_ids
        ]
        # Only buckets that GAINED admitted rows are rewritten (round 13):
        # a bucket touched solely by held documents is content-identical
        # to its prior version, so rewriting it was pure write
        # amplification — and on replay the same deterministic decisions
        # yield the same unchanged set, keeping restart idempotence.
        touched_write = {r[3] for r in new_index_rows}
        if touched_write:
            new_rows = sess.createDataFrame(new_index_rows, NEARDUP_STATE_SCHEMA)
            merged = prior.unionByName(new_rows)
            state.overwrite_parts(
                merged, F.col("sbucket"), touched_write, batch_id
            )
        state.prune(batch_id)

    q = (
        read_document_stream(spark, source_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "admission"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_heavy_hitters(
    events: DataFrame, capacity: int = 16, shards: int = 8
) -> DataFrame:
    """Misra-Gries heavy hitters OVER A STREAM: per-shard decrement-counter
    summaries held in keyed state (applyInPandasWithState), emitting each
    shard's full candidate set after every micro-batch tagged with a state
    version. The batch operator (operators/sketch.misra_gries_terms, q163)
    proves the merge/compress invariants; this is the same summary kept
    ALIVE across triggers — per shard at most `capacity` counters,
    regardless of how many batches or how large the key universe, which is
    the whole point at 100 TB/day ingest: heavy-user detection with O(k)
    state per shard, no per-key streaming aggregation whose state grows
    with cardinality.

    Guarantees carried over from the batch form (property-tested there,
    parity-tested here): for every key, lower_bound <= true count and
    true - lower_bound <= n_shard / (capacity + 1); every key with true
    count > n_shard/(capacity+1) survives as a candidate. The consumer
    re-checks exact counts for candidates only — the standard
    candidate-then-verify contract (q163's batch discipline).

    Shard key is `user_id % shards`, so state rows are bounded by
    shards x capacity; version lets a downstream reader pick each shard's
    latest snapshot (update-mode sinks append per-trigger emissions)."""
    from collections import Counter

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.sketch import _mg_compress

    out_schema = (
        "shard int, version bigint, key string, lower_bound bigint, "
        "n_shard bigint"
    )
    state_schema = "keys array<string>, counts array<bigint>, n bigint, v bigint"

    def summarize(key, pdfs, state: GroupState):
        import pandas as pd

        (shard,) = key
        if state.exists:
            keys, counts, n, v = state.get
            acc = Counter(dict(zip(keys, counts)))
        else:
            acc, n, v = Counter(), 0, 0
        seen = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            seen += len(pdf)
            acc.update(Counter(pdf["key"].astype(str)))
        n += seen
        v += 1
        _mg_compress(acc, capacity)
        state.update((list(acc.keys()), [int(c) for c in acc.values()], n, v))
        items = sorted(acc.items())
        yield pd.DataFrame(
            {
                "shard": [shard] * len(items),
                "version": [v] * len(items),
                "key": [k for k, _ in items],
                "lower_bound": [int(c) for _, c in items],
                "n_shard": [n] * len(items),
            }
        )

    keyed = events.select(
        (F.col("user_id") % shards).cast("int").alias("shard"),
        F.col("user_id").cast("string").alias("key"),
    ).groupBy("shard")
    return keyed.applyInPandasWithState(
        summarize, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


# --- cross-batch stateful EWMA monitor (streaming form of q266) ----------------

EWMA_STATE_SCHEMA = StructType(
    [
        StructField("slot", StringType()),   # constant partition token
        StructField("i", LongType()),        # batches folded so far
        StructField("z", DoubleType()),      # current smoothed error rate
    ]
)


def ewma_monitor_stream(
    spark: SparkSession,
    source_dir: str,
    monitor_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    lam: float = 0.2,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Cross-batch stateful EWMA of the per-trigger error rate — the
    STREAMING form of q266's control chart: where the batch query can
    evaluate the recursion as a closed-form window over the full day
    frame, a stream must CARRY z across triggers. State is the minimal
    sufficient pair (i, z): one row in a VersionedStateTable, so a
    replay of batch N re-reads the state as of N-1 and recomputes the
    identical z' — idempotent through the crash window between sink
    write and checkpoint commit (the carryover/index-merge discipline).
    Verdict rows (batch_id, n, n_err, x, z) land in the batch's own
    partition with dynamic overwrite. The first observed batch seeds
    z = x (a stream has no corpus mean up front; q266 seeds at mu —
    the recursions converge geometrically as (1-lam)^i). Control limits
    belong to the READER over the monitor table, where mu/sigma of the
    x series are available; the stream keeps only the walk.

    Scale posture: per trigger, one partial-aggregated count pair over
    the arrivals (no shuffle wider than the 1-row agg), one 1-row state
    read, two 1-row writes. State size is O(1) regardless of stream
    length."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        state = VersionedStateTable(sess, state_dir, EWMA_STATE_SCHEMA, "slot")
        prior = state.read_latest(before_batch=batch_id).collect()  # <=1 row
        i0, z0 = (prior[0]["i"], prior[0]["z"]) if prior else (0, None)
        agg = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "error").cast("bigint")).alias("ne"),
        ).collect()[0]
        n, n_err = agg["n"], agg["ne"] or 0
        if n == 0:  # empty trigger: no observation, state untouched
            return
        x = n_err / n
        z1 = x if z0 is None else lam * x + (1.0 - lam) * z0
        (
            sess.createDataFrame(
                [(int(batch_id), int(n), int(n_err), float(x), float(z1))],
                "batch_id long, n long, n_err long, x double, z double",
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(monitor_dir)
        )
        new_state = sess.createDataFrame(
            [("ewma", int(i0) + 1, float(z1))], EWMA_STATE_SCHEMA
        )
        state.overwrite_parts(new_state, F.col("slot"), {"ewma"}, batch_id)
        state.prune(batch_id)

    stream = read_event_stream(spark, source_dir, max_files_per_trigger)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "ewma_monitor"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def session_emitter_stream(
    events: DataFrame, gap_min: int = 30, delay: str = "1 hour"
) -> DataFrame:
    """Closed-session records from keyed state with EVENT-TIME timeouts —
    the custom stateful form of sessionization (vs session_counts'
    built-in session_window aggregate): per user, the open session lives
    in state as (start, last_ts, n); an in-batch gap > gap_min closes and
    EMITS the finished session immediately, and the event-time timeout
    (last_ts + gap) closes idle sessions once the watermark passes — so
    every emission is a final, immutable session record (append
    semantics), the shape downstream training pipelines want (q57 is the
    batch equivalent; its trailing still-open sessions are exactly the
    ones this operator correctly withholds until they age out).

    State is O(1) per active user regardless of session length or stream
    age; the watermark bounds how long an idle user's state survives.
    Rows inside a micro-batch are walked in (ts, event_id) order — the
    same total order as the batch sessionizer, so stream and batch agree
    exactly on closed sessions."""
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint"
    )
    state_schema = "session_start timestamp, last_ts timestamp, n_events bigint"
    gap_ms = gap_min * 60 * 1000

    def walk(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            s0, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [s0],
                    "session_end": [last],
                    "n_events": [n],
                }
            )
            return
        cur = state.get if state.exists else None
        closed = []
        gap = pd.Timedelta(minutes=gap_min)
        # Spark currently never invokes the function with an empty
        # iterator unless hasTimedOut, but that is an implementation
        # detail, not a contract: guard it (pd.concat raises ValueError
        # on zero frames) and keep existing state/timeout untouched.
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True)
            batch = batch.sort_values(["ts", "event_id"])
            for ts in batch["ts"]:
                if cur is None:
                    cur = (ts, ts, 1)
                elif ts - cur[1] > gap:
                    closed.append(cur)
                    cur = (ts, ts, 1)
                else:
                    cur = (cur[0], ts, cur[2] + 1)
        if cur is not None:
            state.update(cur)
            # normalize: state-restored values arrive as datetime.datetime
            # (no .value); fresh in-batch values are pandas Timestamps
            last_ms = int(pd.Timestamp(cur[1]).value // 1_000_000)
            state.setTimeoutTimestamp(last_ms + gap_ms)
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "session_start": [c[0] for c in closed],
                "session_end": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
            }
        )

    return (
        events.withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            walk,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
