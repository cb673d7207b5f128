"""The two workloads. Each is driven by one client thread; ``queue_stream``
adds one timer thread that delivers arrival files on schedule.

Every workload has the same life cycle, called by ``run.py``:

  stage(ctx)          input staging (part of set-up)
  warmup(ctx)         one pass or trigger before measuring (part of set-up)
  measure(ctx, secs)  the measured phase
  e2e(ctx)            (op latencies, throughput per second) of the phase
  check(ctx)          end-of-phase output checks; returns the violations
  report(ctx)         the workload's own named metrics, as (value, unit, note)
  reference(ctx)      a fixed pass timed at any core count (traced run)
  close(ctx)          release what the session holds before it stops
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from harness import Op, dir_stats, median, tail
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from hive_backend_spark.catalog import load_table
from hive_backend_spark.operators import mutation
from hive_backend_spark.queries import dedup
from hive_backend_spark.streaming import pipeline


class Context:
    """Run-wide state: the session, the op log, per-layer samples and the
    time spent checking, which set-up and wall times leave out."""

    def __init__(self, spark, data_dir, warm_dir, work_dir, seed, tracer, oracle, specs):
        self.spark = spark
        self.data_dir = data_dir
        self.warm_dir = warm_dir  # the same tables at scale factor 0.001
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.counters = None  # SparkCounters in a traced phase
        self.oracle = oracle
        self.specs = specs
        self.ops: list[Op] = []  # ops of the current measured phase
        self.attempted = 0  # every op of the run, warm-up and reference passes too
        self.failed = 0
        self.errors: list[str] = []
        self.layers: dict[str, list[float]] = defaultdict(list)
        self.check_s = 0.0
        self.recording = False  # True only in the measured phase
        self.checking = True  # False in the warm-up pass

    @contextmanager
    def warming(self):
        """The warm-up pass: the workload's own ops over the small tables,
        unchecked. It compiles, JITs and starts Python workers for the
        same plans the measured pass runs, at a fraction of the cost."""
        data_dir, self.data_dir, self.checking = self.data_dir, self.warm_dir, False
        try:
            yield
        finally:
            self.data_dir, self.checking = data_dir, True

    @contextmanager
    def untimed(self):
        """Checks and check preparation: excluded from set-up and wall time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def sample(self, key: str, value: float) -> None:
        if self.tracer.enabled and self.recording:
            self.layers[key].append(value)

    def run_op(self, name, kind, layer, body, check=None) -> Op:
        """Time ``body`` as one op; ``check(result)`` runs untimed after it
        and returns '' or why the output is wrong. An exception fails the
        op, not the run. Spark counters are read through the op's job
        group, which a streaming query's own thread does not carry."""
        group = f"op{len(self.ops)}-{name}"
        counting = self.counters is not None and self.recording and kind != "stream"
        if counting:
            self.counters.begin(group)
        t0 = time.perf_counter()
        err, result = "", None
        try:
            with self.tracer.span(f"op.{name}", op=len(self.ops) if self.recording else None):
                result = body()
        except Exception as e:  # an op's failure is counted and the run goes on
            err = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300]}"
        latency = time.perf_counter() - t0
        if counting:
            prefix = "operators.mutation" if layer == "mutation" else f"queries.{layer}"
            for k, v in self.counters.end(group).items():
                self.sample(f"{prefix}.{k}", v)
        if not err and check is not None and self.checking:
            with self.untimed():
                try:
                    err = check(result)
                except Exception as e:  # e.g. an oracle DuckDB cannot run
                    err = f"check raised {type(e).__name__}: {str(e).strip().splitlines()[0][:300]}"
        op = Op(name, kind, latency)
        self.attempted += 1
        if err:
            self.failed += 1
            self.errors.append(f"{name}: {err}")
        if self.recording:
            self.ops.append(op)
        return op

    def query(self, name: str) -> Op:
        """One registered query: build the DataFrame, then collect it."""
        spec = self.specs[name]
        module = spec.fn.__module__.rsplit(".", 1)[1]

        def body():
            t0 = time.perf_counter()
            with self.tracer.span(f"queries.{module}.build"):
                df = spec.fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            with self.tracer.span(f"queries.{module}.exec"):
                result = df.toArrow()
            self.sample(f"queries.{module}.build_s", t1 - t0)
            self.sample(f"queries.{module}.exec_s", time.perf_counter() - t1)
            return result

        return self.run_op(name, "read", module, body, lambda r: self.oracle.check(spec, r))


def _timed_pass(ctx: Context, one_pass) -> float:
    c0, t0 = ctx.check_s, time.perf_counter()
    one_pass()
    return time.perf_counter() - t0 - (ctx.check_s - c0)


def _passes(ctx: Context, seconds: float, one_pass) -> list[float]:
    """Whole passes back to back; another pass starts only while it would
    end nearer the target length than stopping now. Whole passes keep the
    op mix the same in every run, whatever the seed."""
    times: list[float] = []
    while not times or sum(times) + times[-1] / 2 < seconds:
        times.append(_timed_pass(ctx, one_pass))
    return times


class _CountingCache(dict):
    """A dedup cache that counts, while ``tally["on"]``, its lookups and the
    ones that found an entry. The dedup module reads every cache with
    ``.get`` and refills it on a miss."""

    def __init__(self, entries: dict, tally: dict):
        super().__init__(entries)
        self.tally = tally

    def get(self, key, default=None):
        found = super().get(key, default)
        if self.tally["on"]:
            self.tally["lookups"] += 1
            self.tally["hits"] += found is not default
        return found


@contextmanager
def _counted_dedup_caches(tally: dict):
    """Swap the dedup module's caches for counting copies; put the original
    dicts back, holding the entries added meanwhile, afterwards."""
    originals = {
        name: cache for name, cache in vars(dedup).items()
        if name.endswith("_CACHE") and isinstance(cache, dict)
    }
    for name, cache in originals.items():
        setattr(dedup, name, _CountingCache(cache, tally))
    try:
        yield
    finally:
        for name, cache in originals.items():
            cache.clear()
            cache.update(getattr(dedup, name))
            setattr(dedup, name, cache)


class WarehouseMix:
    """One closed-loop client of a warehouse that serves interactive SQL and
    corpus ETL side by side: registered read queries; ``operators.mutation``
    rewrites of a routed copy of ``events`` that the benchmark owns; the
    near-duplicate pipeline over ``documents`` - MinHash signatures,
    candidates and clusters, cold right after the dedup caches are cleared,
    then warm consumers of those caches; and text and similarity queries."""

    name = "warehouse_mix"
    uses_catalog = True
    READS = (
        "q01_priority_dequeue",
        "q05_point_lookup",
        "q11_group_count",
        "q13_fk_enrich_join",
        "q14_latest_wins",
        "q52_two_phase_mark",
        "q56_backlog_alert",
        "q40_pricing_summary",
        "q93_shipping_delay_priority",
    )
    WRITES = ("overwrite_matching", "upsert_latest", "retention_rewrite", "compact")
    DEDUP = {
        "q82_minhash_bands": "signatures",
        "q67_lsh_candidates": "candidates",
        "q79_dup_clusters": "clusters",
    }
    WARM = ("q112_quality_canonical", "q152_dedup_aware_shards")
    TEXT = ("q60_text_stats", "q70_cosine_topk")
    QUERIES = (*READS, *DEDUP, *WARM, *TEXT)

    def stage(self, ctx: Context) -> None:
        self.tables = {}
        for data_dir in (ctx.data_dir, ctx.warm_dir):
            table = os.path.join(ctx.work_dir, f"events_copy-{os.path.basename(data_dir)}")
            events = load_table(ctx.spark, data_dir, "events")
            pipeline.route_events(events).write.mode("overwrite").parquet(table)
            self.tables[data_dir] = table
        self.n_pass = 0
        self.tally = {"on": False, "lookups": 0, "hits": 0}
        self.pass_times: list[float] = []
        self.cold_times: list[float] = []

    def write(self, ctx: Context, kind: str) -> Op:
        """One mutation, with the invariant its check holds it to."""
        # the seed picks which keys each pass acknowledges and upserts
        spark, table, k = ctx.spark, self.tables[ctx.data_dir], ctx.seed + self.n_pass
        with ctx.untimed():
            cur = spark.read.parquet(table)
            before = cur.count()
        if kind == "overwrite_matching":
            # acknowledge one residue class of ids (the reference's ack UPDATE)
            picked = F.col("id") % 97 == k % 97
            updates = cur.filter(picked).withColumns(
                {"processed": F.lit(True), "acknowledged": F.lit(True)}
            )

            def body():
                mutation.overwrite_matching(spark, table, updates, ["id"])

            def check(_):
                after = spark.read.parquet(table)
                if after.count() != before or after.filter(picked & ~F.col("acknowledged")).count():
                    return "overwrite_matching: rows lost or left unacknowledged"
                return _unique_ids(after, kind)

        elif kind == "upsert_latest":
            # newer versions of one residue class of ids, plus as many new ids
            with ctx.untimed():
                sample = cur.filter(F.col("id") % 89 == k % 89)
                newer = sample.withColumn(
                    "created_at", F.col("created_at") + F.expr("INTERVAL 1 HOUR")
                )
                fresh = sample.withColumn("id", F.col("id") + 10_000_000 * (self.n_pass + 1))
                incoming = newer.unionByName(fresh).localCheckpoint()
                n_new = incoming.count() // 2

            def body():
                mutation.upsert_latest(spark, table, incoming, ["id"], "created_at")

            def check(_):
                after = spark.read.parquet(table)
                if after.count() != before + n_new:
                    return "upsert_latest: row count is not old rows + new keys"
                want = incoming.select("id", F.col("created_at").alias("want"))
                if after.join(want, "id").filter(F.col("created_at") != F.col("want")).count():
                    return "upsert_latest: an older version survived"
                return _unique_ids(after, kind)

        elif kind == "retention_rewrite":
            # the TTL horizon advances six hours per pass
            cutoff = F.lit("2024-01-01 00:00:00").cast("timestamp") + F.expr(
                f"INTERVAL {6 * (self.n_pass + 1)} HOURS"
            )
            deleted = []

            def body():
                deleted.append(mutation.retention_rewrite(spark, table, "created_at", cutoff))

            def check(_):
                after = spark.read.parquet(table)
                if after.filter(F.col("created_at") < cutoff).count():
                    return "retention_rewrite: rows past the TTL horizon remain"
                if before - after.count() != deleted[0]:
                    return "retention_rewrite: reported deletions do not match"
                return ""

        else:

            def body():
                mutation.compact(spark, table)

            def check(_):
                if dir_stats(table)[0] != 1 or spark.read.parquet(table).count() != before:
                    return "compact: not one file, or rows changed"
                return ""

        def timed():
            t0 = time.perf_counter()
            with ctx.tracer.span(f"operators.mutation.{kind}"):
                body()
            ctx.sample(f"operators.mutation.{kind}_s", time.perf_counter() - t0)
            if ctx.tracer.enabled and ctx.recording:
                files, size = dir_stats(table)
                ctx.sample("operators.mutation.files_written", files)
                ctx.sample("operators.mutation.bytes_written", size)

        return ctx.run_op(kind, "write", "mutation", timed, check)

    def dedup(self, ctx: Context) -> None:
        """Clear the dedup caches, then signatures -> candidates -> clusters."""
        with ctx.tracer.span("queries.dedup.clear_bands_cache"):
            dedup.clear_bands_cache()
        cold = 0.0
        for name, stage in self.DEDUP.items():
            op = ctx.query(name)
            cold += op.latency
            ctx.sample(f"queries.dedup.{stage}_s", op.latency)
        if ctx.recording:
            self.cold_times.append(cold)

    def one_pass(self, ctx: Context, order: list[str]) -> None:
        for item in order:
            if item in self.WRITES:
                self.write(ctx, item)
            elif item == "dedup":
                self.dedup(ctx)
            elif item in self.WARM:
                self.tally["on"] = True
                op = ctx.query(item)
                self.tally["on"] = False
                ctx.sample("queries.dedup.warm_exec_s", op.latency)
            else:
                ctx.query(item)
        self.n_pass += 1

    def order(self) -> list[str]:
        """Writes interleaved with the reads, the warm consumers after the
        dedup pipeline so they find the caches it filled. The order is fixed:
        the same op runs faster late in a pass than early in it (the JIT is
        still compiling per-row code), so a seeded order turns into
        run-to-run spread."""
        reads, writes = list(self.READS), list(self.WRITES)
        out = []
        while reads or writes:
            out += reads[:2] + writes[:1]
            reads, writes = reads[2:], writes[1:]
        return [*out, "dedup", *self.WARM, *self.TEXT]

    def warmup(self, ctx: Context) -> None:
        with ctx.warming():
            self.one_pass(ctx, self.order())

    def measure(self, ctx: Context, seconds: float) -> None:
        """The passes; traced, also the share of the warm consumers' dedup
        cache lookups that found what the cold stages left there."""
        self.cold_times = []
        self.tally = {"on": False, "lookups": 0, "hits": 0}
        with _counted_dedup_caches(self.tally) if ctx.tracer.enabled else nullcontext():
            self.pass_times = _passes(ctx, seconds, lambda: self.one_pass(ctx, self.order()))
        lookups = self.tally["lookups"]
        ctx.sample("queries.dedup.cache_reuse", self.tally["hits"] / lookups if lookups else 0.0)

    def reference(self, ctx: Context) -> float:
        """The dedup pipeline: the part of a pass with data parallelism to
        speak of; the SQL reads are dominated by per-query planning."""
        return _timed_pass(ctx, lambda: self.dedup(ctx))

    def e2e(self, ctx: Context) -> tuple[list[float], float]:
        return [o.latency for o in ctx.ops], len(ctx.ops) / sum(self.pass_times)

    def check(self, ctx: Context) -> list[str]:
        return []  # every op is checked as it completes

    def report(self, ctx: Context) -> dict:
        out = {"wall_s": (sum(self.pass_times), "s", f"{len(self.pass_times)} passes")}
        for kind in ("read", "write"):
            lat = [o.latency for o in ctx.ops if o.kind == kind]
            v, pct, beyond = tail(lat)
            out[f"{kind}_p50_s"] = (median(lat), "s", f"n={len(lat)}")
            out[f"{kind}_tail_s"] = (v, "s", f"p{pct:.0f}, {beyond} beyond, n={len(lat)}")
        out["dedup_cold_s"] = (median(self.cold_times), "s", f"{len(self.cold_times)} passes")
        return out

    def close(self, ctx: Context) -> None:
        pass


def _unique_ids(df, kind: str) -> str:
    if df.select("id").distinct().count() != df.count():
        return f"{kind}: duplicate keys"
    return ""


class _Progress(StreamingQueryListener):
    """Collects each micro-batch's progress (durations, input rows)."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.events.append({"batch": p.batchId, "rows": p.numInputRows, **p.durationMs})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class QueueStream:
    """Open-loop arrivals into the prioritized carryover queue. A timer
    thread renames each staged arrival file into the source directory at
    its due time, whatever the consumer is doing; the consumer wakes on an
    arrival and calls ``run_prioritized_carryover``, at once again if more
    files arrived during the call. Each file's lag runs from its due time to
    the end of the call that committed the micro-batch that ingested it."""

    name = "queue_stream"
    uses_catalog = False
    QUERIES = ()
    # The reference serves at most 100 rows per poll (db.mjs:285-293); each
    # arrival file carries one such batch, so a trigger takes in what it serves.
    BATCH = 100
    EVENTS = BATCH
    # One file every 3 s: 0.33 files per second, under half of the 0.84 the
    # consumer sustains over that backlog (README, "Queue load").
    INTERVAL_S = 3.0
    # The deep low band laid down before measuring: the ~16 k events over
    # which an earlier profile timed warm carryover calls (README, "Queue load").
    BACKLOG = 16_000
    # Event types drawn evenly, as in the fixture's events table; "click" is
    # priority 1, the hot band, so about a fifth of each file outranks the backlog.
    TYPES = ("click", "view", "purchase", "signup", "error")
    LATE_SHARE = 0.05  # events stamped up to 10 minutes before their file

    def stage(self, ctx: Context) -> None:
        self.root = os.path.join(ctx.work_dir, "queue")
        self.dirs = {
            d: os.path.join(self.root, d)
            for d in ("staged", "src", "processed", "pending", "ckpt")
        }
        for d in ("staged", "src"):
            os.makedirs(self.dirs[d])
        self.arrivals: list[pd.DataFrame] = []  # id, priority, ts_us, file
        self.files: dict[str, dict] = {}  # name -> due, delivered, events
        self.commit_end: dict[int, float] = {}  # batch id -> end of its call
        self.calls: list[tuple[float, float]] = []
        self.phase_files: list[str] = []
        self.next_id = 0
        self.clock_us = int(pd.Timestamp("2024-02-01").value // 1000)
        self.np_rng = np.random.default_rng(ctx.seed)
        self.listener = None

    def _make_file(self, n: int, types=TYPES) -> str:
        rng = self.np_rng
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        ts = self.clock_us + np.arange(n) * 1_000_000
        self.clock_us += n * 1_000_000
        late = rng.random(n) < self.LATE_SHARE
        ts = ts - late * rng.integers(1, 600_000_000, n)
        kinds = rng.choice(types, n)
        hot = kinds == "click"
        name = f"arrival-{len(self.files):05d}.parquet"
        table = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
                "event_type": pa.array(kinds.tolist(), pa.string()),
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
            }
        )
        pq.write_table(table, os.path.join(self.dirs["staged"], name))
        self.files[name] = {"due": None, "delivered": None, "n": n}
        self.arrivals.append(
            pd.DataFrame({"id": ids, "priority": hot.astype(int), "ts": ts, "file": name})
        )
        return name

    def _deliver(self, name: str) -> None:
        os.rename(os.path.join(self.dirs["staged"], name), os.path.join(self.dirs["src"], name))
        self.files[name]["delivered"] = time.perf_counter()

    def _commits(self) -> set[int]:
        d = os.path.join(self.dirs["ckpt"], "carryover", "commits")
        return {int(n) for n in os.listdir(d) if n.isdigit()} if os.path.isdir(d) else set()

    def call(self, ctx: Context) -> Op:
        if ctx.tracer.enabled and self.listener is None:
            self.listener = _Progress()
            ctx.spark.streams.addListener(self.listener)
        seen = len(self.listener.events) if self.listener else 0
        start = time.perf_counter()

        def body():
            with ctx.tracer.span("streaming.run_prioritized_carryover"):
                pipeline.run_prioritized_carryover(
                    ctx.spark, self.dirs["src"], self.dirs["processed"], self.dirs["pending"],
                    self.dirs["ckpt"], batch_size=self.BATCH,
                )

        op = ctx.run_op("carryover", "stream", "streaming", body)
        end = start + op.latency
        for b in self._commits() - set(self.commit_end):
            self.commit_end[b] = end
        if ctx.recording:
            self.calls.append((start, end))
        if ctx.tracer.enabled and ctx.recording:
            self._trace_call(ctx, op.latency, seen)
        return op

    def _trace_call(self, ctx: Context, call_s: float, seen: int) -> None:
        ctx.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        batches = [e for e in self.listener.events[seen:] if e["rows"] > 0]
        trigger_ms = sum(e.get("triggerExecution", 0) for e in batches)
        ctx.sample("streaming.carryover.call_s", call_s)
        ctx.sample("streaming.bootstrap_s", call_s - trigger_ms / 1000)
        ctx.sample("streaming.batches_per_call", len(batches))
        for e in batches:
            ctx.sample("streaming.input_rows", e["rows"])
            for key, metric in (("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"),
                                ("queryPlanning", "query_planning_ms"),
                                ("latestOffset", "latest_offset_ms")):
                ctx.sample(f"streaming.{metric}", e.get(key, 0))
        if os.path.isdir(self.dirs["pending"]):
            rows = pipeline.read_pending_state(ctx.spark, self.dirs["pending"]).count()
            files, size = dir_stats(self.dirs["pending"])
            ctx.sample("streaming.state.rows", rows)
            ctx.sample("streaming.state.files", files)
            ctx.sample("streaming.state.bytes", size)

    def warmup(self, ctx: Context) -> None:
        """Two triggers: the first lays down the deep low band, the second
        is the first to read prior state, as every measured trigger does."""
        for name in (self._make_file(self.BACKLOG, self.TYPES[1:]), self._make_file(self.EVENTS)):
            self._deliver(name)
            self.files[name]["due"] = self.files[name]["delivered"]
            self.call(ctx)

    def measure(self, ctx: Context, seconds: float) -> None:
        n = max(1, round(seconds / self.INTERVAL_S))
        with ctx.untimed():
            names = [self._make_file(self.EVENTS) for _ in range(n)]
        t0 = time.perf_counter() + 0.05
        for i, name in enumerate(names):
            self.files[name]["due"] = t0 + i * self.INTERVAL_S
        self.schedule_end = t0 + n * self.INTERVAL_S
        self.phase_files = names
        self.calls = []
        arrived = threading.Semaphore(0)

        def timer():
            for name in names:
                time.sleep(max(0.0, self.files[name]["due"] - time.perf_counter()))
                self._deliver(name)
                arrived.release()

        thread = threading.Thread(target=timer, name="arrivals")
        thread.start()
        try:
            # Wake on arrival; one call ingests every file present when it
            # starts, so the permits of files that came meanwhile go with it.
            taken = 0
            while taken < n:
                arrived.acquire()
                taken += 1
                while arrived.acquire(blocking=False):
                    taken += 1
                self.call(ctx)
        finally:
            thread.join()
        ctx.sample("streaming.processed.bytes", dir_stats(self.dirs["processed"])[1])
        ctx.sample("generator.late_s", max(self.files[n]["delivered"] - self.files[n]["due"]
                                           for n in names))

    def reference(self, ctx: Context) -> float:
        """One call draining three fresh 100-event files into fresh state."""
        saved = self.dirs, self.commit_end
        tag = f"ref{len(self.files)}"
        self.dirs = {k: os.path.join(self.root, tag, k) for k in saved[0]}
        self.commit_end = {}
        try:
            for d in ("staged", "src"):
                os.makedirs(self.dirs[d])
            for _ in range(3):
                self._deliver(self._make_file(self.BATCH))
            return self.call(ctx).latency
        finally:
            self.dirs, self.commit_end = saved
            shutil.rmtree(os.path.join(self.root, tag), ignore_errors=True)

    def _batch_files(self) -> dict[str, int]:
        """File name -> micro-batch that ingested it, from the file source log."""
        out = {}
        log = os.path.join(self.dirs["ckpt"], "carryover", "sources", "0")
        for entry in os.listdir(log):
            if entry.startswith("."):
                continue
            with open(os.path.join(log, entry)) as f:
                for line in f:
                    if line.startswith("{"):
                        rec = json.loads(line)
                        out[os.path.basename(rec["path"])] = rec["batchId"]
        return out

    def lags(self) -> list[float]:
        batch_of = self._batch_files()
        return [
            self.commit_end[batch_of[n]] - self.files[n]["due"]
            for n in self.phase_files
            if n in batch_of and batch_of[n] in self.commit_end
        ]

    def _committed_events(self) -> int:
        batch_of = self._batch_files()
        return sum(
            self.files[n]["n"] for n in self.phase_files if batch_of.get(n) in self.commit_end
        )

    def e2e(self, ctx: Context) -> tuple[list[float], float]:
        """(file lags, committed events per second the consumer was busy)."""
        busy = sum(end - start for start, end in self.calls)
        return self.lags(), self._committed_events() / busy

    def check(self, ctx: Context) -> list[str]:
        """Conservation, no duplicate serves, and no pending row outranking
        a row served in the same trigger. Returns the violations."""
        spark = ctx.spark
        arrivals = pd.concat(self.arrivals, ignore_index=True)
        batch_of = self._batch_files()
        arrivals["arr_batch"] = arrivals["file"].map(batch_of)
        served = spark.read.parquet(self.dirs["processed"]).select("id", "batch_id").toPandas()
        pending = pipeline.read_pending_state(spark, self.dirs["pending"]).select("id").toPandas()
        bad = []
        if served["id"].duplicated().any():
            bad.append("queue: an event was served twice")
        delivered = arrivals[arrivals["arr_batch"].notna()]
        if len(served) + len(pending) != len(delivered) or set(served["id"]) | set(
            pending["id"]
        ) != set(delivered["id"]):
            bad.append("queue: served + backlog != arrivals")
        # rank 0 is served first: priority desc, created_at, id
        ev = delivered.merge(served, on="id", how="left").sort_values(
            ["priority", "ts", "id"], ascending=[False, True, True], ignore_index=True
        )
        ev["rank"] = ev.index
        for b in sorted(served["batch_id"].unique()):
            now = ev[ev["batch_id"] == b]
            waiting = ev[(ev["arr_batch"] <= b) & ~(ev["batch_id"] <= b)]
            outranked = len(now) < self.BATCH or waiting["rank"].min() < now["rank"].max()
            if len(waiting) and outranked:
                bad.append(f"queue: batch {b} served a row outranked by one left pending")
                break
        return bad

    def report(self, ctx: Context) -> dict:
        lags = self.lags()
        v, pct, beyond = tail(lags)
        batch_of = self._batch_files()
        backlog = sum(
            1 for n in self.phase_files
            if self.commit_end.get(batch_of.get(n), float("inf")) > self.schedule_end
        )
        late = max(self.files[n]["delivered"] - self.files[n]["due"] for n in self.phase_files)
        first_due = min(self.files[n]["due"] for n in self.phase_files)
        rate = self._committed_events() / (self.calls[-1][1] - first_due)
        return {
            "event_lag_p50_s": (median(lags), "s", f"n={len(lags)} files"),
            "event_lag_tail_s": (v, "s", f"p{pct:.0f}, {beyond} beyond, n={len(lags)}"),
            "events_per_s": (rate, "1/s", ""),
            "backlog_end": (backlog, "files", ""),
            "generator_late_s": (late, "s", "max"),
            "state_rows_end": (
                pipeline.read_pending_state(ctx.spark, self.dirs["pending"]).count(),
                "rows", "pending backlog after the last call",
            ),
        }

    def close(self, ctx: Context) -> None:
        if self.listener is not None:
            ctx.spark.streams.removeListener(self.listener)
            self.listener = None


WORKLOADS = {w.name: w for w in (QueueStream, WarehouseMix)}
