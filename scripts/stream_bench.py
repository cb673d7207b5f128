#!/usr/bin/env python3
"""Streaming throughput record (round-10 verdict task #8): the streaming
mirrors are parity- and crash-replay-tested but had no performance record.
This times the two stateful sinks trigger by trigger while their persisted
state GROWS, which is the claim that matters at scale: per-trigger cost
must track the BATCH (and its touched state partitions), not the
accumulated index/backlog.

Method: one staged source file per invocation (maxFilesPerTrigger=1 +
availableNow semantics => each call processes exactly one new micro-batch
against the standing checkpoint/state), wall-clocked around the call. The
~seconds of per-call stream bootstrap (query start/stop, file-source
listing) is a CONSTANT, so flatness across triggers is readable directly;
state size before each trigger is recorded beside the time so growth and
cost sit in one table.

  - run_near_dup_admission: 10 triggers x 1000 real sf0.1 documents; the
    persisted LSH band index grows ~10x across the run while each trigger
    reads only its <= 17 touched signature buckets.
  - run_prioritized_carryover: 10 time-ordered triggers over the sf0.1
    events table (batch_size 500 << arrivals, so the pending backlog
    grows every trigger); per-trigger cost must track arrivals + touched
    bands, not the backlog.

Output: ONE JSON line — committed as BENCH_stream_r11.json.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from hive_backend_spark.catalog import load_table
from hive_backend_spark.session import get_spark
from hive_backend_spark.streaming import pipeline as S

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_TRIGGERS = int(os.environ.get("STREAM_BENCH_TRIGGERS", "10"))
# sf0.1 carries 5000 documents; default batches split the WHOLE corpus so
# no trigger ever stages an empty file (an early version sliced past the
# corpus end and timed five no-op triggers as if they were real ones)
ADMIT_BATCH = int(os.environ.get("STREAM_BENCH_DOCS", "500"))
CARRY_BATCH_SIZE = 500


def _stage_one(df, stage_dir: str, src_dir: str, name: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(stage_dir)
    part = glob.glob(os.path.join(stage_dir, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(src_dir, name))


def _dir_stats(path: str) -> tuple:
    files = n_bytes = 0
    for dirpath, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return files, n_bytes


def bench_admission(spark, root: str) -> dict:
    src = os.path.join(root, "adm_src")
    stage = os.path.join(root, "adm_stage")
    os.makedirs(src)
    docs = (
        load_table(spark, SF_DIR, "documents")
        .orderBy("doc_id")
        .limit(N_TRIGGERS * ADMIT_BATCH)
        .collect()
    )
    dec, idx, ckpt = (
        os.path.join(root, d) for d in ("adm_dec", "adm_idx", "adm_ckpt")
    )
    per_trigger, index_rows = [], []
    if len(docs) < N_TRIGGERS * ADMIT_BATCH:
        raise ValueError(
            f"corpus too small: {len(docs)} docs < "
            f"{N_TRIGGERS} triggers x {ADMIT_BATCH}"
        )
    for t in range(N_TRIGGERS):
        rows = docs[t * ADMIT_BATCH : (t + 1) * ADMIT_BATCH]
        _stage_one(
            spark.createDataFrame(
                [(r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"]) for r in rows],
                "doc_id bigint, text string, lang string, source string, n_chars bigint",
            ),
            stage,
            src,
            f"batch_{t}.parquet",
        )
        index_rows.append(
            S.read_neardup_index(spark, idx).count() if os.path.isdir(idx) else 0
        )
        t0 = time.perf_counter()
        S.run_near_dup_admission(spark, src, dec, idx, ckpt)
        per_trigger.append(round(time.perf_counter() - t0, 3))
        print(
            f"# admission trigger {t}: {per_trigger[-1]:.2f}s "
            f"(index rows before: {index_rows[-1]})",
            file=sys.stderr,
        )
    n_admitted = (
        spark.read.parquet(dec).filter(F.col("admitted")).count()
    )
    state_files, state_bytes = _dir_stats(idx)
    return {
        "triggers": N_TRIGGERS,
        "docs_per_trigger": ADMIT_BATCH,
        "per_trigger_s": per_trigger,
        "index_rows_before_trigger": index_rows,
        "docs_admitted_total": n_admitted,
        "index_files_final": state_files,
        "index_bytes_final": state_bytes,
        "docs_per_s_last_trigger": round(ADMIT_BATCH / per_trigger[-1], 1),
    }


def bench_carryover(spark, root: str) -> dict:
    from pyspark.sql.window import Window

    src = os.path.join(root, "car_src")
    stage = os.path.join(root, "car_stage")
    os.makedirs(src)
    events = load_table(spark, SF_DIR, "events").withColumn(
        "chunk", F.ntile(N_TRIGGERS).over(Window.orderBy("ts")) - 1
    )
    chunks = [
        events.filter(F.col("chunk") == i).drop("chunk") for i in range(N_TRIGGERS)
    ]
    n_events = events.count()
    processed, pending, ckpt = (
        os.path.join(root, d) for d in ("car_proc", "car_pend", "car_ckpt")
    )
    per_trigger, backlog_rows = [], []
    for t in range(N_TRIGGERS):
        _stage_one(chunks[t], stage, src, f"batch_{t}.parquet")
        if os.path.isdir(pending):
            backlog_rows.append(S.read_pending_state(spark, pending).count())
        else:
            backlog_rows.append(0)
        t0 = time.perf_counter()
        S.run_prioritized_carryover(
            spark, src, processed, pending, ckpt, batch_size=CARRY_BATCH_SIZE
        )
        per_trigger.append(round(time.perf_counter() - t0, 3))
        print(
            f"# carryover trigger {t}: {per_trigger[-1]:.2f}s "
            f"(backlog before: {backlog_rows[-1]})",
            file=sys.stderr,
        )
    served = spark.read.parquet(processed).count()
    return {
        "triggers": N_TRIGGERS,
        "events_total": n_events,
        "batch_size": CARRY_BATCH_SIZE,
        "per_trigger_s": per_trigger,
        "backlog_rows_before_trigger": backlog_rows,
        "served_total": served,
    }


def main() -> None:
    try:
        load1m, load5m, _ = os.getloadavg()
    except OSError:
        load1m = load5m = None
    spark = get_spark("hive-backend-spark-stream-bench")
    # python worker warmup (bench.py discipline)
    par = spark.sparkContext.defaultParallelism
    spark.range(0, par * 10, 1, par).mapInPandas(lambda it: it, "id long").count()
    root = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        admission = bench_admission(spark, root)
        carryover = bench_carryover(spark, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "stream_bench",
                "sf_dir": SF_DIR,
                "admission": admission,
                "carryover": carryover,
                "load_avg_1m_at_start": load1m,
                "load_avg_5m_at_start": load5m,
                "method": "one staged file per invocation (one trigger); "
                "wall time around the availableNow run; state size "
                "recorded before each trigger; per-call stream bootstrap "
                "is a constant, so per-trigger flatness while state grows "
                "is the readable signal",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
