"""Per-query metadata caches: the catalog's parquet schema cache and the
JVM's generated-code cache.

A schema-less ``spark.read.parquet`` schedules a footer-inference job on
every call; ``catalog.read_parquet`` must skip it whenever the path's
listing is unchanged and must re-infer whenever it changed. The codegen
cache (``spark.sql.codegen.cache.maxEntries``) must hold the working set of
a batch of registered queries, or every repeat recompiles it."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from hive_backend_spark import sources as SRC
from hive_backend_spark.catalog import (
    TABLES,
    clear_schema_cache,
    load_table,
    read_parquet,
    table_path,
)
from hive_backend_spark.operators import mutation as MU
from hive_backend_spark.registry import all_queries

def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn scheduled)."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_equals_inferred(spark, sf_dir, name):
    path = table_path(sf_dir, name)
    clear_schema_cache()
    cold, cold_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    warm, warm_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert (cold_jobs, warm_jobs) == (1, 0)
    assert cold.schema == warm.schema == spark.read.parquet(path).schema


def test_warm_load_table_schedules_no_jobs(spark, sf_dir):
    clear_schema_cache()
    cold, cold_jobs = _jobs(spark, lambda: load_table(spark, sf_dir, "events"))
    warm, warm_jobs = _jobs(spark, lambda: load_table(spark, sf_dir, "events"))
    assert (cold_jobs, warm_jobs) == (1, 0)
    assert warm.schema == cold.schema
    # the nanos -> timestamp conversion still applies on a hit
    assert dict(warm.dtypes)["ts"] == "timestamp"


def test_mutations_keep_the_cache_current(spark, sf_dir, tmp_path):
    """Each op records what it wrote, so the next read is a hit that
    already shows the op's schema, the same one inference finds."""
    d = str(tmp_path / "t")
    load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("id"),
        F.col("ts"),
        F.lit(True).alias("active"),
        F.lit("active").alias("status"),
        F.lit(0).alias("retry_count"),
    ).dropDuplicates(["id"]).write.parquet(d)
    first = read_parquet(spark, d).localCheckpoint()  # the ops delete its files
    updates = first.limit(3).withColumn("status", F.lit("error")).localCheckpoint()
    newer = first.limit(2).withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    ops = [
        lambda: MU.overwrite_matching(spark, d, updates, ["id"]),
        lambda: MU.upsert_latest(spark, d, newer, ["id"], "ts"),
        lambda: MU.soft_delete(spark, d, F.col("status") == "error"),
        lambda: MU.conditional_update(
            spark, d, F.col("status") == "deleted", {"retry_count": F.col("retry_count") + 1}
        ),
        lambda: MU.retention_rewrite(spark, d, "ts", cutoff),
        lambda: MU.compact(spark, d),
        lambda: MU.evolve_schema(spark, d, {"note": F.lit(None).cast("string")}),
    ]
    for op in ops:
        op()
        df, jobs = _jobs(spark, lambda: read_parquet(spark, d))
        assert jobs == 0
        assert df.schema == spark.read.parquet(d).schema
    assert df.columns[-1] == "note"
    assert df.filter(F.col("note").isNotNull()).count() == 0


def test_retention_rewrite_counts_deletions_in_one_scan(spark, tmp_path):
    d = str(tmp_path / "t")
    rows = [(i, None if i % 10 == 0 else f"2024-01-{1 + i % 28:02d} 00:00:00") for i in range(200)]
    spark.createDataFrame(rows, "id INT, ts STRING").select(
        "id", F.col("ts").cast("timestamp").alias("ts")
    ).write.parquet(d)
    before = read_parquet(spark, d).count()  # also caches the schema
    cutoff = F.lit("2024-01-10 00:00:00").cast("timestamp")
    # null ts rows fail the ``ts >= cutoff`` filter, so they count as deleted
    deleted, jobs = _jobs(spark, lambda: MU.retention_rewrite(spark, d, "ts", cutoff))
    assert deleted == before - spark.read.parquet(d).count() > 0
    assert jobs == 1  # the rewrite itself, no count() passes
    assert MU.retention_rewrite(spark, d, "ts", cutoff) == 0


def test_replaced_single_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    _, cold = _jobs(spark, lambda: read_parquet(spark, path))
    df, warm = _jobs(spark, lambda: read_parquet(spark, path))
    assert (cold, warm) == (1, 0)
    assert df.columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 1
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_partitioned_layouts_are_not_cached(spark, tmp_path):
    """A non-recursive listing cannot see a file added under an existing
    partition, so a directory that holds directories is always inferred."""
    d = str(tmp_path / "parts")
    spark.createDataFrame([(1, "a")], "id INT, p STRING").write.partitionBy("p").parquet(d)
    _, jobs = _jobs(spark, lambda: read_parquet(spark, d))
    _, again = _jobs(spark, lambda: read_parquet(spark, d))
    assert again == jobs > 0
    # a second file under the existing p=a partition
    spark.createDataFrame([(2, "a")], "id INT, p STRING").write.mode("append").partitionBy(
        "p"
    ).parquet(d)
    assert read_parquet(spark, d).count() == SRC.read_partitioned(spark, d).count() == 2


def test_long_listings_are_not_cached(spark, tmp_path):
    """Past _MAX_LISTING entries the per-read listing would cost more
    py4j calls than it saves, so such a path is always inferred."""
    d = str(tmp_path / "many")
    spark.range(0, 70, 1, 70).write.parquet(d)  # 70 parts and _SUCCESS
    _, jobs = _jobs(spark, lambda: read_parquet(spark, d))
    df, again = _jobs(spark, lambda: read_parquet(spark, d))
    assert again == jobs > 0
    assert df.count() == 70


def test_missing_path_still_raises(spark, tmp_path):
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        read_parquet(spark, str(tmp_path / "nope"))


# Registered reads whose generated classes (~220 at sf0.01) outnumber
# Spark's default codegen cache of 100 entries.
CODEGEN_SET = (
    "q01_priority_dequeue", "q05_point_lookup", "q11_group_count",
    "q13_fk_enrich_join", "q14_latest_wins", "q52_two_phase_mark",
    "q56_backlog_alert", "q40_pricing_summary", "q93_shipping_delay_priority",
    "q41_shipping_priority", "q42_local_supplier_volume", "q43_segment_spend",
    "q19_nation_trade_volume", "q91_market_share", "q92_product_profit",
    "q95_top_supplier", "q99_last_to_ship_suppliers", "q29_window_rank",
    "q31_rollup", "q34_cube",
)


def test_codegen_cache_holds_a_query_batch(spark, sf_dir):
    """A repeated batch must reuse its compiled classes: the second
    round's compile count is at most 10 % of the first's."""
    specs = all_queries()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    rounds = []
    for _ in range(2):
        c0 = compiles.getCount()
        for name in CODEGEN_SET:
            specs[name].fn(spark, sf_dir).collect()
        rounds.append(compiles.getCount() - c0)
    assert rounds[1] <= 0.1 * rounds[0], rounds
