"""SparkSession factory: the one owner of the engine's session confs.

``get_spark`` applies two groups of settings:

- **Engine conf**, always: AQE (runtime coalesce with a 64k floor +
  skew-join splitting), the ``InferFiltersFromGenerate`` exclusion,
  shuffled-hash-join preference, Arrow for every pandas UDF boundary
  with its batch size, and the UTC session timezone. These are
  cluster-size agnostic, so every entry point — tests, bench, the
  spark-submit CLIs — plans under the same rules.
- **Local topology**, only when a ``master`` is passed: the master
  itself, the default shuffle-partition count, driver memory and the
  UI. Under spark-submit pass no master; the submit command owns the
  topology.

Operators never set session confs: a conf set mid-run is session-global
and leaks into any query another thread plans on the same session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "ie-kg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine conf.

    ``master="local[N]"`` also sizes a local session (shuffle partitions
    default to ``max(SPARK_GRAFT_CPUS, 8)``). ``master=None`` — the
    spark-submit case — leaves master, executor topology and shuffle
    partitions to the submit command unless ``shuffle_partitions`` is
    given explicitly.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # the static shuffle-partition count is always wrong somewhere; AQE
        # re-plans from actual map output sizes.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces post-shuffle partitions by BYTES (minPartitionSize
        # default 1m). Our hot stages are CPU-bound pandas UDFs where 1 MB
        # of text is seconds of compute, so byte-coalescing starves cores:
        # the fused extraction stage ran on 3 of 32 partitions. Paired
        # interleaved A/B (r7, min-of-4/cell, sf0.1): 64k floor wins the
        # Python-stage-bound keys big (q2c 5.22->2.09s, q4c 4.90->1.93s,
        # q1 1.68->1.38s, q8 10.02->8.54s); the one payer is iterative
        # full CC, which bounds its own loop partitions by coalescing
        # (operators/components.py). An explicit repartition(32) matched
        # the q1 gain but costs an extra Exchange at scale. Coalescing can
        # only shrink below shuffle.partitions, so the worst case stays
        # bounded at `shuffle_partitions` tasks — and at real 100 TB
        # partition sizes the floor is never the binding constraint.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # InferFiltersFromGenerate injects `size(e) > 0 AND isnotnull(e)`
        # under every explode(e) — for this engine's generators e is an
        # expensive derived array (higher-order shingle/band/bit
        # expressions, interpreted because HOFs never codegen), so the
        # inferred filter RE-EVALUATES the whole array expression once
        # per row on top of the Generate's own evaluation: measured 2.1x
        # on the shingle explode (2.47s -> 1.17s at sf0.1, r8) and it
        # can never prune anything explode itself wouldn't drop. The
        # rule exists to enable join/scan pushdown of the emptiness
        # check, which no plan in this engine has (generators sit
        # directly over scans/projections).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffled hash join over sort-merge when the build side fits
        # (guide §9 baseline): the iterative graph loops join a big
        # edge table against a rank/label vector every round — skipping
        # the per-round sorts measured −6% on q12-shape PageRank and
        # −3% on full CC (paired A/B, r8). Static planning prefers SHJ
        # only when its size conditions hold, and the AQE threshold
        # converts SMJ→SHJ at runtime from ACTUAL map sizes (64m per
        # partition — size-guarded, so the OOM risk class is the same
        # as any AQE decision, and it scales by construction).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        # Arrow for pandas UDF / mapInPandas boundaries (the scorer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Deterministic session timezone so ts math is stable everywhere.
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master is not None:
        shuffle_partitions = shuffle_partitions or max(default_parallelism(), 8)
        builder = (
            builder.master(master)
            # normalized: the conf is strictly boolean — a raw SPARK_UI=1
            # would crash getOrCreate with IllegalArgumentException
            .config(
                "spark.ui.enabled",
                str(
                    os.environ.get("SPARK_UI", "false").strip().lower()
                    in ("1", "true", "yes", "on")
                ).lower(),
            )
            # local mode puts every reducer's collect_list buffer in one
            # heap; an undersized heap turns the assembly stage into GC
            # thrash (measured: 3-5x wall-time outliers at local[32] with 8g).
            .config(
                "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g")
            )
        )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
