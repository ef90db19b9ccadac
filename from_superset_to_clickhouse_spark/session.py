"""SparkSession factory with scale-oriented defaults.

The reference outsources all execution to ClickHouse; here Catalyst +
Tungsten take that role, so the session config is where the "physical
design" lives: AQE on (runtime re-plan, skew-join handling, partition
coalescing), Arrow for any pandas interop, broadcast threshold sized for
dimension tables. Partition overwrite stays Spark's static default: a
``mode("overwrite")`` write replaces its whole output path, which is
what the package's whole-output rewrites (``build_inverted_index``,
``export_shards``) mean. TableStore's partition swap, the ``ALTER TABLE
… REPLACE PARTITION`` analog, commits through its own staging protocol.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "from_superset_to_clickhouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS|*]``. All settings are safe at
    cluster scale — nothing here assumes single-node.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Runtime re-planning: coalesce post-shuffle partitions, split skewed
        # joins, convert SMJ→BHJ when runtime stats allow. Essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables (customer/part/nation ≈ ab_user/dashboards dicts)
        # should broadcast — the Spark analog of ClickHouse hashed dictionaries.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r15 optimization round (guide §3.1/§9): let the planner pick a
        # shuffled-hash join where its size conditions hold instead of
        # always sort-merge — SHJ skips the per-partition sort.
        #
        # Spill posture (ADVICE r15): the planner's SHJ choice is made
        # from PLAN-TIME SIZE ESTIMATES (canBuildLocalHashMap: estimated
        # build side < autoBroadcastJoinThreshold × shuffle partitions),
        # not a runtime guarantee — and a shuffled-hash build map cannot
        # spill the way sort-merge does, so a badly mis-estimated or
        # single-hot-key build side can OOM an executor where SMJ would
        # have spilled. Mitigations that stay on here: AQE skew-join
        # splitting supports SHJ (oversized partitions split before the
        # build), statistics exist for all parquet scans, and the join
        # planner still falls back to SMJ whenever the size condition
        # fails (gated in tests/test_plans.py: a large-estimate join
        # still plans SortMergeJoin with this flag set). On clusters
        # with tight executor memory or unreliable stats, flip back with
        # SPARK_GRAFT_PREFER_SMJ=1.
        # Measured on the sf0.1 join-heavy entries (3 interleaved A/B
        # rounds): url_snapshot_dedup 6.7→4.3 s, hybrid_retrieval
        # 6.5→3.9 s, cut_spans 5.2→3.5 s, subset total −22%.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            "true"
            if os.environ.get("SPARK_GRAFT_PREFER_SMJ") == "1"
            else "false",
        )
        # Arrow-accelerated toPandas/createDataFrame and pandas UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
