"""SparkSession factory tuned for this engine.

Test/bench runs are local[N]; the configs below are the ones that also matter
on a real multi-executor cluster at 100 TB: AQE (runtime re-planning, skew-join
splitting, dynamic coalescing), Arrow for every Python boundary, and a shuffle
partition count that AQE can coalesce downward rather than a hardcoded guess.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "seisdb-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesce only ever merges DOWNWARD from the initial count, so
        # the initial count must be sized for the LARGEST corpus a shuffle
        # might carry, not the smallest: with the default (== shuffle.
        # partitions == 32) the x1000 stress corpus forced ~300 MB+ sort
        # spills per task and made every corpus-keyed exchange superlinear
        # across the x100->x1000 decade (rep-stage delta 15 s -> 256 s for
        # 10x the rows; tools/profile_decades.py at commit 2e88616).
        # Starting at 512 and letting AQE coalesce to
        # advisoryPartitionSizeInBytes keeps
        # small-SF plans identical (coalesced post-shuffle) while large
        # corpora get memory-sized sort runs — on a real 1000-executor
        # cluster this would be set to a few x total cores.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
        # AQE coalescing's floor (r18, guide §2.5/§1): with the default
        # minPartitionSize=1m, any exchange carrying under ~cores MB of
        # COMPRESSED data coalesces below the core count — post-shuffle
        # stages that are CPU-heavy per row (shingle explode + md5 +
        # minhash lanes over a deduped doc set, regex gates) then run on
        # 1-5 of 32 cores (measured: curation_keep_set's two 1-task
        # broadcast-build stages at ~1.2 s each; bm25_multiquery 1.35 ->
        # 0.95 s, repeated_passage_spans 1.44 -> 0.76 s with the floor).
        # 64k keeps parallelismFirst's cap semantics intact: partitions ~
        # min(defaultParallelism, compressed_bytes/64k), so sub-64k
        # exchanges still collapse to one task and LARGE corpora are
        # untouched (advisoryPartitionSizeInBytes governs long before
        # this floor matters at 100 TB).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce a persisted frame's shuffles too: with the
        # default (false) a cached groupBy materializes initialPartitionNum
        # (512) partitions however few rows it holds, and every later read
        # of the cache runs 512 tasks
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # harness-protocol overrides (the x1000 tier attempts escalate heap /
    # thread-count / spill codec without forking this factory):
    # comma-separated key=value pairs, applied last so they win.  The
    # comma is the pair separator, so values containing commas cannot be
    # expressed through this channel.  A token without '=' is a typo'd
    # or truncated override — raise rather than silently setting the key
    # to "" and corrupting the session config (r16 advice).
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in extra.split(","))):
        k, eq, v = pair.partition("=")
        k = k.strip()
        if not eq or not k:
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF token {pair!r} is not a "
                "key=value pair with a non-empty key — expected "
                "comma-separated key=value pairs"
            )
        # strip around '=': 'k = v' would otherwise set the inert key
        # 'k ' (trailing space) and the override silently not apply
        builder = builder.config(k, v.strip())
    return builder.getOrCreate()
