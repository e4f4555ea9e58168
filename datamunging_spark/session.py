"""SparkSession factory with scale-ready defaults.

The reference delegates physical execution to Hive/Tez/Pig/Spark-1.6 and
encodes its physical choices as CLI flags (reference README.md:379,406 —
``--num-executors 3 --executor-memory 512m``). Our analog is a single,
centralized config surface: AQE on (runtime join-strategy switch, skew-join
splitting, partition coalescing), ANSI off (Hive-parity NULL-on-bad-cast,
SURVEY.md §1.2 / README.md:239-249), Arrow on (vectorized Python boundary).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Static defaults; on a real cluster these are overridden by spark-submit
# conf. Environment-derived settings (core count, driver memory) are read
# in _session_conf on every get_spark call, not at import.
_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r16 (guide §2.4): let AQE coalesce the OUTPUT partitioning of cached
    # plans too. Off, every .persist()'d frame (signature/posting tables)
    # materializes at the static shuffle.partitions count and each
    # InMemoryTableScan consumer pays that many tasks regardless of size
    # (measured: 32-task stages over 2.5 MB in every incremental-dedup
    # composite; ingest snapshot 33 -> 3 partitions with this on). The
    # partition count stays AQE-derived — scale-adaptive, not a local
    # constant.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # r16 (guide §2.5/§2.2): lower the AQE coalescing FLOOR from 1 MB.
    # With parallelismFirst (default) the target partition size is
    # max(bytes/defaultParallelism, minPartitionSize), so the 1 MB floor
    # — not core count — decides parallelism for shuffles whose rows are
    # CPU-dense relative to their compressed bytes (exploded n-gram /
    # posting arrays: x1_ngram_jaccard's gram join is 3.1 MB shuffled
    # but ~4 CPU s, and the floor coalesced it to 2 tasks → 2 cores
    # busy, 30 idle; measured 3.82 s -> 1.79 s warm interleaved with
    # 64k, five other CPU-dense queries unchanged within noise).
    # Scale-safe: partition count stays capped by defaultParallelism,
    # and on corpus-scale shuffles bytes/parallelism >> 1 MB so the
    # floor never binds — this only restores parallelism for
    # small-bytes/high-CPU exchanges at ANY cluster size. 128k chosen
    # by sweep (1m/256k/128k/64k): x1_ngram_jaccard 4.39/2.82/2.00/
    # 2.50 s; the one floor-sensitive overhead-bound query
    # (x1_incremental_span, 46 tiny jobs) pays 5.72/6.34/6.13/7.09 —
    # 128k is the joint optimum and span's real fix is its job count,
    # not the floor.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "128k",
    # Hive/Pig parity: invalid cast → NULL, not error (README.md:239-249).
    "spark.sql.ansi.enabled": "false",
    # Vectorized Arrow transfer for the few pandas_udf operators we ship.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast threshold: generous for dimension tables (region/nation/
    # supplier/part stay broadcastable far beyond sf1).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Read parallelism: default 128 MB splits — right for 100 TB parquet;
    # harmless locally.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # r17 (guide §6, verdict item 8): lower the per-file open-cost charge
    # from 4 MB. Spark's split size is min(maxPartitionBytes,
    # max(openCostInBytes, totalBytes/minPartitionNum)), so with the 4 MB
    # default ANY sub-4 MB file is one split — a single-file fixture scan
    # is structurally one task no matter how many row groups it has, and
    # single-task Arrow/codegen passes run on 1 of 32 cores. 64k models
    # the actual open/seek cost on modern storage. Scale-adaptive by
    # construction: on corpus-scale inputs bytesPerCore >> 64k decides
    # (and is itself capped by maxPartitionBytes), so this only restores
    # scan parallelism for small inputs; small-file PACKING is unchanged
    # in the regimes we scan (a ~20 KB store file charges 84 KB against a
    # 64 KB split — still one file per split, same as the 4 MB default).
    # Pairs with tools/regen_rowgroups.py (multi-row-group sf0.1
    # fixtures): splits only parallelize a parquet file at row-group
    # granularity.
    "spark.sql.files.openCostInBytes": str(64 * 1024),
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Managed tables (bucketed-join path) land outside the repo tree.
    "spark.sql.warehouse.dir": "/tmp/spark-warehouse",
}


def _session_conf(**conf: str) -> tuple[str, dict[str, str]]:
    """(master, conf) that :func:`get_spark` applies, reading the
    environment at call time. shuffle.partitions follows the core count
    rather than a large constant: AQE coalesces post-shuffle partitions at
    runtime, so the static value is just an upper bound."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    merged = dict(_DEFAULTS)
    merged["spark.sql.shuffle.partitions"] = cpus
    merged["spark.driver.memory"] = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", "8g"
    )
    merged.update({k: str(v) for k, v in conf.items()})
    return master, merged


def get_spark(app_name: str = "datamunging_spark", **conf: str) -> SparkSession:
    """Build (or fetch) the session with engine defaults; ``conf`` overrides."""
    master, merged = _session_conf(**conf)
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
