"""SparkSession factory: local-mode for tests/bench, cluster-ready knobs.

Design notes for 100 TB (SURVEY.md section 4.2):
- AQE on: runtime join-strategy switching, partition coalescing, skew-join
  splitting replace any hand-tuned physical planning.
- Arrow on: every pandas-UDF stage (zip explode, embedding math fallbacks,
  multimodal decode) moves columnar batches, not pickled rows.
- UTC session timezone: parquet timestamps are naive; pinning UTC keeps
  Spark and the DuckDB oracle byte-identical on datetime output.
- shuffle.partitions is a batch knob (env DIP_SHUFFLE_PARTITIONS); on a
  real cluster you would size it so post-shuffle partitions are
  ~100-200 MB, and AQE coalesces what the data does not fill. Streams
  are the exception: AQE is off inside micro-batches, so a stateful
  stage keeps one state store per partition, and streaming.core.run_stream
  creates each new checkpoint with min(shuffle partitions,
  defaultParallelism) of them.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def builder(
    app_name: str = "data-ingestion-poc-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
) -> SparkSession.Builder:
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or "32")
    sp = str(shuffle_partitions or os.environ.get("DIP_SHUFFLE_PARTITIONS") or "32")
    # The preloading daemon (daemon_preload.py) is resolved by the worker
    # python via PYTHONPATH; the JVM (and hence the daemon it spawns)
    # inherits this process's environment, so export the package root
    # before the gateway starts. On a real cluster the same is done with
    # --py-files + spark.executorEnv.PYTHONPATH.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    # Per-PROCESS warehouse: managed tables (bucketed fixtures, CBO/
    # time-travel/WAP demos) are session-scoped caches here, and two JVMs
    # sharing one spark-warehouse/ can wipe each other's table directories
    # mid-read (r8 flake: test_bucketed_join_has_no_shuffle vs a
    # concurrent check_oracle run). The catalog is in-memory anyway, so
    # nothing is meant to survive the process; isolating the directory
    # makes that true on disk too. Override with DIP_WAREHOUSE_DIR when a
    # deployment really does share a metastore.
    warehouse = os.environ.get(
        "DIP_WAREHOUSE_DIR", f"/tmp/dip-warehouse-{os.getpid()}"
    )
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", sp)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # TESTDATA events.ts is parquet TIMESTAMP(NANOS) which Spark cannot
        # read natively; read as long and convert in catalog (us-lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("DIP_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Cost-based optimizer: no-op for plain parquet reads (no catalog
        # stats), but lets ANALYZEd managed tables drive join reordering
        # and accurate broadcast sizing (scan_cbo_stats demo).
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # Fork workers from a daemon that has pandas/pyarrow/numpy already
        # imported (COW-shared) instead of paying ~3 CPU-s of import per
        # worker per pool — see daemon_preload.py for the cluster story.
        .config(
            "spark.python.daemon.module",
            "data_ingestion_poc_spark.daemon_preload",
        )
    )


@contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]) -> Iterator[None]:
    """Set runtime SQL confs for the body of a ``with`` block, then put
    each key back as it was (unset again if it was unset), on success
    and on error alike."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, was in prev.items():
            if was is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, was)


def enable_rocksdb_state_store(b: SparkSession.Builder) -> SparkSession.Builder:
    """Switch Structured Streaming state to the RocksDB provider.

    The default HDFS-backed store keeps every key in executor heap — fine
    for the fixture-scale stream_* queries, fatal at 100 TB where a
    watermarked dedup/session state (stream_dedup, stream_session_window,
    stream_stateful) holds hundreds of millions of keys per executor.
    RocksDB spills state to local SSD with changelog checkpointing, capping
    heap at the block-cache size. Off by default here because local tests
    measure plan shape, not state size, and the HDFS store starts faster;
    flip it (or set DIP_ROCKSDB_STATE=1) for any long-watermark deploy.
    """
    return b.config(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    ).config(
        # changelog checkpointing uploads per-batch deltas, not full
        # SST snapshots — the difference between O(changed keys) and
        # O(total state) per commit at scale.
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )


def get_spark(**kwargs) -> SparkSession:
    b = builder(**kwargs)
    if os.environ.get("DIP_ROCKSDB_STATE") == "1":
        b = enable_rocksdb_state_store(b)
    return b.getOrCreate()
