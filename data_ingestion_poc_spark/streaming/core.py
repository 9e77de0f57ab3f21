"""Structured Streaming plumbing (SURVEY.md section 2 B9).

The reference's 'streaming' is a cron loop re-running the batch pipeline
with dedup for idempotency (README.md:106-119 + A16/A17) — at-least-once
plus manual dedup. Here that upgrades to checkpointed Structured Streaming:
file source + Trigger.AvailableNow IS the cron-rerun semantic, done right
(exactly-once bookkeeping, watermark-bounded state).

Every B9 query runs a REAL streaming query (memory sink, AvailableNow) and
returns its result table, so the DuckDB batch oracle checks true
stream/batch parity. Every query starts through ``run_stream``, which
sizes a new checkpoint's state partitions to the session's cores (the
reference sizes its worker pool to the machine the same way) and keeps
each finished query's executed plan and progress (STREAM_PLANS,
STREAM_PROGRESS).

Environment note: Spark 4's transformWithStateInPandas (the newer
StatefulProcessor API) is NOT usable in this container — its state-server
protocol imports google.protobuf, which is not installed and cannot be
added (no pip). applyInPandasWithState covers arbitrary stateful
processing instead (stream_stateful); swap in a StatefulProcessor when
the dependency is available — the groupBy/state/output contract is the
same shape.
"""

from __future__ import annotations

import glob
import hashlib
import os
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..catalog import normalize_event_ts, table_schema
from ..session import scoped_conf


def _staged_stream(
    spark: SparkSession, sf_dir: str, table_name: str, tag: str
) -> DataFrame:
    """File-source stream over one fixture table (schema from
    ``catalog.table_schema``; file streams require an explicit schema).

    The file stream source requires a DIRECTORY and lists FILES in it
    without following a symlink to a directory (a Spark-written table),
    so each part file is symlinked into a staging dir (zero-copy). The
    dir is keyed by a digest of the ABSOLUTE source path: two sf_dirs
    sharing a basename (pytest tmp fixtures) must never share one. The
    name stays stable across runs because a durable checkpoint
    (stream_state_reader) records the staged paths it has consumed."""
    src = os.path.join(sf_dir, f"{table_name}.parquet")
    path_key = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:12]
    stage = os.path.join(
        tempfile.gettempdir(),
        f"dip_stream_{tag}_{os.path.basename(sf_dir.rstrip('/'))}_{path_key}",
    )
    os.makedirs(stage, exist_ok=True)
    if os.path.isdir(src):
        parts = sorted(glob.glob(os.path.join(src, "*.parquet")))
    else:
        parts = [src]
    # Prune stale staging entries first (ADVICE r13): if the fixture
    # directory was regenerated in place with different part names,
    # the old links dangle — os.path.exists() follows the link and
    # returns False on a dangling target, so without this sweep they
    # would be neither detected below nor removed, and the file-stream
    # source would list them and fail (or double-count surviving old
    # parts no longer in `parts`).
    current = {os.path.basename(p) for p in parts}
    for name in os.listdir(stage):
        link = os.path.join(stage, name)
        if os.path.islink(link) and (
            name not in current or not os.path.exists(link)
        ):
            os.unlink(link)
    for p in parts:
        link = os.path.join(stage, os.path.basename(p))
        if not os.path.exists(link):
            os.symlink(p, link)
    schema = table_schema(spark, sf_dir, table_name)
    return spark.readStream.schema(schema).parquet(stage)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table. The ns->us timestamp
    normalization is applied on the stream exactly as in the batch
    catalog, so stream/batch parity is apples-to-apples."""
    return normalize_event_ts(_staged_stream(spark, sf_dir, "events", "src"))


def docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table."""
    return _staged_stream(spark, sf_dir, "documents", "docs")


#: Executed micro-batch physical plans of every streaming query finished
#: in this process: (query_name, explainInternal text), appended at
#: termination. The DataFrame a stream_* operator RETURNS is a memory-
#: table scan, so a plan audit on it says nothing about the stream; the
#: real executed plan (EventTimeWatermark, StateStoreSave, streaming
#: joins, exchanges) only exists on the StreamingQuery handle, captured
#: here. tools/plan_audit.py --streams drains this list to build the
#: PLANS.md streaming table.
STREAM_PLANS: list[tuple[str, str]] = []

#: Progress of every streaming query finished in this process:
#: (query_name, q.recentProgress), appended at termination next to its
#: plan. Each entry is one micro-batch: numInputRows, rows/s, the
#: watermark (eventTime) and, per stateOperators entry, state rows,
#: memoryUsedBytes and numShufflePartitions.
STREAM_PROGRESS: list[tuple[str, list]] = []


def finish_stream(q) -> None:
    """Await a StreamingQuery and record its executed physical plan and
    progress. Both records are diagnostic, never load-bearing for
    results: a failure to read either does not fail the query."""
    q.awaitTermination()
    try:
        STREAM_PLANS.append((q.name or "", q._jsq.explainInternal(False)))
    except Exception:
        pass
    try:
        STREAM_PROGRESS.append((q.name or "", q.recentProgress))
    except Exception:
        pass


def run_stream(
    sdf: DataFrame,
    output_mode: str = "append",
    *,
    sink: str | Callable[[DataFrame, int], None] = "memory",
    name: str | None = None,
    checkpoint: str | None = None,
    path: str | None = None,
) -> None:
    """Run a streaming DataFrame to completion with Trigger.AvailableNow
    into ``sink`` (a format name, or a foreachBatch function) and await
    it through finish_stream. The one place the package starts a stream.

    State partitions: AQE is off inside streaming micro-batches, so
    nothing can coalesce a stateful stage — it runs and commits one
    state store per ``spark.sql.shuffle.partitions`` partition however
    little data it holds (32 stores, 8 task waves per batch on local[4]
    at 32 partitions). The count is fixed when the checkpoint is
    created: Spark clones the session at ``.start()`` and records the
    conf in the first offset-log entry. So the conf is set to
    min(shuffle partitions, defaultParallelism) for ``.start()`` alone
    and restored right after, on the error path too; a resumed
    checkpoint keeps the count it recorded. Under dynamic allocation
    ``defaultParallelism`` at start time may be small (the executors
    not yet up), which would fix a small count for the checkpoint's
    life: start the first run of a long-lived checkpoint once the
    executors are up."""
    spark = sdf.sparkSession
    w = sdf.writeStream.outputMode(output_mode).trigger(availableNow=True)
    w = w.foreachBatch(sink) if callable(sink) else w.format(sink)
    if name:
        w = w.queryName(name)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    key = "spark.sql.shuffle.partitions"
    parts = min(int(spark.conf.get(key)), spark.sparkContext.defaultParallelism)
    with scoped_conf(spark, {key: str(parts)}):
        q = w.start(path)
    finish_stream(q)


def run_available_now(sdf: DataFrame, output_mode: str) -> DataFrame:
    """run_stream into a uniquely-named memory sink, returning the
    materialized result. Single-batch file source + update/complete mode
    => the sink holds exactly the final state."""
    name = "mem_" + uuid.uuid4().hex[:12]
    run_stream(sdf, output_mode, name=name)
    return sdf.sparkSession.table(name)
