"""Structured Streaming plumbing (SURVEY.md section 2 B9).

The reference's 'streaming' is a cron loop re-running the batch pipeline
with dedup for idempotency (README.md:106-119 + A16/A17) — at-least-once
plus manual dedup. Here that upgrades to checkpointed Structured Streaming:
file source + Trigger.AvailableNow IS the cron-rerun semantic, done right
(exactly-once bookkeeping, watermark-bounded state).

Every B9 query runs a REAL streaming query (memory sink, AvailableNow) and
returns its result table, so the DuckDB batch oracle checks true
stream/batch parity.

Environment note: Spark 4's transformWithStateInPandas (the newer
StatefulProcessor API) is NOT usable in this container — its state-server
protocol imports google.protobuf, which is not installed and cannot be
added (no pip). applyInPandasWithState covers arbitrary stateful
processing instead (stream_stateful); swap in a StatefulProcessor when
the dependency is available — the groupBy/state/output contract is the
same shape.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (schema from
    ``catalog.table_schema``; file streams require an explicit schema). The ns->us timestamp
    normalization is applied on the stream exactly as in the batch
    catalog, so stream/batch parity is apples-to-apples."""
    import os
    import tempfile

    from ..catalog import normalize_event_ts, table_schema

    # The file stream source requires a DIRECTORY; stage one containing a
    # symlink to the events parquet (zero-copy). Keyed by a digest of the
    # ABSOLUTE source path: two different sf_dirs sharing a basename
    # (pytest tmp fixtures) must never share a staging dir.
    import hashlib

    src = os.path.join(sf_dir, "events.parquet")
    path_key = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:12]
    stage = os.path.join(
        tempfile.gettempdir(),
        f"dip_stream_src_{os.path.basename(sf_dir.rstrip('/'))}_{path_key}",
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    schema = table_schema(spark, sf_dir, "events")
    sdf = spark.readStream.schema(schema).parquet(stage)
    return normalize_event_ts(sdf)


#: Executed micro-batch physical plans of every streaming query finished
#: in this process: (query_name, explainInternal text), appended at
#: termination. The DataFrame a stream_* operator RETURNS is a memory-
#: table scan, so a plan audit on it says nothing about the stream; the
#: real executed plan (EventTimeWatermark, StateStoreSave, streaming
#: joins, exchanges) only exists on the StreamingQuery handle, captured
#: here. tools/plan_audit.py --streams drains this list to build the
#: PLANS.md streaming table.
STREAM_PLANS: list[tuple[str, str]] = []


def finish_stream(q) -> None:
    """Await a StreamingQuery and record its executed physical plan."""
    q.awaitTermination()
    try:
        STREAM_PLANS.append((q.name or "", q._jsq.explainInternal(False)))
    except Exception:
        # plan capture is diagnostic, never load-bearing for results
        pass


def run_available_now(sdf: DataFrame, output_mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion with
    Trigger.AvailableNow into a uniquely-named memory sink and return the
    materialized result. Single-batch file source + update/complete mode =>
    the sink holds exactly the final state."""
    spark = sdf.sparkSession
    name = "mem_" + uuid.uuid4().hex[:12]
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    finish_stream(q)
    return spark.table(name)


def docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (the events_stream
    staging recipe, minus the timestamp normalization documents do not
    need)."""
    import hashlib
    import os
    import tempfile

    import glob

    from ..catalog import table_schema

    src = os.path.join(sf_dir, "documents.parquet")
    path_key = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:12]
    stage = os.path.join(
        tempfile.gettempdir(),
        f"dip_stream_docs_{os.path.basename(sf_dir.rstrip('/'))}_{path_key}",
    )
    os.makedirs(stage, exist_ok=True)
    # The file stream source lists FILES in the staging dir and does
    # not follow a symlink to a DIRECTORY (a Spark-written table):
    # symlink each part file individually so both single-file fixtures
    # and directory tables stream.
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
    schema = table_schema(spark, sf_dir, "documents")
    return spark.readStream.schema(schema).parquet(stage)
