"""The Part-A ingestion pipeline, Spark-first (SURVEY.md section 7 M5).

Reference dataflow (child.py): enumerate sources -> batch round-robin ->
fetch (pre-stat size/mtime, download) -> size-verify -> zip explode with
member-mtime restore -> sanitize/derive -> dedup probe vs sink state ->
partitioned sink write (+ metadata) -> post-write audit; per-file errors go
to an error channel and never kill the batch.

Spark mapping (SURVEY.md section 1.4 / section 3.4):
- manifest DataFrame + repartition(N)   = round-robin batching (A1/A2);
- mapInPandas fetch stage               = worker download loop (A6-A8),
  errors as an `error` COLUMN (A21), not an exception;
- filter on length==expected            = integrity check (A9), failures
  routed to a quarantine DataFrame (A21/A23);
- mapInPandas zip explode (1->N)        = A14, member DOS-mtime restore =
  A10, recursion depth 1 like the reference;
- Column-expr sanitize/derive           = A11/A12/A13;
- left-anti join vs sink_state          = A17 dedup-skip (A16 rename is
  the keep-both variant, rename_policy='rename');
- write.partitionBy(server_folder,file_type) = A18 sink layout;
- post-write re-scan counts             = A19/A25 audit.

Scale: the fetch stage is opaque to Catalyst, so ALL manifest-level
filtering happens before it; content never leaves executors; the sink
layout gives partition pruning; sink_state stays a compact (name,size,
mtime) table that broadcast-joins against new arrivals.

Staging: the dataflow forks twice, and each fork is staged once with
``localCheckpoint`` so the actions behind it read staged rows instead of
re-running the lineage. ``split_verified`` stages the fetched rows (the
fork into ``ok`` and ``quarantine``); ``dedup_against_sink`` stages the
deduplicated records (the common input of ``finalize`` -> ``write_sink``,
the blob upload and its probe). One cycle therefore fetches every file,
explodes every archive and broadcasts the sink state exactly once, and
the parquet sink, the quarantine and the blob store all see the SAME
bytes even when a remote file changes mid-cycle. The trade-off: staged
blocks live on the executors, so a lost executor fails the cycle instead
of re-fetching. The dedup-skip makes a re-run idempotent, like the
reference's cron re-run (README.md:106-119). ``fetch`` alone stays lazy.
"""

from __future__ import annotations

import io
import os
import uuid
import zipfile
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.filters import sanitize_col
from . import fixtures

MANIFEST_SCHEMA = "server string, remote_path string"

FETCHED_SCHEMA = (
    "server string, remote_path string, content binary, length bigint, "
    "expected_length bigint, modified_time bigint, error string"
)

EXPLODED_SCHEMA = (
    "server string, remote_path string, content binary, length bigint, "
    "modified_time bigint, from_archive string"
)

SINK_STATE_SCHEMA = "file_name string, length bigint, modified_time bigint"


def manifest_df(spark: SparkSession, manifest=None, n_batches: int = 8) -> DataFrame:
    """SOURCES manifest -> work-unit DataFrame, round-robin partitioned
    (A1 main.py:69-75 + A2 main.py:65-78: keyless repartition IS Spark's
    round-robin)."""
    rows = manifest if manifest is not None else fixtures.MANIFEST
    return spark.createDataFrame(rows, MANIFEST_SCHEMA).repartition(n_batches)


def _resolve_local(server: str, remote_path: str) -> str:
    import re

    host = re.match(r"^[a-z]+://(?:[^@/]+@)?([^:/]+)", server).group(1)
    root = fixtures.HOST_ROOTS.get(host)
    if root is None:
        raise FileNotFoundError(f"unknown host {host}")
    return root + remote_path


class Fetcher:
    """Pluggable protocol client for the fetch stage (reference
    child.py:35-81: pycurl FTP/SFTP). Implementations run INSIDE executor
    tasks (the instance is pickled into the mapInPandas closure), so they
    must be serializable and open connections lazily per task, never in
    the driver.

    ``stat`` = the A6/A7 pre-stat probe (expected byte size, mtime epoch
    seconds); ``read`` = the A8 download. Raising from either routes the
    file to the error channel (A21) — it never kills the batch.
    """

    def stat(self, server: str, remote_path: str) -> tuple[int, int]:
        raise NotImplementedError

    def read(self, server: str, remote_path: str) -> bytes:
        raise NotImplementedError


class LocalFilesystemFetcher(Fetcher):
    """Test-environment Fetcher: resolves (server, path) onto the pinned
    local fixture tree (fixtures.HOST_ROOTS). 'bad_size' files get a
    deliberately wrong expected_length — the fault injection for the A9
    integrity check."""

    def stat(self, server: str, remote_path: str) -> tuple[int, int]:
        st = os.stat(_resolve_local(server, remote_path))
        expected = st.st_size + (1 if "bad_size" in remote_path else 0)
        return expected, int(st.st_mtime)

    def read(self, server: str, remote_path: str) -> bytes:
        with open(_resolve_local(server, remote_path), "rb") as f:
            return f.read()


def __getattr__(name: str):
    # The network clients (reference child.py:35-81) live in
    # ingest.netfetch: FtplibFetcher (stdlib, always available) and
    # CurlFetcher (the literal pycurl client, import-guarded). Lazy
    # re-export keeps `pipeline.CurlFetcher` working for existing
    # callers without a circular module-level import.
    if name in ("CurlFetcher", "FtplibFetcher", "SftpFetcher"):
        from . import netfetch

        return getattr(netfetch, name)
    raise AttributeError(name)


def make_fetch_stage(fetcher: Fetcher, concurrency: int = 1):
    """Build the mapInPandas fetch stage around any Fetcher (A6-A8):
    pre-stat size/mtime then read bytes; per-file try/except emits an
    error column instead of failing the task (A21).

    ``concurrency`` > 1 completes A5: the reference overlaps stat +
    download WITHIN a batch with asyncio under a bounded semaphore
    (child_otherftp.py:300-306, ``Semaphore(max_concurrent_tasks)``,
    default 3). The engine's equivalent is a per-partition thread pool
    of that width — the Fetcher contract opens one connection per call
    and shares nothing, so blocking clients overlap safely; Spark's
    task-level parallelism is unchanged (this is intra-task I/O
    overlap for many-small-files WAN ingest, where per-file round-trip
    latency, not bandwidth, bounds throughput). Result order is the
    manifest order either way (executor.map preserves input order), so
    downstream goldens are byte-identical on both paths.
    """
    if concurrency < 1:
        raise ValueError(f"concurrency must be >= 1, got {concurrency}")

    def fetch_one(server: str, rpath: str) -> dict:
        row = {
            "server": server,
            "remote_path": rpath,
            "content": None,
            "length": None,
            "expected_length": None,
            "modified_time": None,
            "error": None,
        }
        try:
            expected, mtime = fetcher.stat(server, rpath)  # A6/A7
            content = fetcher.read(server, rpath)  # A8
            row.update(
                content=bytearray(content),
                length=len(content),
                expected_length=expected,
                modified_time=mtime,
            )
        except Exception as e:  # error channel (A21)
            row["error"] = f"{type(e).__name__}: {e}"
        return row

    def fetch_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pairs = list(zip(pdf["server"], pdf["remote_path"]))
            if concurrency > 1 and len(pairs) > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=min(concurrency, len(pairs))
                ) as ex:
                    rows = list(ex.map(lambda p: fetch_one(*p), pairs))
            else:
                rows = [fetch_one(*p) for p in pairs]
            yield pd.DataFrame(rows)

    return fetch_stage


#: Default stage over the fixture tree (name kept for existing callers).
fetch_local = make_fetch_stage(LocalFilesystemFetcher())


def fetch(
    spark: SparkSession,
    manifest=None,
    n_batches: int = 8,
    fetcher: Fetcher | None = None,
    concurrency: int = 1,
) -> DataFrame:
    stage = (
        make_fetch_stage(fetcher, concurrency=concurrency)
        if fetcher is not None
        else (
            fetch_local
            if concurrency == 1
            else make_fetch_stage(
                LocalFilesystemFetcher(), concurrency=concurrency
            )
        )
    )
    return manifest_df(spark, manifest, n_batches).mapInPandas(
        stage, schema=FETCHED_SCHEMA
    )


def split_verified(fetched: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Integrity gate (A9 child.py:83-88): size must equal the pre-stat
    expectation and the fetch must be error-free. Failures become the
    quarantine stream (A21/A23) — a DataFrame, not a side-channel log.

    ``fetched`` is staged once here: both outputs read the staged rows,
    so the fetch runs once however many actions consume them."""
    fetched = fetched.localCheckpoint()
    ok_cond = F.col("error").isNull() & (F.col("length") == F.col("expected_length"))
    ok = fetched.where(ok_cond).drop("expected_length", "error")
    quarantine = fetched.where(~ok_cond | F.col("error").isNotNull()).select(
        "server",
        "remote_path",
        "length",
        "expected_length",
        F.coalesce("error", F.lit("size mismatch")).alias("error"),
    )
    return ok, quarantine


def explode_archives(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Zip explode (A14 child.py:94-121): 1->N flatMap on the bytes,
    restoring each member's DOS mtime (A10, child.py:104-106; UTC here —
    see fixtures.member_mtime). Recursion depth 1, like the reference:
    members that are themselves archives pass through opaque. No staging
    directory ever materializes (the reference's A15/A20 cleanup becomes
    unnecessary)."""
    for pdf in batches:
        rows = []
        for r in pdf.itertuples(index=False):
            is_zip = str(r.remote_path).lower().endswith(".zip")
            if not is_zip:
                rows.append(
                    {
                        "server": r.server,
                        "remote_path": r.remote_path,
                        "content": r.content,
                        "length": r.length,
                        "modified_time": r.modified_time,
                        "from_archive": None,
                    }
                )
                continue
            with zipfile.ZipFile(io.BytesIO(bytes(r.content))) as zf:
                for info in zf.infolist():
                    if info.is_dir():
                        continue
                    blob = zf.read(info.filename)
                    rows.append(
                        {
                            "server": r.server,
                            "remote_path": f"{os.path.dirname(r.remote_path)}/{info.filename}",
                            "content": bytearray(blob),
                            "length": len(blob),
                            "modified_time": fixtures.member_mtime(info.date_time),
                            "from_archive": str(r.remote_path),
                        }
                    )
        yield pd.DataFrame(rows)


#: port regexes shared with functions/urls.py (A13 semantics)
_PORT_RE = "^[a-z]+://(?:[^@/]+@)?[^:/]+:([0-9]+)"
_HOST_RE = "^[a-z]+://(?:[^@/]+@)?([^:/]+)"


def derive_columns(df: DataFrame) -> DataFrame:
    """Identity derivation, all Column exprs: server_folder = host_port
    with scheme-default port (A13 child.py:16-18), sanitized file_name
    (A11 child.py:20-33, sanitize-BEFORE-type like child.py:131), file_type
    = last extension segment else 'none' (A12 child.py:132 — '.tar.gz'
    -> 'gz')."""
    scheme = F.regexp_extract("server", r"^([a-z]+)://", 1)
    host = F.regexp_extract("server", _HOST_RE, 1)
    port_str = F.regexp_extract("server", _PORT_RE, 1)
    port = (
        F.when(port_str != "", port_str.cast("int"))
        .when(scheme == "ftp", F.lit(21))
        .otherwise(F.lit(22))
    )
    file_name = sanitize_col(F.element_at(F.split("remote_path", "/"), -1))
    file_type = F.when(
        file_name.contains("."), F.regexp_extract(file_name, r"\.([^.]*)$", 1)
    ).otherwise("none")
    return df.select(
        "*",
        F.concat(host, F.lit("_"), port.cast("string")).alias("server_folder"),
        file_name.alias("file_name"),
        file_type.alias("file_type"),
    )


def dedup_against_sink(
    df: DataFrame, sink_state: DataFrame, policy: str = "skip"
) -> DataFrame:
    """Dedup probe vs sink state on the identity triple (file_name, length,
    modified_time). policy='skip' = A17 (scrap/child_otherftp.py:280-298):
    drop already-uploaded files (left anti join). policy='rename' = A16
    (child.py:174-191): keep both, newcomer renamed {base}_{mtime}{ext}.
    sink_state is small (one row per uploaded object) -> broadcast join.

    The result is staged (localCheckpoint): it feeds the parquet sink, the
    blob upload and the blob probe, which then share one explode and one
    broadcast."""
    keys = ["file_name", "length", "modified_time"]
    state = F.broadcast(sink_state.select(*keys).dropDuplicates(keys))
    if policy == "skip":
        deduped = df.join(state, on=keys, how="left_anti")
    elif policy == "rename":
        hit = state.withColumn("_dup", F.lit(True))
        joined = df.join(hit, on=keys, how="left")
        base = F.regexp_replace("file_name", r"\.[^.]*$", "")
        ext = F.regexp_extract("file_name", r"(\.[^.]*)$", 1)
        renamed = F.concat(base, F.lit("_"), F.col("modified_time").cast("string"), ext)
        deduped = joined.withColumn(
            "file_name", F.when(F.col("_dup"), renamed).otherwise(F.col("file_name"))
        ).drop("_dup")
    else:
        raise ValueError(f"unknown dedup policy {policy!r}")
    return deduped.localCheckpoint()


def finalize(df: DataFrame) -> DataFrame:
    """Final record shape: identity + metadata + content digest (the
    reference's metadata map A18 child.py:200-204, with size-equality
    integrity upgraded to sha256)."""
    return df.select(
        "server_folder",
        "file_type",
        "file_name",
        "length",
        "modified_time",
        F.coalesce("from_archive", F.lit("")).alias("from_archive"),
        F.sha2(F.coalesce(F.col("content"), F.lit(b"")), 256).alias("sha256"),
    )


def write_sink(df: DataFrame, sink_dir: str) -> DataFrame:
    """Partitioned sink write (A18 layout {server_folder}/{file_type}/...)
    + re-scan audit (A19/A25). Returns the audit DataFrame."""
    df.write.mode("overwrite").partitionBy("server_folder", "file_type").parquet(
        sink_dir
    )
    back = df.sparkSession.read.parquet(sink_dir)
    return back.groupBy("server_folder", "file_type").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("length").alias("total_bytes"),
    )


def run_pipeline(
    spark: SparkSession,
    manifest=None,
    sink_state: DataFrame | None = None,
    policy: str = "skip",
    fetcher: Fetcher | None = None,
    concurrency: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Full pipeline -> (final_records, quarantine). Staged at its two
    forks (module docstring, "Staging"): the fetch, the explode and the
    dedup join run here, once each, and the caller's actions read the
    staged rows; a lost executor fails the cycle rather than re-fetching.
    ``fetcher`` swaps the protocol client (netfetch.FtplibFetcher/
    CurlFetcher for real servers); default is the local-fixture fetcher.
    ``concurrency`` > 1 overlaps stat+read inside each task (A5, see
    make_fetch_stage)."""
    fixtures.build()
    fetched = fetch(spark, manifest, fetcher=fetcher, concurrency=concurrency)
    ok, quarantine = split_verified(fetched)
    exploded = ok.mapInPandas(explode_archives, schema=EXPLODED_SCHEMA)
    derived = derive_columns(exploded)
    if sink_state is None:
        sink_state = spark.createDataFrame([], SINK_STATE_SCHEMA)
    deduped = dedup_against_sink(derived, sink_state, policy)
    return finalize(deduped), quarantine


#: Retry policy for the fetch stage. The reference left retries as a
#: commented-out TODO (config.py:12-13, config.py:44) and relied on
#: cron re-runs; the engine does bounded in-task retries, then routes
#: the exhausted row to quarantine (A21) instead of waiting a day.
FETCH_MAX_ATTEMPTS = 3

RETRY_SCHEMA = "server string, remote_path string, status string, attempts int"


def fetch_with_retry(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas fetch with bounded retries. Deterministic fault
    injection: a remote_path containing 'flaky' raises on every attempt
    before the last one (transient-failure model); 'missing' paths fail
    every attempt (permanent-failure model). Retries happen INSIDE the
    task — no Spark task retry, no stage restart, no driver round-trip."""
    for pdf in batches:
        rows = []
        for server, rpath in zip(pdf["server"], pdf["remote_path"]):
            attempts = 0
            status = "quarantined"
            while attempts < FETCH_MAX_ATTEMPTS:
                attempts += 1
                try:
                    if "flaky" in rpath and attempts < FETCH_MAX_ATTEMPTS:
                        raise IOError("transient connection reset")
                    local = _resolve_local(
                        server, rpath.replace("flaky:", "")
                    )
                    os.stat(local)
                    status = "ok"
                    break
                except Exception:
                    continue
            rows.append(
                {
                    "server": server,
                    "remote_path": rpath,
                    "status": status,
                    "attempts": attempts,
                }
            )
        yield pd.DataFrame(rows)


def write_blob_sink(df: DataFrame, sink_root: str) -> DataFrame:
    """Blob-per-row sink with metadata fidelity (A18 child.py:196-218):
    each record's payload is uploaded as its own object under
    {server_folder}/{file_type}/{file_name} with its metadata map applied
    — here the filesystem stands in for the blob store, so modified_time
    becomes the object's mtime (os.utime) and creation_time/file_size are
    store-derived, exactly like blob properties. The upload runs in
    foreachPartition: every task ships ITS OWN partition's blobs straight
    from the executor — no collect, no driver round-trip, the same
    per-worker upload fan-out the reference got from one child process
    per server.

    Returns the post-upload audit (child.py:212-218's properties
    re-check, distributed): a binaryFile metadata listing of the store
    joined back to the expected records; props_match asserts size AND
    mtime round-tripped."""
    import os

    def upload(rows) -> None:
        # Each blob is written whole under a unique temp name and renamed
        # onto its path: records that share a path (same basename in two
        # directories) leave one record's complete bytes, never a mix.
        for r in rows:
            d = os.path.join(sink_root, r["server_folder"], r["file_type"])
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(d, f".upload-{uuid.uuid4().hex}")
            with open(tmp, "xb") as f:
                f.write(bytes(r["content"] or b""))
            os.utime(tmp, (r["modified_time"], r["modified_time"]))
            os.replace(tmp, os.path.join(d, r["file_name"]))

    df.select(
        "server_folder", "file_type", "file_name", "content", "modified_time"
    ).foreachPartition(upload)

    # post-upload verify = per-blob properties probe (child.py:212-218's
    # get_blob_properties loop, distributed): each task stats ITS rows'
    # objects. A binaryFile listing would be the bulk alternative, but it
    # silently skips 0-byte objects — the probe sees every blob.
    import pandas as pd

    def probe(batches):
        for pdf in batches:
            sizes, mtimes = [], []
            for sf, ft, fn in zip(
                pdf["server_folder"], pdf["file_type"], pdf["file_name"]
            ):
                p = os.path.join(sink_root, sf, ft, fn)
                if os.path.exists(p):
                    st = os.stat(p)
                    sizes.append(st.st_size)
                    mtimes.append(int(st.st_mtime))
                else:
                    sizes.append(-1)
                    mtimes.append(-1)
            yield pd.DataFrame(
                {
                    "server_folder": pdf["server_folder"],
                    "file_type": pdf["file_type"],
                    "file_name": pdf["file_name"],
                    "length": pdf["length"],
                    "modified_time": pdf["modified_time"],
                    "stored_size": sizes,
                    "stored_mtime": mtimes,
                }
            )

    audited = df.select(
        "server_folder", "file_type", "file_name", "length", "modified_time"
    ).mapInPandas(
        probe,
        schema="server_folder string, file_type string, file_name string, "
        "length bigint, modified_time bigint, stored_size bigint, "
        "stored_mtime bigint",
    )
    return audited.select(
        "server_folder",
        "file_type",
        "file_name",
        "length",
        "modified_time",
        (
            (F.col("stored_size") == F.col("length"))
            & (F.col("stored_mtime") == F.col("modified_time"))
        ).alias("props_match"),
    )
