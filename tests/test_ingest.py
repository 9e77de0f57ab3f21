"""Ingest pipeline: one cycle fetches and explodes every file once, and the
parquet sink, the quarantine and the blob store of a cycle agree on its
bytes; the blob sink never leaves torn objects on a collided path."""

from __future__ import annotations

import hashlib
import os

from data_ingestion_poc_spark.ingest import fixtures, pipeline


def _recording_fetcher(spark, scramble: bool = False):
    """(fetcher, reads): a fixture-tree Fetcher whose ``read`` calls are
    recorded in the ``reads`` accumulator, one remote path per call. With
    ``scramble`` every read of a non-archive file returns fresh random
    bytes of the file's length, modelling a remote file that changes
    between downloads. The classes are local so they pickle by value into
    the fetch stage."""
    from pyspark.accumulators import AccumulatorParam

    class ListParam(AccumulatorParam):
        def zero(self, value):
            return []

        def addInPlace(self, a, b):
            return a + b

    reads = spark.sparkContext.accumulator([], ListParam())

    class RecordingFetcher(pipeline.LocalFilesystemFetcher):
        def read(self, server, remote_path):
            reads.add([remote_path])
            data = super().read(server, remote_path)
            if scramble and not remote_path.endswith(".zip"):
                return os.urandom(len(data))
            return data

    return RecordingFetcher(), reads


def _run_cycle(spark, fetcher, out_dir: str) -> dict:
    """One cycle with every consumer a caller acts on: the parquet sink
    and its audit, the quarantine, and the blob upload with its probe."""
    fixtures.build()
    fetched = pipeline.fetch(spark, fetcher=fetcher)
    ok, quarantine = pipeline.split_verified(fetched)
    exploded = ok.mapInPandas(pipeline.explode_archives, schema=pipeline.EXPLODED_SCHEMA)
    derived = pipeline.derive_columns(exploded)
    deduped = pipeline.dedup_against_sink(
        derived, spark.createDataFrame([], pipeline.SINK_STATE_SCHEMA), "skip"
    )
    sink, blobs = os.path.join(out_dir, "sink"), os.path.join(out_dir, "blobs")
    return {
        "audit": pipeline.write_sink(pipeline.finalize(deduped), sink).toPandas(),
        "quarantine": quarantine.toPandas(),
        "blob_audit": pipeline.write_blob_sink(deduped, blobs).toPandas(),
        "sink": sink,
        "blobs": blobs,
    }


def test_cycle_reads_each_listed_file_once(spark, tmp_path):
    """The sinks, the quarantine and the blob audit all read the staged
    fetch: every file whose pre-stat succeeds is downloaded exactly once
    per cycle (the missing file never reaches ``read``)."""
    fetcher, reads = _recording_fetcher(spark)
    out = _run_cycle(spark, fetcher, str(tmp_path))
    assert len(out["quarantine"]) == 2
    assert out["blob_audit"]["props_match"].all()
    readable = sorted(p for _, p in fixtures.MANIFEST if not p.startswith("/missing/"))
    assert sorted(reads.value) == readable


def test_sinks_agree_when_remote_bytes_change(spark, tmp_path):
    """A remote file that changes between downloads must land with the
    same bytes in the parquet sink and the blob store of one cycle: for
    every blob path no other record shares, the sink's sha256 is the
    stored blob's."""
    fetcher, _ = _recording_fetcher(spark, scramble=True)
    out = _run_cycle(spark, fetcher, str(tmp_path))
    rows = (
        spark.read.parquet(out["sink"])
        .select("server_folder", "file_type", "file_name", "sha256")
        .collect()
    )
    paths: dict[tuple, list[str]] = {}
    for r in rows:
        paths.setdefault((r.server_folder, r.file_type, r.file_name), []).append(r.sha256)
    unique = {p: shas[0] for p, shas in paths.items() if len(shas) == 1}
    assert len(unique) == len(rows) == 7
    for (folder, ftype, fname), sha in unique.items():
        with open(os.path.join(out["blobs"], folder, ftype, fname), "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == sha, fname


def test_collided_blob_path_holds_one_complete_record(spark, tmp_path):
    """Records that share a blob path, uploaded concurrently by different
    tasks, leave exactly one record's bytes on the path, never a mix."""
    contents = [bytes([i]) * (1000 + 40_000 * (i % 5)) for i in range(16)]
    rows = [
        ("srv_21", "bin", "same.bin", len(c), 1_600_000_000 + i, bytearray(c))
        for i, c in enumerate(contents)
    ]
    schema = (
        "server_folder string, file_type string, file_name string, "
        "length bigint, modified_time bigint, content binary"
    )
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    root = str(tmp_path / "blobs")
    audit = pipeline.write_blob_sink(df, root).toPandas()
    with open(os.path.join(root, "srv_21", "bin", "same.bin"), "rb") as fh:
        stored = fh.read()
    assert stored in contents
    # only the surviving record's size and mtime round-trip
    assert audit["props_match"].sum() == 1
    assert os.listdir(os.path.join(root, "srv_21", "bin")) == ["same.bin"]
