"""The workloads: what one pass runs and how each output is checked.

An operation (op) is one query execution or one ingest cycle. Every op
has ``prepare`` (untimed set-up of the pass's inputs), ``build`` (the
driver-side construction: ``Query.fn``, or assembling the ingest dataflow;
given a tracer on traced executions), ``execute`` (the actions that produce
the output) and ``check`` (compares one output with an independent
expectation; returns None or a description of the mismatch). ``build`` and
``execute`` may run more than once per ``prepare`` and give the same output
each time. Outputs are checked after the passes and after the memory
reading, so the checker (DuckDB, pyarrow reads of the sinks) is neither
timed nor counted in ``peak_rss_mb``.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: JVM execution, shuffles, catalog reads and multi-job driver builds
RELATIONAL = (
    "q_shipping_priority", "q_market_share", "q_product_profit", "sql_cte_subquery",
    "join_sort_merge", "agg_hash_group", "agg_grouping_sets", "win_topk_per_group",
)
#: Python-worker kernels, the llm.dedup session caches and eager driver builds
CURATION = (
    "dedup_minhash", "dedup_clusters", "sim_search_ivf", "text_tfidf",
    "embed_kmeans", "corpus_decontaminate",
)
#: the stream queries that ride along with every ingest cycle
INGEST_STREAMS = ("stream_dedup", "stream_tumbling_agg")

#: files newly listed per ingest cycle
INGEST_FILES = 250


@functools.cache
def _check_oracle():
    """``tools/check_oracle.py``, imported by path (tools/ is no package)."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """The oracle harness's comparison: dtype kinds, column names, row
    count, then canonicalized values (``tools/check_oracle.py`` rules)."""
    co = _check_oracle()
    hard, _ = co.dtype_mismatches(spark_pdf, oracle_pdf)
    if hard:
        return "dtype mismatch: " + "; ".join(hard)
    a, b = co.canonicalize(spark_pdf), co.canonicalize(oracle_pdf)
    if sorted(a.columns) != sorted(b.columns):
        return f"columns differ: {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"row counts differ: spark={len(a)} oracle={len(b)}"
    if not a.equals(b):
        return f"{int((a != b).any(axis=1).sum())} rows differ"
    return None


class Oracles:
    """DuckDB over the generated tables, connected on first use; each
    oracle runs once per run."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.con = None
        self._cache: dict[str, pd.DataFrame] = {}

    def result(self, name: str, sql: str) -> pd.DataFrame:
        if self.con is None:
            import duckdb

            from data_ingestion_poc_spark.catalog import TABLES

            self.con = duckdb.connect()
            for t in TABLES:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"read_parquet('{self.sf_dir}/{t}.parquet')")
        if name not in self._cache:
            self._cache[name] = self.con.execute(sql).df()
        return self._cache[name]

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


class QueryOp:
    """One registered query: build = ``Query.fn``, execute = collect."""

    def __init__(self, query, sf_dir: str, oracles: Oracles):
        self.name = query.name
        self.module = query.fn.__module__.split(".")[1]
        self.query = query
        self.sf_dir = sf_dir
        self.oracles = oracles

    def prepare(self, pass_idx: int) -> None:
        pass

    def build(self, spark, tracer=None):
        return self.query.fn(spark, self.sf_dir)

    def execute(self, df) -> pd.DataFrame:
        return df.toPandas()

    def check(self, out: pd.DataFrame) -> str | None:
        return compare_frames(out, self.oracles.result(self.name, self.query.oracle))


class IngestCycleOp:
    """One ingest cycle over a freshly generated listing: fetch ->
    split_verified -> explode_archives -> derive_columns ->
    dedup_against_sink (state = the previous cycle's parquet sink) ->
    finalize -> write_sink, plus write_blob_sink and its audit, and the
    quarantine frame collected as the error channel. Pass ``k`` runs cycle
    ``k``; every execution of it writes fresh sinks and dedups against the
    sink of the previous pass."""

    name = "ingest_cycle"
    module = "ingest"

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self.cycle = None
        self.state_sink: str | None = None
        self.last_sink: str | None = None
        self.executions = 0
        #: pass -> ingest-layer counters of the pass's traced execution
        self.layer: dict[int, dict] = {}

    def prepare(self, pass_idx: int) -> None:
        from .ingestgen import build_cycle

        prev_written = None if self.cycle is None else self.cycle.written
        self.pass_idx = pass_idx
        self.state_sink = self.last_sink
        self.cycle = build_cycle(os.path.join(self.work_dir, f"listing-{pass_idx}"), self.seed,
                                 pass_idx, INGEST_FILES, prev_written)

    def build(self, spark, tracer=None):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from data_ingestion_poc_spark.ingest import pipeline

        from .ingestgen import ListingFetcher

        sc = spark.sparkContext
        counters = (sc.accumulator(0), sc.accumulator(0)) if tracer is not None else (None, None)
        fetcher = ListingFetcher(self.cycle.host_roots, self.cycle.listed_sizes, *counters)
        # one fetch batch per core of the local[4] session
        fetched = pipeline.fetch(spark, self.cycle.manifest, n_batches=4, fetcher=fetcher)
        ok, quarantine = pipeline.split_verified(fetched)
        exploded = ok.mapInPandas(pipeline.explode_archives, schema=pipeline.EXPLODED_SCHEMA)
        derived = pipeline.derive_columns(exploded)
        observations = None
        if tracer is not None:
            observations = (Observation("perfbench_derived"), Observation("perfbench_deduped"))
            derived = derived.observe(
                observations[0], F.count(F.lit(1)).alias("rows"),
                F.count("from_archive").alias("members"))
        if self.state_sink is None:
            state = spark.createDataFrame([], pipeline.SINK_STATE_SCHEMA)
        else:
            state = spark.read.parquet(self.state_sink)
        deduped = pipeline.dedup_against_sink(derived, state, "skip")
        if observations is not None:
            deduped = deduped.observe(observations[1], F.count(F.lit(1)).alias("rows"))
        return {
            "final": pipeline.finalize(deduped),
            "deduped": deduped,
            "quarantine": quarantine,
            "counters": counters,
            "observations": observations,
        }

    def execute(self, plan: dict) -> dict:
        from data_ingestion_poc_spark.ingest import pipeline

        out_dir = os.path.join(self.work_dir, f"out-{self.executions}")
        self.executions += 1
        sink, blobs = os.path.join(out_dir, "sink"), os.path.join(out_dir, "blobs")
        audit = pipeline.write_sink(plan["final"], sink).toPandas()
        self.last_sink = sink
        quarantine = plan["quarantine"].toPandas()
        blob_audit = pipeline.write_blob_sink(plan["deduped"], blobs).toPandas()
        return {"audit": audit, "quarantine": quarantine, "blob_audit": blob_audit,
                "sink": sink, "blobs": blobs, "plan": plan,
                "pass": self.pass_idx, "cycle": self.cycle}

    def check(self, out: dict) -> str | None:
        import pyarrow.dataset as ds

        from .ingestgen import RECORD_COLUMNS

        cyc = out["cycle"]
        expected = sorted(cyc.written)
        table = ds.dataset(out["sink"], format="parquet", partitioning="hive").to_table()
        got = sorted(zip(*(table.column(c).to_pylist() for c in RECORD_COLUMNS)))
        # hive partition values may be inferred as numbers; the goldens hold strings
        got = [tuple(str(v) if i < 3 else v for i, v in enumerate(r)) for r in got]
        errors = []
        if got != expected:
            errors.append(f"sink records differ: {len(got)} written, {len(expected)} expected")
        agg: dict[tuple, list[int]] = {}
        for r in expected:
            a = agg.setdefault((r[0], r[1]), [0, 0])
            a[0] += 1
            a[1] += r[3]
        audit = {(r.server_folder, r.file_type): [int(r.n_files), int(r.total_bytes)]
                 for r in out["audit"].itertuples()}
        if audit != agg:
            errors.append("sink audit differs from the expected per-folder counts")
        q = {(r.server, r.remote_path): str(r.error).split(":")[0]
             for r in out["quarantine"].itertuples()}
        if q != cyc.quarantine:
            errors.append(f"quarantine differs: {len(q)} rows, {len(cyc.quarantine)} expected")
        blob_errors, torn = self._check_blobs(out["blob_audit"], out["blobs"], expected)
        if out["plan"]["observations"] is not None:
            self.layer[out["pass"]] = self._layer_counts(out) | {"torn_blobs": float(torn)}
        return "; ".join(errors + blob_errors) or None

    @staticmethod
    def _check_blobs(blob_audit: pd.DataFrame, root: str,
                     expected: list[tuple]) -> tuple[list[str], int]:
        """(errors, torn). A record whose blob path no other record of the
        cycle shares must round-trip (props_match). Records that share a
        path collide: the engine writes them concurrently, so which one the
        store keeps is not determined and is not a failure. ``torn`` counts
        collided paths whose stored bytes equal none of their records'."""
        by_path: dict[tuple, list[str]] = {}
        for r in expected:
            by_path.setdefault((r[0], r[1], r[2]), []).append(r[6])
        if len(blob_audit) != len(expected):
            return [f"blob audit has {len(blob_audit)} rows, {len(expected)} expected"], 0
        errors = []
        for r in blob_audit.itertuples():
            shas = by_path.get((r.server_folder, r.file_type, r.file_name))
            if shas is None:
                errors.append(f"unexpected blob {r.file_name}")
            elif len(shas) == 1 and not r.props_match:
                errors.append(f"props_match false without a name collision: {r.file_name}")
        torn = 0
        for (folder, ftype, fname), shas in by_path.items():
            if len(shas) > 1:
                with open(os.path.join(root, folder, ftype, fname), "rb") as fh:
                    torn += hashlib.sha256(fh.read()).hexdigest() not in shas
        return errors[:5], torn

    @staticmethod
    def _layer_counts(out: dict) -> dict:
        """Ingest-layer counters of one traced execution."""
        cyc = out["cycle"]
        paths: dict[tuple, int] = {}
        for r in out["blob_audit"].itertuples():
            key = (r.server_folder, r.file_type, r.file_name)
            paths[key] = paths.get(key, 0) + 1
        records_written = int(out["audit"]["n_files"].sum()) if len(out["audit"]) else 0
        sink_bytes = _du(out["sink"]) + _du(out["blobs"])
        layer = {
            "quarantined": float(len(out["quarantine"])),
            "records_written": float(records_written),
            "sink_mb_written": sink_bytes / 1e6,
            "write_amplification": sink_bytes / max(1, cyc.input_bytes),
            "name_collisions": float(sum(n for n in paths.values() if n > 1)),
        }
        read_bytes, read_files = out["plan"]["counters"]
        derived, deduped = (o.get for o in out["plan"]["observations"])
        return layer | {
            "files_fetched": float(read_files.value),
            "fetched_mb": read_bytes.value / 1e6,
            "exploded_members": float(derived["members"]),
            "dedup_skipped": float(derived["rows"] - deduped["rows"]),
            "useful_fetch_ratio": records_written / max(1, derived["rows"]),
        }


def _du(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


#: workload -> the queries of one pass; ``curation_ingest`` adds one ingest cycle
WORKLOADS = {
    "relational": RELATIONAL,
    "curation_ingest": CURATION + INGEST_STREAMS,
}


def make_ops(workload: str, queries: dict, sf_dir: str, work_dir: str, seed: int):
    """(ops of one pass before the per-pass seeded shuffle, oracles)."""
    oracles = Oracles(sf_dir)
    ops: list = [QueryOp(queries[n], sf_dir, oracles) for n in WORKLOADS[workload]]
    if workload == "curation_ingest":
        ops.append(IngestCycleOp(os.path.join(work_dir, "ingest"), seed))
    return ops, oracles
