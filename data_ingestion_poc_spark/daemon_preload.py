"""Python-worker daemon with the Arrow/pandas stack preloaded pre-fork.

Drop-in replacement for ``pyspark.daemon`` (wired via the public
``spark.python.daemon.module`` conf in session.builder): the daemon
process imports pandas / pyarrow / numpy and the pandas-serializer
machinery ONCE, then every forked worker inherits the already-loaded
modules through copy-on-write pages instead of re-importing them.

Why this matters: ``pyspark/worker.py`` imports pandas/pyarrow lazily
inside each UDF eval path, so by default EVERY worker process pays the
full import (~1s user + ~2.5s sys of page-cache faulting on
virtualised kernels). With 32 workers that is ~2 CPU-minutes of pure
import work racing the actual query the first time each pool spins up.
Preloading moves that cost to one process, once per executor — on a
1000-executor cluster this is the difference between a warm first
stage and a thundering herd of 32 000 cold CPython imports.

Cluster use: ship the package via ``--py-files`` (or a cluster image)
and set ``spark.python.daemon.module=data_ingestion_poc_spark.daemon_preload``;
the module degrades to the stock daemon when the heavy libs are absent.
"""

from __future__ import annotations

import importlib

#: Exposed as a constant so tests can verify every name actually
#: imports — the loop below skips any module whose import fails (the
#: others still preload), so a typo'd module name would otherwise
#: silently lose its preload (and its per-fork import tax would quietly
#: return).
PRELOAD_MODULES = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.parquet",
    # worker-side serializer paths touched by every Arrow UDF eval type
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    "pyspark.worker",
    # r15: engine modules whose module-level kernel helpers ship BY
    # REFERENCE in UDF closures (cloudpickle pickles a module-global
    # function of an importable module as (module, qualname), not by
    # value — e.g. dedup._topk_ids_tiled inside the hubness/NSW cell
    # kernels). Without preloading, EVERY forked worker re-imports
    # ~0.8 s of engine+pyspark.sql modules on its first such task —
    # measured 4x on embed_hubness_ivf's cell stage (314 ms -> 1.3 s
    # of "time to run Python workers"). Importing similarity pulls
    # dedup and catalog transitively; importing registers queries and
    # builds text oracle strings but computes no golden oracle (golden
    # builders run only when registry.Query asks for an oracle).
    "data_ingestion_poc_spark.llm.similarity",
    "data_ingestion_poc_spark.llm.evaluation",
    "data_ingestion_poc_spark.functions.udfs",
    # ...and every other module that defines worker-side kernels or
    # module-level functions passed to mapIn*/applyInPandas (e.g.
    # ingest.pipeline.explode_archives ships by reference). Incremental
    # cost over the imports above, measured: each <15 ms — all one-time
    # per executor, COW-shared across forks.
    "data_ingestion_poc_spark.llm.multimodal",
    "data_ingestion_poc_spark.llm.spans",
    "data_ingestion_poc_spark.llm.textstats",
    "data_ingestion_poc_spark.ingest.pipeline",
    "data_ingestion_poc_spark.ingest.blobstore",
    "data_ingestion_poc_spark.ingest.netfetch",
    "data_ingestion_poc_spark.ingest.avro_ocf",
    "data_ingestion_poc_spark.operators.scans",
    "data_ingestion_poc_spark.streaming.core",
    "data_ingestion_poc_spark.streaming.batch_parity",
)

for _mod in PRELOAD_MODULES:
    try:  # pragma: no cover - import side effect only
        importlib.import_module(_mod)
    except Exception:  # noqa: BLE001 - skip only this module
        pass

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
