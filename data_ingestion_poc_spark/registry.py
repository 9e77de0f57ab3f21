"""Query registry: the single source of truth for the driver contract.

Every operator from SURVEY.md section 2 Part B registers here with
``@register(name, oracle=...)``. ``__spark_entry__.py`` exposes the registry
as ``queries()`` / ``oracle_sql()``. Oracle SQL is ANSI SQL runnable by
DuckDB over the same parquet views; ``oracle=None`` marks an op as
non-SQL-expressible (driver records a rows-only check). A golden-VALUES
oracle computed from the fixture files is registered as its uncalled
builder ``sf_dir -> str | None`` (goldens.py); it runs the first time the
oracle is asked for at a scale, never at registration.

Parity conventions (SURVEY.md section 7 risk register):
- alias every computed column identically in Spark and SQL;
- ROUND doubles (2 dp for sums of 2-dp money, >=4 dp for averages);
- cast integer SUMs to BIGINT in DuckDB (it widens to HUGEINT);
- output timestamps as 'yyyy-MM-dd HH:mm:ss' strings when sub-second
  precision or ns-vs-us width could differ.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from . import goldens

QueryFn = Callable[[SparkSession, str], DataFrame]
OracleBuilder = Callable[[str], str | None]

# Modules whose import registers queries. Extend as operators land.
MODULES = [
    "data_ingestion_poc_spark.operators.scans",
    "data_ingestion_poc_spark.operators.filters",
    "data_ingestion_poc_spark.operators.joins",
    "data_ingestion_poc_spark.operators.aggregates",
    "data_ingestion_poc_spark.operators.windows",
    "data_ingestion_poc_spark.operators.sorts",
    "data_ingestion_poc_spark.operators.setops",
    "data_ingestion_poc_spark.operators.composite",
    "data_ingestion_poc_spark.operators.subqueries",
    "data_ingestion_poc_spark.operators.tpch_tail",
    "data_ingestion_poc_spark.operators.scale",
    "data_ingestion_poc_spark.operators.sqlsurface",
    "data_ingestion_poc_spark.operators.graph",
    "data_ingestion_poc_spark.operators.geo",
    "data_ingestion_poc_spark.operators.profile",
    "data_ingestion_poc_spark.operators.privacy",
    "data_ingestion_poc_spark.operators.stats",
    "data_ingestion_poc_spark.operators.mlmetrics",
    "data_ingestion_poc_spark.functions.strings",
    "data_ingestion_poc_spark.functions.urls",
    "data_ingestion_poc_spark.functions.datetimes",
    "data_ingestion_poc_spark.functions.maths",
    "data_ingestion_poc_spark.functions.arrays",
    "data_ingestion_poc_spark.functions.maps",
    "data_ingestion_poc_spark.functions.jsons",
    "data_ingestion_poc_spark.functions.hashes",
    "data_ingestion_poc_spark.functions.udfs",
    "data_ingestion_poc_spark.functions.structs",
    "data_ingestion_poc_spark.functions.conditionals",
    "data_ingestion_poc_spark.llm.textstats",
    "data_ingestion_poc_spark.llm.dedup",
    "data_ingestion_poc_spark.llm.similarity",
    "data_ingestion_poc_spark.llm.multimodal",
    "data_ingestion_poc_spark.llm.sampling",
    "data_ingestion_poc_spark.llm.corpus",
    "data_ingestion_poc_spark.llm.curation",
    "data_ingestion_poc_spark.llm.evaluation",
    "data_ingestion_poc_spark.llm.spans",
    "data_ingestion_poc_spark.streaming.batch_parity",
    "data_ingestion_poc_spark.ingest.pipeline_queries",
    "data_ingestion_poc_spark.ingest.pydatasource",
]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle_source: str | OracleBuilder | None  # SQL text or golden builder
    doc: str | None

    @property
    def oracle(self) -> str | None:
        """ANSI SQL for DuckDB at the default oracle scale
        (goldens.ORACLE_SF_DIR), or None for a rows-only check."""
        return self.oracle_at(goldens.ORACLE_SF_DIR)

    def oracle_at(self, sf_dir: str) -> str | None:
        """The oracle SQL with a golden builder resolved at `sf_dir`."""
        if callable(self.oracle_source):
            return _resolve_golden(self.name, sf_dir)
        return self.oracle_source


@functools.cache
def _resolve_golden(name: str, sf_dir: str) -> str | None:
    """The one place a golden builder runs: once per (name, sf_dir)."""
    return _REGISTRY[name].oracle_source(sf_dir)


#: Every oracle=None query must have an entry here explaining why no
#: value-level oracle is possible (enforced by
#: tests/test_registry.py::test_rows_only_queries_have_rationale).
#: Everything convertible has been converted: golden VALUES computed from
#: the fixtures on disk (binaryFile scans, multimodal fakes) and pure-
#: Python replays of Spark's engine hashes (fn_hash_native, the full
#: banded-MinHash pipeline and its recall report — see functions/pyhash.py).
ROWS_ONLY_RATIONALE: dict[str, str] = {
    "agg_approx_distinct": (
        "HLL++ estimate: the value depends on Spark's sketch "
        "implementation and rsd parameter; no other engine reproduces the "
        "exact estimate. Accuracy vs the exact distinct count is pinned "
        "within the sketch's error bound in tests."
    ),
    "agg_hll_sketch": (
        "hll_sketch_agg binary sketches + merge: the sketch bytes and the "
        "merged estimate are implementation-defined. Merge accuracy vs the "
        "exact count is pinned within ~1.6% rsd bounds in tests."
    ),
    "agg_approx_quantile": (
        "approx_percentile (Greenwald-Khanna): any value inside the rank "
        "tolerance is a correct answer, so there is no single golden "
        "value. Rank error vs exact percentiles is pinned in tests."
    ),
    "embed_pca_project": (
        "Eigendecomposition: eigenvectors are unique only up to sign/"
        "rotation and the projection sums are float-order-dependent, so a "
        "cross-engine value hash would pin numerical noise, not "
        "semantics. Orthogonality, variance ordering, and determinism are "
        "pinned in tests, and the driver-checkable embed_pca_contract "
        "companion (r5) gives the family a value-level verdict."
    ),
    "scan_range_clustered": (
        "Audits the PHYSICAL partition layout (spark_partition_id after "
        "repartitionByRange): partition boundaries come from Spark's "
        "range sampler, which no SQL engine replicates. Per-partition "
        "range disjointness is pinned in tests and in the driver-"
        "checkable scan_range_clustered_contract companion (r5)."
    ),
    "scan_zorder_clustered": (
        "Same physical-layout audit as scan_range_clustered, over the "
        "z-value: bounding-box shrinkage vs 1-D clustering is pinned in "
        "tests and in the driver-checkable "
        "scan_zorder_clustered_contract companion (r5)."
    ),
}


_REGISTRY: dict[str, Query] = {}
_LOADED = False


def register(name: str, oracle: str | OracleBuilder | None = None):
    """Decorator: register fn(spark, sf_dir) -> DataFrame under `name`.

    Every query is wrapped so that the load-bearing runtime confs
    (nanosAsLong for the TIMESTAMP(NANOS) events table, UTC session
    timezone for oracle datetime parity) are pinned on WHATEVER session the
    caller provides — the correctness driver builds its own vanilla
    SparkSession, so correctness must not depend on ``session.builder()``
    having run (VERDICT r1 item 1/3).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        from .catalog import ensure_session_confs

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_confs(spark)
            return fn(spark, sf_dir)

        _REGISTRY[name] = Query(
            name=name, fn=wrapped, oracle_source=oracle, doc=fn.__doc__
        )
        return fn

    return deco


def import_all() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in MODULES:
        importlib.import_module(mod)
    _LOADED = True


def all_queries() -> dict[str, Query]:
    import_all()
    return dict(_REGISTRY)


def get(name: str) -> Query:
    import_all()
    return _REGISTRY[name]
