"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship pricing-summary query on sf0.001 (smoke).
queries()      — every implemented operator from SURVEY.md section 2,
                 name -> fn(spark, sf_dir) -> DataFrame.
oracle_sql()   — matching DuckDB SQL per query (omitted => rows-only).

All real logic lives in data_ingestion_poc_spark/; this module only
exposes the registry.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from data_ingestion_poc_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return registry.get("agg_hash_group").fn(spark, "/root/testdata/sf0.001")


# The correctness driver samples queries from the FRONT of this dict (every
# round judges exactly the first 50 entries). Names whose IMPLEMENTATION
# changed this round lead the list so their verdicts refresh; everything
# else is ordered computationally: driver-unjudged value-oracled queries
# first (registration order), then unjudged rows-only, then every name
# that already has a driver verdict (from the committed
# CORRECTNESS_r0*.json files — r5's hand-maintained 180-line _JUDGED list
# is gone; drift there silently wasted window slots).
_CHANGED_THIS_ROUND: list[str] = [
    # VALUE changes only; value-identical rewrites go in
    # _CHANGED_JUDGED_THIS_ROUND below.
]

# Names whose PHYSICAL implementation changed while their values did not
# (each re-oracled locally before it lands). They sit right after the
# never-judged names so the correctness driver's window re-hashes them
# before any stale verdict; the list names the latest such change only.
_CHANGED_JUDGED_THIS_ROUND: list[str] = [
    # rounds run through catalog.iterate (one per-round barrier)
    "graph_pagerank",
    "graph_katz_centrality",
    "graph_label_propagation",
    "graph_bfs_distance",
    "graph_kcore",
    "graph_closeness_centrality",
    "agg_markov_stationary",
    "dedup_clusters",
    "dedup_cluster_histogram",
    "corpus_dedup_keep",
    "corpus_dedup_manifest",
    "corpus_curate_e2e",
    "sample_split_leakage_safe",
    # one backbone build (graph._backbone: edges, adjacency, degrees)
    "graph_triangle_count",
    "graph_clustering_coefficient",
    "graph_modularity",
    "graph_adamic_adar",
    "graph_rich_club",
    "graph_avg_neighbor_degree",
    "graph_resource_allocation",
    "graph_preferential_attachment",
    # checkpoint keyed by the session's applicationId
    "stream_state_reader",
]


def _verdict_rounds() -> dict[str, int]:
    """name -> LATEST round with a driver verdict, derived from the
    committed CORRECTNESS_r0*.json files (the driver's own per-round
    records). Feeds both the judged/unjudged split and the r12
    oldest-verdict rotation (VERDICT r11 item 2): with the backlog at
    zero, the spare window slots go to the stalest verdicts, so every
    name re-verifies on a ~20-round cycle instead of never."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                names = list(json.load(f).keys())
        except (OSError, ValueError):
            continue
        for n in names:
            if rnd > last.get(n, -1):
                last[n] = rnd
    return last


def _ordered() -> dict[str, registry.Query]:
    all_q = registry.all_queries()
    verdicts = _verdict_rounds()
    front = [n for n in _CHANGED_THIS_ROUND if n in all_q]
    seen = set(front)
    # Never-judged names (this round's registrations, normally) come
    # right after the changed leads so the backlog stays at zero;
    # value-oracled before rows-only, registration order within each.
    fresh = [n for n in all_q if n not in seen and n not in verdicts]
    reg_index = {n: i for i, n in enumerate(all_q)}
    fresh_oracle = [n for n in fresh if all_q[n].oracle]
    fresh_rows_only = [n for n in fresh if not all_q[n].oracle]
    changed_judged = [
        n for n in _CHANGED_JUDGED_THIS_ROUND if n in all_q and n not in seen
    ]
    seen.update(changed_judged)
    # Oldest-verdict rotation (VERDICT r11 item 2): the judged block is
    # sorted by last-verdict round ASCENDING, so the window's spare
    # slots always re-hash the stalest names first — a mechanical full
    # re-verification cycle every ~20 rounds.
    back = sorted(
        (n for n in all_q if n not in seen and n in verdicts),
        key=lambda n: (verdicts[n], reg_index[n]),
    )
    order = front + fresh_oracle + fresh_rows_only + changed_judged + back
    return {n: all_q[n] for n in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle
        for name, q in _ordered().items()
        if q.oracle is not None
    }
