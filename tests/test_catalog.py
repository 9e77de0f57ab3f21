"""The catalog's session registries: one footer-inference job per table and
session, re-inference when the files change, and a fresh relation on
every call; the llm frame caches follow the same fingerprint rule."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from data_ingestion_poc_spark.catalog import table, table_schema
from data_ingestion_poc_spark.llm.dedup import dedup_clusters, dedup_minhash

from conftest import SF_CORRECT, SF_SMOKE


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_starts_no_job(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/nation.parquet", tmp_path / "nation.parquet")
    sf = str(tmp_path)
    assert _jobs_in_group(spark, "catalog-miss", lambda: table(spark, sf, "nation")) >= 1
    assert _jobs_in_group(spark, "catalog-hit", lambda: table(spark, sf, "nation")) == 0


def test_rewritten_table_is_read_again(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    shutil.copy(f"{SF_SMOKE}/nation.parquet", path)
    sf = str(tmp_path)
    before = table(spark, sf, "nation")
    assert "n_extra" not in before.columns
    assert before.count() == pq.read_metadata(path).num_rows

    rewritten = pq.read_table(path).slice(0, 3)
    rewritten = rewritten.append_column("n_extra", pa.array([7, 8, 9], pa.int64()))
    pq.write_table(rewritten, path)

    assert "n_extra" in table_schema(spark, sf, "nation").names
    after = table(spark, sf, "nation")
    assert sorted(r["n_extra"] for r in after.collect()) == [7, 8, 9]


def test_rewritten_documents_rebuild_the_llm_caches(spark, tmp_path):
    """dedup_clusters reads the session pair graph (_PAIRS_CACHE) and
    dedup_minhash the session shingle sets (_SHINGLE_CACHE); both must see
    a rewritten documents.parquet."""
    for name in os.listdir(SF_CORRECT):
        shutil.copyfile(f"{SF_CORRECT}/{name}", tmp_path / name)
    sf = str(tmp_path)

    def results():
        return [
            sorted(tuple(r) for r in q(spark, sf).collect())
            for q in (dedup_clusters, dedup_minhash)
        ]

    before = results()
    path = tmp_path / "documents.parquet"
    docs = pq.read_table(path)
    texts = docs.column("text").to_pylist()
    col = docs.schema.get_field_index("text")
    pq.write_table(docs.set_column(col, "text", pa.array(texts[1:] + texts[:1])), path)

    after = results()
    assert all(b != a for b, a in zip(before, after))


def test_same_table_self_join_is_unambiguous(spark):
    a = table(spark, SF_SMOKE, "nation")
    b = table(spark, SF_SMOKE, "nation")
    got = (
        a.join(b, (a["n_regionkey"] == b["n_regionkey"]) & (a["n_nationkey"] < b["n_nationkey"]))
        .select(a["n_nationkey"].alias("x"), b["n_nationkey"].alias("y"))
        .toPandas()
    )
    pdf = pq.read_table(f"{SF_SMOKE}/nation.parquet").to_pandas()
    ref = pdf.merge(pdf, on="n_regionkey")
    ref = ref[ref["n_nationkey_x"] < ref["n_nationkey_y"]]
    want = sorted(zip(ref["n_nationkey_x"], ref["n_nationkey_y"]))
    assert len(want) > 0
    assert sorted(zip(got["x"], got["y"])) == want
