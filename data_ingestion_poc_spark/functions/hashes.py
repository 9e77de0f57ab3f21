"""Hash functions (SURVEY.md section 2 B8 fn_hash).

Origin: the reference verifies integrity by SIZE EQUALITY ONLY (A9
child.py:83-88 — no md5/sha anywhere). fn_hash is that check upgraded to
real digests; fn_hash_native adds Spark's cheap non-cryptographic hashes
(xxhash64 — the right 100 TB dedup/bucketing key; no DuckDB analog, so
rows-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register


@register(
    "fn_hash",
    oracle="""
    SELECT doc_id,
           md5(text)                 AS text_md5,
           sha256(text)              AS text_sha256,
           md5(lang || ':' || source) AS ident_md5
    FROM documents
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digests over document text (A9's size-equality check
    upgraded to content digests)."""
    t = load(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
        F.sha2(F.col("text").cast("binary"), 256).alias("text_sha256"),
        F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("source")).cast("binary")).alias(
            "ident_md5"
        ),
    )


def _hash_native_oracle(sf_dir: str) -> str | None:
    """Golden VALUES: DuckDB has no xxhash64/murmur3 analog, so the oracle
    replays Spark's exact hash algorithms in pure Python (pyhash.py, pinned
    bit-exact against the JVM by test_pyhash_matches_spark) over the same
    documents fixture, computed from `sf_dir` when first asked for so
    TESTDATA regeneration cannot stale it."""
    import zlib

    from ..goldens import values_oracle
    from .pyhash import spark_hash_columns, xxh64

    try:
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"]
        ).to_pylist()
    except Exception:
        return None
    rows = [
        (
            r["doc_id"],
            xxh64(r["text"].encode()),
            zlib.crc32(r["text"].encode()),
            spark_hash_columns([r["text"].encode(), r["lang"].encode()]),
        )
        for r in tbl
    ]
    return values_oracle(
        rows,
        ["doc_id", "text_xxh64", "text_crc32", "row_hash32"],
        casts={"doc_id": "BIGINT", "text_xxh64": "BIGINT", "text_crc32": "BIGINT",
               "row_hash32": "INTEGER"},
    )


@register("fn_hash_native", oracle=_hash_native_oracle)
def fn_hash_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-cryptographic engine hashes — xxhash64 is the cheap shuffle-key
    / dedup-key at scale (8 bytes, JVM-side, no UDF). Oracle: golden
    VALUES from the pure-Python ports in pyhash.py."""
    t = load(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.xxhash64("text").alias("text_xxh64"),
        F.crc32(F.col("text").cast("binary")).alias("text_crc32"),
        F.hash("text", "lang").alias("row_hash32"),
    )


@register(
    "fn_aes_crypt",
    oracle="""
    SELECT c_custkey, c_name AS decrypted, TRUE AS roundtrip_ok,
           CAST(16 * (length(c_name) // 16 + 1) AS BIGINT) AS cipher_len
    FROM customer WHERE c_custkey < 200
    """,
)
def fn_aes_crypt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption at rest: AES-encrypt a PII-ish column and
    prove lossless decryption (aes_encrypt/aes_decrypt, Spark 3.3+).
    ECB mode keeps the demo deterministic (default GCM salts a random
    IV per row — right for production, wrong for a value-hash check);
    the key would come from a KMS, never a literal, in deployment. The
    oracle cannot run AES, so it checks the round-trip CONTRACT: the
    decrypted column must equal the original plaintext exactly — which
    only holds if both crypto directions actually ran losslessly."""
    t = load(spark, sf_dir)
    cipher = F.expr("aes_encrypt(c_name, '0123456789abcdef', 'ECB')")
    plain = F.expr(
        "CAST(aes_decrypt(aes_encrypt(c_name, '0123456789abcdef', 'ECB'),"
        " '0123456789abcdef', 'ECB') AS STRING)"
    )
    return t.customer.where(F.col("c_custkey") < 200).select(
        "c_custkey",
        plain.alias("decrypted"),
        (plain == F.col("c_name")).alias("roundtrip_ok"),
        # ECB+PKCS ciphertext length is closed-form: next 16-byte block
        F.length(cipher).cast("bigint").alias("cipher_len"),
    )


@register(
    "fn_uuid_content",
    oracle="""
    SELECT doc_id,
           concat(
             substr(md5('doc:' || CAST(doc_id AS VARCHAR) || ':' || text), 1, 8), '-',
             substr(md5('doc:' || CAST(doc_id AS VARCHAR) || ':' || text), 9, 4), '-',
             substr(md5('doc:' || CAST(doc_id AS VARCHAR) || ':' || text), 13, 4), '-',
             substr(md5('doc:' || CAST(doc_id AS VARCHAR) || ':' || text), 17, 4), '-',
             substr(md5('doc:' || CAST(doc_id AS VARCHAR) || ':' || text), 21, 12)
           ) AS content_uuid,
           substr(md5('doc:' || CAST(doc_id AS VARCHAR) || ':' || text), 1, 16)
             AS short_id
    FROM documents
    """,
)
def fn_uuid_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed ID minting (the uuid5 idea with an
    engine-portable digest): IDs derive from a namespace prefix + key +
    content, so re-ingesting the same document always mints the same ID —
    across runs, partitionings, and engines — unlike uuid()/rand()-based
    IDs, which break idempotent re-ingestion (the A16/A17 dedup contract
    depends on stable identities). Formatted as the familiar 8-4-4-4-12
    UUID shape plus a 16-hex short id for log lines."""
    t = load(spark, sf_dir)
    digest = F.md5(
        F.concat(
            F.lit("doc:"), F.col("doc_id").cast("string"), F.lit(":"), F.col("text")
        ).cast("binary")
    )
    uuid = F.concat_ws(
        "-",
        F.substring(digest, 1, 8),
        F.substring(digest, 9, 4),
        F.substring(digest, 13, 4),
        F.substring(digest, 17, 4),
        F.substring(digest, 21, 12),
    )
    return t.documents.select(
        "doc_id",
        uuid.alias("content_uuid"),
        F.substring(digest, 1, 16).alias("short_id"),
    )
