"""Typed Parquet index store (SURVEY.md §2.1 A4/A5, §3.3, P3).

jane stores raw documents (sha1-deduped, versioned) plus per-type index
rows in PostgreSQL [ref: src/jane/documents/models.py — Document /
DocumentIndex, conf=H; SURVEY.md §0 caveat]. Spark-native layout:

- documents:  Parquet, partitioned by doc_type; ``sha1(data)`` computed
  on write; versions resolved by argmax (latest created_at wins).
- index tables: one typed Parquet table per document type (schema from
  the plugin meta dict — plans/schema.py), partitioned on a low-
  cardinality prune key (e.g. network, year(origin_time)).
- upsert: dynamic partition overwrite keyed by source document — the
  Spark translation of jane's delete-then-insert reindex transaction
  (exactly-once when driven from a checkpointed stream, §2.9 I7).

At 100 TB the partition key is the contract: queries that carry the
key prune to a file subset before any I/O; everything else relies on
row-group min/max skipping over the sorted layout.

Read contract. Every ``documents()`` / ``index()`` call is a fresh
read, but Parquet schema inference (one Spark job per open) runs only
on a store's first read of each table:

- the schema is resolved once per store and reused by later reads;
- the store's own writes (``write_documents``, ``write_index``,
  ``upsert_index_for_documents``) drop it, so the next read re-infers;
- the file listing and partition discovery are fresh on every read, so
  files another process adds (or removes) are visible to the next read;
- a schema changed by another process (a new column) is picked up only
  by a new ``IndexStore``.

Only the ``StructType`` is kept: no DataFrame, plan or data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from jane_spark.operators.topk import argmax


class IndexStore:
    """Parquet-backed document + index storage rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._schemas: dict[str, StructType] = {}

    def _read(self, path: str) -> DataFrame:
        """Read ``path`` with its known schema; infer it on first use."""
        known = self._schemas.get(path)
        if known is not None:
            return self.spark.read.schema(known).parquet(path)
        df = self.spark.read.parquet(path)
        self._schemas[path] = df.schema
        return df

    def _writing(self, path: str) -> str:
        """Forget ``path``'s schema before the store writes to it."""
        self._schemas.pop(path, None)
        return path

    # ---------------------------------------------------------- documents

    def write_documents(self, docs: DataFrame, mode: str = "append") -> None:
        """Append raw documents; computes sha1 + filesize on write.
        Expects columns: doc_id, doc_type, name, content_type, data
        (binary), created_at, version."""
        enriched = docs.withColumn("sha1", F.sha1(F.col("data"))).withColumn(
            "filesize", F.length(F.col("data")).cast("long")
        )
        (
            enriched.write.partitionBy("doc_type")
            .mode(mode)
            .parquet(self._writing(f"{self.root}/documents"))
        )

    def documents(self, doc_type: str | None = None) -> DataFrame:
        df = self._read(f"{self.root}/documents")
        if doc_type is not None:
            df = df.filter(F.col("doc_type") == doc_type)  # partition-pruned
        return df

    def latest_documents(self, doc_type: str | None = None) -> DataFrame:
        """A4/D5: latest version per (doc_type, name); re-uploads with an
        identical sha1 collapse to one row (idempotent re-ingest, I6)."""
        docs = self.documents(doc_type).dropDuplicates(["doc_type", "name", "sha1"])
        return argmax(
            docs,
            ["doc_type", "name"],
            [F.col("version").desc(), F.col("created_at").desc()],
        )

    # -------------------------------------------------------- index rows

    def write_index(
        self,
        doc_type: str,
        rows: DataFrame,
        partition_cols: list[str],
        sort_cols: list[str] | None = None,
        mode: str = "append",
    ) -> None:
        """Write typed index rows. ``sort_cols`` orders rows within each
        file so parquet row-group min/max stats become range indexes
        (the B-tree replacement — SURVEY.md §4.1)."""
        if sort_cols:
            rows = rows.sortWithinPartitions(*sort_cols)
        (
            rows.write.partitionBy(*partition_cols)
            .mode(mode)
            .parquet(self._writing(f"{self.root}/index/{doc_type}"))
        )

    def upsert_index_for_documents(
        self,
        doc_type: str,
        rows: DataFrame,
        doc_id_col: str = "doc_id",
    ) -> None:
        """I7: replace all index rows belonging to the documents present
        in ``rows`` (delete-old + insert-new per source document), via
        dynamic partition overwrite on the doc-id partition. The mode is
        set on this writer, not the session, so no other query's conf
        can turn the upsert into a whole-table overwrite."""
        (
            rows.write.partitionBy(doc_id_col)
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self._writing(f"{self.root}/index/{doc_type}"))
        )

    def index(self, doc_type: str) -> DataFrame:
        return self._read(f"{self.root}/index/{doc_type}")
