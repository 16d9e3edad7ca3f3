"""S2 sibling — schema'd JSON-Lines ingest/egress.

JSONL is the lingua franca of LLM corpus interchange (one document
object per line: The Pile, RedPajama, Dolma, FineWeb all ship it), so
an engine claiming the training-data pillar needs the format as a
first-class source AND sink, not a UDF. Spark's native json reader
parses JVM-side inside the scan with column pruning; malformed lines
surface in a ``_corrupt_record`` column under PERMISSIVE mode instead
of killing the job — the per-line blast-radius a crawler feed needs.

At 100 TB JSONL is the INGEST format, not the storage format: the
registered roundtrip (``jsonl_roundtrip`` in maintenance) is the
convert-to-parquet hop every pipeline runs once per batch, and its
oracle hash certifies the hop is content-exact.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

DOCS_JSONL_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING"


def write_docs_jsonl(docs: DataFrame, out_dir: str) -> None:
    """documents → JSON-Lines (the corpus interchange egress)."""
    docs.write.mode("overwrite").json(out_dir)


def read_docs_jsonl(spark: SparkSession, jsonl_dir: str) -> DataFrame:
    """Schema'd JSONL scan, PERMISSIVE: well-formed lines parse
    JVM-side; malformed lines land whole in ``_corrupt_record`` with
    every schema column NULL, so callers can split clean/quarantine
    declaratively instead of failing the batch."""
    schema = DOCS_JSONL_SCHEMA + ", _corrupt_record STRING"
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(jsonl_dir)
    )


def split_quarantine(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean rows, quarantined raw lines) — the standard ingest fork.

    The parse is materialized (an eager ``localCheckpoint``) before
    forking: Spark refuses a scan whose only referenced column is
    ``_corrupt_record`` (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and an
    ingest batch is read by BOTH forks anyway, so one materialized
    parse is the production shape — at 100 TB the equivalent is
    writing the parsed batch to parquet once and forking from that.
    A checkpoint, not a cache: the ContextCleaner frees it once the
    caller drops both forks, while a cache would stay pinned.
    """
    parsed = parsed.localCheckpoint(eager=True)
    bad = F.col("_corrupt_record").isNotNull()
    return (
        parsed.filter(~bad).drop("_corrupt_record"),
        parsed.filter(bad).select(F.col("_corrupt_record").alias("raw_line")),
    )
