"""Table IO: Iceberg when the runtime has it, parquet otherwise (S1-S8).

The production target is an Iceberg catalog (10^12-doc table, snapshot
commits, partition pruning). This sandbox image ships no iceberg-runtime
jar, so every entry point degrades to plain parquet + the local
SnapshotTable (sources/snapshots.py) while keeping the same call shape —
swap `ICEBERG=True` semantics in by adding the jar + catalog conf.

Also covers the reference's scan/DDL surface:
- S2/S3 directory scans -> binaryFile reader with recursiveFileLookup
- S8 index DDL (delete+create, doc2md_utils.py:231-262) ->
  CREATE OR REPLACE TABLE
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def read_documents(spark: SparkSession, location: str) -> DataFrame:
    """Iceberg table name (`cat.db.tbl`) or a parquet path."""
    if "/" not in location and iceberg_available(spark):
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


def scan_binary_dir(
    spark: SparkSession, path: str, recursive: bool = True, glob: str = "*"
) -> DataFrame:
    """S2/S3: directory scan as a DataFrame of (path, length, content)
    (reference walks the FS with os.walk, docker/main.py:233-247)."""
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(recursive).lower())
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "length", "content")
    )


def create_or_replace_table(
    spark: SparkSession, name: str, ddl_columns: str, location: str | None = None
) -> None:
    """S8: delete+create index DDL. With an Iceberg catalog this is one
    atomic CREATE OR REPLACE TABLE; the v1 parquet fallback emulates the
    reference's explicit delete-then-create (doc2md_utils.py:231-262)."""
    loc = f" LOCATION '{location}'" if location else ""
    if iceberg_available(spark):
        spark.sql(
            f"CREATE OR REPLACE TABLE {name} ({ddl_columns}) USING iceberg{loc}"
        )
    else:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"CREATE TABLE {name} ({ddl_columns}) USING parquet{loc}")


def documents_to_jsonl(documents: DataFrame) -> DataFrame:
    """(doc_id, spans) -> one JSON line per document (`value` column) —
    the interchange shape for text-file export (`df.write.text`) and for
    feeding systems that speak JSONL rather than parquet. Pure JVM
    (`to_json`), no shuffle."""
    from pyspark.sql import functions as F

    return documents.select(
        F.to_json(F.struct("doc_id", "spans")).alias("value")
    )


def jsonl_to_documents(lines: DataFrame) -> DataFrame:
    """Inverse of :func:`documents_to_jsonl`: parse a `value` column of
    JSON lines back to the engine's (doc_id, spans) input shape with the
    fixed schema (malformed lines become null rows a caller can filter).
    Pure JVM (`from_json`), no shuffle; `jsonl_roundtrip` gates
    parse∘render == identity against the spanify relation."""
    from pyspark.sql import functions as F

    from ..schema import DOCUMENTS_DDL

    return lines.select(
        F.from_json("value", DOCUMENTS_DDL).alias("d")
    ).select("d.*")
