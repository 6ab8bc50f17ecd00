"""TableIO seam (SURVEY.md §7.0): Iceberg when a runtime jar is present,
Parquet directory layout with an explicit ``partition_id`` column otherwise.

The sandbox ships no iceberg-spark-runtime jar, so the Parquet path is the
tested one; the Iceberg path uses only the documented public catalog API
(``spark.read.table`` / ``writeTo``) and keeps identical semantics:
``bucket(N, conv_id)`` partitioning ↔ ``partition_id = pmod(hash(conv_id), N)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import partitioning


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001
        return False


class TableIO:
    """Read/write the transcripts + results tables behind one interface.

    mode='parquet': table name → ``<root>/<name>`` parquet dir.
    mode='iceberg': table name → catalog table (requires runtime jar).
    """

    def __init__(self, spark: SparkSession, root: str, num_buckets: int = 32, mode: str | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.num_buckets = num_buckets
        self.mode = mode or ("iceberg" if _iceberg_available(spark) else "parquet")

    def _path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def read(self, name: str) -> DataFrame:
        if self.mode == "iceberg":
            return self.spark.read.table(f"{self.root}.{name}")
        return self.spark.read.parquet(self._path(name))

    def write(self, df: DataFrame, name: str, bucket_col: str | None = "conv_id", mode: str = "overwrite") -> None:
        if self.mode == "iceberg":
            w = df.writeTo(f"{self.root}.{name}")
            if bucket_col:
                # partitioning.bucket is the Spark-4 home of the transform
                # (plain F.bucket warns FutureWarning, removed in Spark 5)
                w = w.partitionedBy(partitioning.bucket(self.num_buckets, bucket_col))
            (w.createOrReplace() if mode == "overwrite" else w.append())
            return
        out = df
        if bucket_col and "partition_id" not in df.columns:
            out = df.withColumn("partition_id", F.pmod(F.hash(bucket_col), F.lit(self.num_buckets)))
        writer = out.write.mode(mode)
        if bucket_col:
            writer = writer.partitionBy("partition_id")
        writer.parquet(self._path(name))

    def append(self, df: DataFrame, name: str, bucket_col: str | None = "conv_id") -> None:
        # same bucket_col default as write(): appending unpartitioned files
        # next to partition_id=* directories would corrupt partition
        # discovery ("Conflicting directory structures")
        self.write(df, name, bucket_col=bucket_col, mode="append")


def with_json_column(df: DataFrame, column: str, schema_ddl: str, target: str | None = None) -> DataFrame:
    """S2 nested ingestion: parse a JSON-string column into a typed struct so
    dotted-path and ``items`` rules can validate below the top level — the
    from_json analogue of the reference's load-file → validate flow
    (/root/reference/schema_enforcer/instances/file.py:193-211). Rows that
    fail to parse yield a NULL struct, which a ``required`` rule on the
    struct (or any field) then reports; parsing happens once in the scan
    projection, not per rule.

    from_json's PERMISSIVE mode returns an all-null struct (not NULL) for
    malformed input, which would make a parse failure indistinguishable from
    a document of nulls — a corrupt-record marker restores the distinction."""
    from pyspark.sql import types as T

    st = T.StructType.fromDDL(schema_ddl)
    parsed = F.from_json(
        F.col(column),
        T.StructType(st.fields + [T.StructField("_corrupt_record", T.StringType())]),
        {"columnNameOfCorruptRecord": "_corrupt_record"},
    )
    ok = F.col(column).isNotNull() & parsed["_corrupt_record"].isNull()
    clean = F.struct(*[parsed[f.name].alias(f.name) for f in st.fields])
    return df.withColumn(target or column, F.when(ok, clean).otherwise(F.lit(None).cast(st)))
