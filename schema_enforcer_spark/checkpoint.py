"""Resumable per-partition checkpoint lineage (SURVEY.md §4.2 #3).

A lineage manifest table records, per (partition, rule_set_hash): verdict,
row/violation counts, and completion time. A resumed run reads the lineage
ONCE, collects the newest verdict per partition (a partition-count-sized
result) and validates ONLY the rows whose partition is not done — a plain
filter over the input with the done ids as a literal set, the engine-level
analogue of Iceberg partition pruning; an interrupted 10^12-turn run skips
everything already validated. No frame the run builds reads the lineage
path: the run appends to it, and Spark re-plans a persisted frame whose
source files change under it.

Correctness note: partition-grain resume is sound because every
conversation-grain rule (uniqueness on (conv_id, turn_idx), ordering,
contiguity, per-conv aggregates) is partition-LOCAL under bucket(conv_id)
partitioning — a conversation never spans partitions. Referential rules
join against the full reference table regardless of which fact partitions
are pending, so they stay correct too.

Storage is a plain parquet directory — the TableIO seam for Iceberg
(`snapshot_id` lineage) when a runtime jar is present (§7.0). A run's rows
(the lineage rows here, the ``_column_stats`` rows of ``--stats-columns``)
are held on the driver, so an append is written there, with no Spark job:
one snappy parquet file built with pyarrow, put into the store through the
Hadoop FileSystem API under a ``_``-prefixed name and renamed into place
(:func:`append_rows`). Files that Spark's writer appended read the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from schema_enforcer_spark.compiler import _sql_lit
from schema_enforcer_spark.engine import ValidationEngine, ValidationReport, arrow_table, local_frame

LINEAGE_SCHEMA_DDL = (
    "partition_id string, rule_set_hash string, schema_id string, verdict string, "
    "n_rows bigint, n_violations bigint, snapshot_id string, validated_at timestamp, "
    "run_ns bigint"
)


def _instance_rows(df: DataFrame, engine: ValidationEngine, stats_columns=()) -> list:
    """One row per engine instance of *df* (NULL included): the instance,
    its row count and, with *stats_columns*, the stats store's sketch
    structs of its rows (:func:`stats.column_sketches_sql`) — one groupBy
    collect, partition-count-sized."""
    aggs = ["count(1)"]
    if stats_columns:
        from schema_enforcer_spark.stats import column_sketches_sql

        aggs.append(column_sketches_sql(stats_columns))
    inst = F.expr(f"{engine._instance_sql(df)} AS _inst")
    return df.groupBy(inst).agg(*map(F.expr, aggs)).collect()


def _instance_counts(df: DataFrame, engine: ValidationEngine) -> dict:
    """Row count of *df* per engine instance (NULL included)."""
    return {r[0]: r[1] for r in _instance_rows(df, engine)}


def append_rows(spark: SparkSession, rows: list, ddl: str, path: str) -> None:
    """Append driver-held *rows* (tuples in the column order of *ddl*) to
    the parquet store at *path* as one snappy parquet file, written on the
    driver: no Spark job runs. The file is written under a ``_``-prefixed
    name, which neither Spark's file index nor pyarrow's dataset discovery
    lists, and then renamed into place, so a reader sees all of the rows or
    none of them. The first append creates *path*. The py4j commands sent
    do not depend on the number of rows. One file per append keeps the
    one-task store reads (:meth:`CheckpointManager._latest`,
    ``stats.merged_column_stats``) short: such a read opens every file in
    turn."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from schema_enforcer_spark import stats

    buf = pa.BufferOutputStream()
    # TIMESTAMP as INT96, what Spark's parquet writer writes by default:
    # files written by either agree on every column's physical type, and
    # Spark reads INT96 as TIMESTAMP, never TIMESTAMP_NTZ
    table = arrow_table(rows, DataType.fromDDL(ddl))
    pq.write_table(table, buf, compression="snappy", use_deprecated_int96_timestamps=True)
    root, name = path.rstrip("/"), f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    fs, tmp, dest = stats._hadoop_paths(spark, f"{root}/_{name}", f"{root}/{name}")
    stats._hadoop_write_bytes(fs, tmp, buf.getvalue().to_pybytes())
    if not fs.rename(tmp, dest):
        fs.delete(tmp, False)
        raise OSError(f"could not rename {root}/_{name} to {root}/{name}")


def _table_failed(latest: dict) -> bool:
    """Is the newest verdict of the synthetic 'table' instance FAIL, in a
    :meth:`CheckpointManager.latest_verdicts` result?"""
    return latest.get("table", (None, None))[0] == "FAIL"


class CheckpointManager:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # the pending subset of the most recent run() and its row count per
        # instance — callers using defer_record pass both back to record(),
        # so lineage row counts never re-aggregate the input — and, with
        # stats_columns, its stats store rows (run_ns left out)
        self.last_pending: DataFrame | None = None
        self.last_counts: dict | None = None
        self.last_stats: list = []

    def lineage(self) -> DataFrame:
        # probe through Spark, not the driver's local filesystem — a
        # driver-side os.path.exists() on an hdfs://, s3a://, ... checkpoint
        # URI is always False and would silently disable resume.
        # ONLY path-not-found means first-run: a corrupt lineage file, schema
        # mismatch, or storage/credential error must FAIL LOUDLY — swallowing
        # it would silently disable resume, re-validate everything, and
        # append duplicate lineage with no signal the checkpoint was
        # unreadable. The declared read schema costs no inference job, and
        # an existing directory with no parquet yet (pre-created by ops, or
        # a first run that died before any commit) reads as empty.
        from pyspark.errors import AnalysisException

        try:
            df = self.spark.read.schema(LINEAGE_SCHEMA_DDL).parquet(self.path)
        except AnalysisException as e:
            cls = e.getCondition() if hasattr(e, "getCondition") else None
            if cls == "PATH_NOT_FOUND" or "[PATH_NOT_FOUND]" in str(e):
                return local_frame(self.spark, [], LINEAGE_SCHEMA_DDL)
            raise
        # a file written before run_ns existed reads it as NULL
        return df.withColumn("run_ns", F.expr("coalesce(run_ns, CAST(0 AS BIGINT))"))

    def latest_verdicts(self, rule_set_hash: str) -> dict:
        """partition_id → (verdict, n_rows) of the NEWEST lineage row under
        this rule-set hash: one lineage read, one partition-count-sized
        collect. A partition with an old PASS and a newer FAIL (re-validated
        after a data change) maps to FAIL."""
        rows = self._latest(rule_set_hash).collect()
        return {r["partition_id"]: (r["_latest"]["verdict"], r["_latest"]["n_rows"]) for r in rows}

    def _latest(self, rule_set_hash: str) -> DataFrame:
        """The newest (verdict, n_rows) per partition under the hash, as
        ``_latest``. The lineage is read as ONE partition: it holds a row
        per partition and run, and under adaptive execution an Exchange
        before the max_by would be a Spark job of its own. A single
        partition satisfies the groupBy's distribution, so the read plans
        no Exchange and runs as one task in one job."""
        return (
            self.lineage()
            .filter(f"rule_set_hash = {_sql_lit(rule_set_hash)}")
            .coalesce(1)
            .groupBy("partition_id")
            # run_ns breaks ties between two record() calls landing in the
            # same validated_at microsecond
            .agg(F.expr("max_by(struct(verdict, n_rows), struct(validated_at, run_ns)) AS _latest"))
        )

    def pending(self, df: DataFrame, engine: ValidationEngine, verify_counts: bool = False) -> DataFrame:
        """Rows of *df* in partitions NOT yet validated under the engine's
        current rule-set hash: ``inst IS NULL OR NOT inst IN (<done ids>)``
        over *df*, the done ids a literal set collected from one lineage
        read — no join, no exchange, no lineage scan in the plan.

        A partition is done when its newest verdict is PASS. FAILed
        partitions are deliberately NOT done — treating them as done would
        let a resumed run find nothing pending and exit 0 while violations
        exist (masking the CLI's 'exit 1 iff any violation' contract). A
        FAILed partition re-validates on resume: same data → same FAIL →
        nonzero exit; fixed data → PASS and the lineage gains the newer PASS
        row. Rows whose instance is NULL are always pending (a bare NOT IN
        would drop them).

        verify_counts=True additionally re-validates any PASSed partition
        whose current row count differs from the recorded one — the Parquet-
        mode stand-in for Iceberg snapshot-id lineage (one per-instance count
        collect over the input; with Iceberg, snapshot comparison makes it
        free)."""
        latest = self.latest_verdicts(engine.manifest.rule_set_hash())
        if _table_failed(latest):
            return df  # unresolved table-grain FAIL: everything re-validates
        done = {p for p, (verdict, _) in latest.items() if verdict == "PASS" and p is not None}
        if verify_counts and done:
            current = _instance_counts(df, engine)
            done = {p for p in done if current.get(p) == latest[p][1]}
        if not done:
            return df
        inst = engine._instance_sql(df)
        return df.filter(f"{inst} IS NULL OR NOT {inst} IN ({', '.join(map(_sql_lit, sorted(done)))})")

    def record(
        self,
        df: DataFrame,
        engine: ValidationEngine,
        report: ValidationReport,
        counts: dict | None = None,
        verdicts: list | None = None,
    ) -> None:
        """Append one lineage row per verdict of *report*. Call AFTER the
        report's outputs are materialized/written — recording first would
        mark partitions complete whose results never landed (see run()'s
        defer_record). ``counts`` is the row count per instance (run()'s
        ``last_counts``); without it one groupBy over *df* computes it, and
        *df* may be the full input — partitions outside the report's
        verdicts never gain rows. ``verdicts`` are the report's collected
        verdict rows when the caller already holds them. The rows are built
        on the driver and appended as one file (:func:`append_rows`)."""
        import time
        from datetime import datetime, timezone

        if counts is None:
            counts = _instance_counts(df, engine)
        if verdicts is None:
            verdicts = report.verdicts.collect()
        h = engine.manifest.rule_set_hash()
        # driver-side monotonic stamp: two record() calls can share a
        # validated_at microsecond; max_by needs a total order
        run_ns = time.time_ns()
        at = datetime.fromtimestamp(run_ns / 1e9, timezone.utc)
        rows = [
            (v["instance_name"], h, v["schema_id"], v["result"], counts.get(v["instance_name"], 0),
             v["n_violations"], None, at, run_ns)
            for v in verdicts
        ]
        append_rows(self.spark, rows, LINEAGE_SCHEMA_DDL, self.path)

    def run(
        self,
        df: DataFrame,
        engine: ValidationEngine,
        ref_tables: dict[str, DataFrame] | None = None,
        verify_counts: bool = False,
        defer_record: bool = False,
        stats_columns=(),
    ) -> tuple[ValidationReport | None, int]:
        """Validate only pending partitions; record lineage; return
        (report, n_pending_rows). report is None when nothing is pending —
        which, because only PASS verdicts complete a partition, means every
        partition of the input has a recorded PASS.

        defer_record=True skips the lineage append so the caller can
        materialize its own outputs FIRST and then call
        ``record(last_pending, engine, report, last_counts)`` — otherwise a
        failed downstream write would leave partitions marked complete whose
        violation rows never landed anywhere (the next resume would skip
        them forever).

        stats_columns: the per-instance count aggregate over the pending
        rows also computes these columns' stats store rows, kept in
        ``last_stats`` as ``(partition_id, col_name, hll, n_nulls, n_rows,
        min_s, max_s, min_n, max_n)`` — the rows
        :func:`stats.write_partition_stats` would compute over the same
        subset, with no second scan of it."""
        pend = self.pending(df, engine, verify_counts=verify_counts)
        rows = _instance_rows(pend, engine, stats_columns)
        counts = {r[0]: r[1] for r in rows}
        self.last_pending, self.last_counts = pend, counts
        self.last_stats = [(r[0], *s) for r in rows for s in r[2]] if stats_columns else []
        n = sum(counts.values())
        if n == 0:
            return None, 0
        report = engine.validate(pend, ref_tables)
        if not defer_record:
            # record() collects the verdicts, which materializes the report
            # before lineage claims the work done
            self.record(pend, engine, report, counts)
        return report, n

