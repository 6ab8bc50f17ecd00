"""The checkpoint stores' driver-side append (``checkpoint.append_rows``).

The lineage and ``_column_stats`` stores gain a few rows per run. They are
written as one parquet file on the driver, with no Spark job, under a
``_``-prefixed name that is then renamed into place. A store may still hold
files that Spark's writer appended (``createDataFrame(...).write``); both
kinds of file must read the same through every reader of the stores."""

from __future__ import annotations

import math
import os
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.dataset as ds
import pytest
from pyspark.sql.types import DataType, TimestampType

from schema_enforcer_spark.checkpoint import LINEAGE_SCHEMA_DDL, CheckpointManager, append_rows
from schema_enforcer_spark.engine import arrow_table
from schema_enforcer_spark.stats import STATS_SCHEMA_DDL, merged_column_stats

HASH = "h'1\\"


@pytest.fixture
def la_time_zone(spark):
    """A session time zone other than UTC for the duration of a test."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def _spark_append(spark, rows: list, ddl: str, path: str) -> None:
    """An append the way Spark's writer made it: the rows as an Arrow
    table, one coalesced write job."""
    schema = DataType.fromDDL(ddl)
    spark.createDataFrame(arrow_table(rows, schema), schema).coalesce(1).write.mode("append").parquet(path)


def _canon(value):
    """A value in a form that compares equal to itself (NaN, -0.0 and
    timestamps as instants included; a naive datetime is local time, as
    pyspark's collect returns it)."""
    if isinstance(value, (bytes, bytearray)):
        return bytes(value)
    if isinstance(value, datetime):
        return value.timestamp()
    if isinstance(value, float):
        return repr(value)
    return value


def _sorted_rows(rows) -> list:
    return sorted((tuple(_canon(v) for v in r) for r in rows), key=repr)


def _spark_rows(spark, ddl: str, path: str) -> list:
    return _sorted_rows(spark.read.schema(ddl).parquet(path).collect())


def _arrow_rows(path: str) -> list:
    """The rows pyarrow's dataset discovery reads; a timestamp without a
    time zone (INT96) holds UTC."""
    table = ds.dataset(path, format="parquet").to_table()
    columns = []
    for c in table.columns:
        if pa.types.is_timestamp(c.type) and c.type.tz is None:
            c = c.cast(pa.timestamp("us", tz="UTC"))
        columns.append(c.to_pylist())
    return _sorted_rows(zip(*columns))


def _hll(spark, values: list) -> bytes:
    literal = ", ".join(f"('{v}')" for v in values)
    return bytes(spark.sql(f"SELECT hll_sketch_agg(v) FROM VALUES {literal} AS t(v)").first()[0])


@pytest.fixture(scope="module")
def stats_rows(spark) -> list:
    """Store rows with NULLs, NaN, +-inf, -0.0, HLL bytes, quotes and
    backslashes; two runs of partition 'p"1' (the newer one wins)."""
    h1, h2 = _hll(spark, ["a", "b"]), _hll(spark, ["c", "d", "e"])
    return [
        ('p"1', "x'y", h1, 0, 2, "a\\b", 'q"r', float("nan"), float("inf"), 1),
        ('p"1', "x'y", h2, 1, 3, "c", "e", -0.0, 0.0, 2),
        ("p\\2", "x'y", h2, None, 3, None, "é\n", float("-inf"), float("nan"), 1),
        (None, "z", None, 4, 4, "", None, None, -0.0, 1),
    ]


@pytest.fixture(scope="module")
def lineage_rows() -> list:
    """Lineage rows: a NULL partition, quotes and backslashes, and a
    partition whose newer row is a FAIL."""
    at = datetime(2026, 3, 8, 9, 30, 0, 123456, tzinfo=timezone.utc)
    return [
        ("p'0", HASH, "s", "PASS", 10, 0, None, at, 1),
        ("p'0", HASH, "s", "FAIL", 11, 2, None, at + timedelta(microseconds=1), 2),
        ("p\\1", HASH, 's"', "PASS", 3, 0, "snap", at, 1),
        (None, HASH, "s", "FAIL", 1, 1, None, at, 1),
        ("p2", "other", "s", "PASS", 5, 0, None, at - timedelta(days=400), 1),
    ]


def _stores(spark, tmp_path, rows: list, ddl: str) -> dict:
    """Three stores of the same rows: Spark-written, driver-written, and
    mixed (the first two rows Spark-written, the rest in two driver
    appends)."""
    paths = {k: str(tmp_path / k) for k in ("spark", "driver", "mixed")}
    _spark_append(spark, rows, ddl, paths["spark"])
    append_rows(spark, rows, ddl, paths["driver"])
    _spark_append(spark, rows[:2], ddl, paths["mixed"])
    append_rows(spark, rows[2:3], ddl, paths["mixed"])
    append_rows(spark, rows[3:], ddl, paths["mixed"])
    return paths


def test_append_rows_starts_no_spark_job(spark, tmp_path, stats_rows):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    append_rows(spark, stats_rows, STATS_SCHEMA_DDL, str(tmp_path / "store"))
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_first_append_creates_the_store(spark, tmp_path, lineage_rows):
    store = tmp_path / "a" / "b" / "lineage"
    append_rows(spark, lineage_rows, LINEAGE_SCHEMA_DDL, str(store))
    files = [f for f in os.listdir(store) if not f.startswith((".", "_"))]
    assert len(files) == 1 and files[0].endswith(".snappy.parquet")
    assert not [f for f in os.listdir(store) if f.startswith("_")]
    assert _spark_rows(spark, LINEAGE_SCHEMA_DDL, str(store)) == _sorted_rows(lineage_rows)


def test_stats_store_reads_equal_spark_and_driver_written(spark, tmp_path, la_time_zone, stats_rows):
    paths = _stores(spark, tmp_path, stats_rows, STATS_SCHEMA_DDL)
    want = _sorted_rows(stats_rows)
    for path in paths.values():
        assert _spark_rows(spark, STATS_SCHEMA_DDL, path) == want
        assert _arrow_rows(path) == want
    merged = {k: _sorted_rows(merged_column_stats(spark, p).collect()) for k, p in paths.items()}
    assert merged["driver"] == merged["mixed"] == merged["spark"]
    by_col = {r[0]: r for r in merged["driver"]}
    # the newer run of p"1 replaces the older one: 3 + 3 rows, 2 partitions
    assert by_col["x'y"][3:5] == (6, 2) and by_col["z"][3] == 4


def test_lineage_store_reads_equal_spark_and_driver_written(spark, tmp_path, la_time_zone, lineage_rows):
    paths = _stores(spark, tmp_path, lineage_rows, LINEAGE_SCHEMA_DDL)
    want = _sorted_rows(lineage_rows)
    for path in paths.values():
        assert _spark_rows(spark, LINEAGE_SCHEMA_DDL, path) == want
        assert _arrow_rows(path) == want
        latest = CheckpointManager(spark, path).latest_verdicts(HASH)
        assert latest == {"p'0": ("FAIL", 11), "p\\1": ("PASS", 3), None: ("FAIL", 1)}
        # an inferred read of the store: validated_at is a TIMESTAMP
        # (time-zone aware), never a TIMESTAMP_NTZ
        assert spark.read.parquet(path).schema["validated_at"].dataType == TimestampType()
    # the instants survive the non-UTC session time zone
    got = {r["run_ns"]: r["validated_at"] for r in spark.read.parquet(paths["driver"]).collect() if r[0] == "p'0"}
    assert {k: v.timestamp() for k, v in got.items()} == {r[8]: r[7].timestamp() for r in lineage_rows[:2]}


def test_failed_append_leaves_the_store_as_before(spark, tmp_path, monkeypatch, lineage_rows):
    """A failure between the write of the file and its rename leaves the
    store reading exactly as before, through Spark and pyarrow alike."""
    from schema_enforcer_spark import stats

    store = str(tmp_path / "lineage")
    append_rows(spark, lineage_rows[:2], LINEAGE_SCHEMA_DDL, store)
    before = _spark_rows(spark, LINEAGE_SCHEMA_DDL, store), _arrow_rows(store)
    write = stats._hadoop_write_bytes

    def write_then_fail(*args):
        write(*args)
        raise OSError("injected failure before the rename")

    monkeypatch.setattr(stats, "_hadoop_write_bytes", write_then_fail)
    with pytest.raises(OSError, match="injected"):
        append_rows(spark, lineage_rows[2:], LINEAGE_SCHEMA_DDL, store)
    # the written bytes are there, under a name no reader lists
    assert [f for f in os.listdir(store) if f.startswith("_part-")]
    assert (_spark_rows(spark, LINEAGE_SCHEMA_DDL, store), _arrow_rows(store)) == before
    assert CheckpointManager(spark, store).latest_verdicts(HASH) == {"p'0": ("FAIL", 11)}


def test_arrow_table_keeps_every_value(spark, stats_rows):
    table = arrow_table(stats_rows, DataType.fromDDL(STATS_SCHEMA_DDL))
    assert table.num_rows == len(stats_rows) and table.schema.field("hll").type == pa.binary()
    assert math.isnan(table.column("min_n")[0].as_py()) and math.copysign(1, table.column("min_n")[1].as_py()) == -1
    assert arrow_table([], DataType.fromDDL(STATS_SCHEMA_DDL)).num_rows == 0
