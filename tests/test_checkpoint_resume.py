"""A resumed ``--checkpoint`` run: which rows it validates, what it prints,
and what its persisted report reads. The pending set is computed once on
the driver from one lineage read, so no frame of the run reads the
checkpoint directory that the same run appends to."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from schema_enforcer_spark.checkpoint import LINEAGE_SCHEMA_DDL, CheckpointManager
from schema_enforcer_spark.cli import main
from schema_enforcer_spark.engine import ValidationEngine
from schema_enforcer_spark.manifest import load_manifest
from schema_enforcer_spark.synth import INJECTION_KEYS, gen_transcripts, inject

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(REPO, "manifests", "transcripts_base.yml")


@pytest.fixture(scope="module")
def days(spark, tmp_path_factory):
    """A clean table over partitions 0-7 (day 2) and its partitions 0-3
    (day 1), each written as its own parquet input."""
    root = tmp_path_factory.mktemp("resume")
    full = gen_transcripts(spark, n_convs=40, seed=7).withColumn(
        "partition_id", F.pmod(F.hash("conv_id"), F.lit(8))
    )
    day1, day2 = str(root / "day1"), str(root / "day2")
    full.filter(F.col("partition_id") < 4).write.parquet(day1)
    full.write.parquet(day2)
    parts = {r[0] for r in spark.read.parquet(day2).select("partition_id").distinct().collect()}
    assert parts == set(range(8)), "fixture must fill all 8 partitions"
    return {"root": str(root), "day1": day1, "day2": day2}


def _pass_lines(out: str) -> list[str]:
    return sorted(ln for ln in out.splitlines() if ln.startswith("PASS | "))


def test_resumed_show_pass_prints_every_passed_pending_partition(spark, days, tmp_path, capsys):
    """Day 1 validates partitions 0-3; the day-2 resume validates 4-7, all
    clean, and prints one PASS line for each of them."""
    ckpt = str(tmp_path / "ckpt")
    args = ["--manifest", MANIFEST, "--checkpoint", ckpt, "--show-pass"]
    assert main([*args, "--input", days["day1"]]) == 0
    out1 = capsys.readouterr().out
    assert [ln.split(" [SCHEMA ID]")[0] for ln in _pass_lines(out1)] == [
        f"PASS | [PARTITION] {p}" for p in "0123"
    ]
    assert main([*args, "--input", days["day2"]]) == 0
    out2 = capsys.readouterr().out
    n4 = spark.read.parquet(days["day2"]).filter("partition_id >= 4").count()
    assert f"validated {n4} pending rows" in out2
    assert _pass_lines(out2) == [
        f"PASS | [PARTITION] {p} [SCHEMA ID] schemas/transcripts_base" for p in "4567"
    ]


def test_resumed_report_reads_no_checkpoint_file(spark, days, tmp_path, monkeypatch):
    """The persisted report of a resumed run reads only the input: a frame
    that read the lineage would be re-planned by the run's own lineage
    append and re-validated against the new lineage."""
    seen = []
    validate = ValidationEngine.validate

    def spy(self, *a, **kw):
        seen.append(validate(self, *a, **kw))
        return seen[-1]

    monkeypatch.setattr(ValidationEngine, "validate", spy)
    ckpt = str(tmp_path / "ckpt")
    assert main(["--manifest", MANIFEST, "--checkpoint", ckpt, "--input", days["day1"]]) == 0
    assert main(["--manifest", MANIFEST, "--checkpoint", ckpt, "--input", days["day2"]]) == 0
    assert len(seen) == 2
    files = seen[-1].cached.inputFiles()
    assert files and not [f for f in files if "/ckpt/" in f]


def test_null_instance_rows_revalidate_on_every_resume(spark, days, tmp_path, capsys):
    """Rows whose instance is NULL never complete a partition: every resume
    validates them again, with the rows of FAILed partitions."""
    bad = str(tmp_path / "bad")
    inject(spark.read.parquet(days["day2"]), "invalid_enum").write.parquet(bad)
    (conv, _), = INJECTION_KEYS["invalid_enum"]
    expr = f"CASE WHEN conv_id <= '{conv}' THEN NULL ELSE CAST(partition_id AS STRING) END"
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    args = ["--manifest", MANIFEST, "--input", bad, "--checkpoint", ckpt, "--output", out, "--instance-expr", expr]
    df = spark.read.parquet(bad)
    n_null = df.filter(F.expr(expr).isNull()).count()
    assert 0 < n_null < df.count()
    assert main(args) == 1
    first = capsys.readouterr().out
    assert f"validated {df.count()} pending rows" in first
    for _ in range(2):
        assert main(args) == 1
        again = capsys.readouterr().out
        assert f"validated {n_null} pending rows" in again
        assert again.rstrip().splitlines()[-1] == "1 violation(s) [schemas/transcripts_base]"
        assert "FAIL | [ERROR] 'operator' is not one of" in again
        v = spark.read.parquet(out + "/violations")
        assert v.count() == 1 and v.filter("instance_name IS NULL").count() == 1
    # every non-NULL partition passed on day 1 and was never validated again
    lineage = CheckpointManager(spark, ckpt).lineage()
    assert lineage.filter("partition_id IS NOT NULL").groupBy("partition_id").count().filter("count > 1").count() == 0


def test_lineage_without_run_ns_still_resumes(spark, days, tmp_path):
    """A lineage directory written before the run_ns column existed still
    answers which partitions are done, and later appends (with run_ns)
    mix with it."""
    eng = ValidationEngine(load_manifest(MANIFEST))
    day1, day2 = spark.read.parquet(days["day1"]), spark.read.parquet(days["day2"])
    cur = str(tmp_path / "cur")
    CheckpointManager(spark, cur).run(day1, eng)
    old = str(tmp_path / "old")
    spark.read.schema(LINEAGE_SCHEMA_DDL).parquet(cur).drop("run_ns").write.parquet(old)
    cm = CheckpointManager(spark, old)
    assert cm.lineage().filter("run_ns = 0").count() == 4
    pend = cm.pending(day2, eng)
    assert {r[0] for r in pend.select("partition_id").distinct().collect()} == {4, 5, 6, 7}
    report, n = cm.run(day2, eng)
    assert report is not None and report.passes() and n == pend.count()
    assert cm.run(day2, eng) == (None, 0)


def test_null_instance_violation_fails_its_verdict(spark, days):
    """A violation whose instance is NULL counts in the NULL instance's
    verdict, so the verdicts account for every violation row."""
    df = inject(spark.read.parquet(days["day2"]), "invalid_enum")
    (conv, _), = INJECTION_KEYS["invalid_enum"]
    eng = ValidationEngine(
        load_manifest(MANIFEST),
        instance_expr=f"CASE WHEN conv_id <= '{conv}' THEN NULL ELSE CAST(partition_id AS STRING) END",
    )
    report = eng.validate(df)
    try:
        rows = report.verdicts.collect()
        null = [r for r in rows if r["instance_name"] is None]
        assert [(r["result"], r["n_violations"]) for r in null] == [("FAIL", 1)]
        assert sum(r["n_violations"] for r in rows) == report.violations.count() == 1
    finally:
        report.unpersist()


# Spark jobs of the day-2 resume below, as measured (43 while the pending set
# was a broadcast anti-join against the lineage path, 22 while the merged
# stats were sorted by Spark, 20 while the verdicts deduplicated their
# universe and joined it to the violation counts, 17 while the lineage and
# stats-store reads shuffled and the stats write re-aggregated the pending
# rows, 13 while the stats and lineage appends were Spark writes): the
# input's schema read, one lineage collect, one pending-count collect
# that also computes the stats sketches (2 jobs), one verdict collect that
# fills the persisted report (4 jobs), the two sink writes and the merged
# stats collect. The stats and lineage appends are written on the driver,
# and this clean input prints no FAIL line.
RESUME_JOBS = 11


def test_resume_job_count(spark, days, tmp_path, capsys):
    """Guard on the Spark jobs of a two-day resume with every output the
    benchmark's resume writes: a job that comes back (a lineage re-read, a
    re-validation after the lineage append) shows here first."""
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    args = ["--manifest", MANIFEST, "--checkpoint", ckpt, "--output", out, "--stats-columns", "conv_id,role"]
    assert main([*args, "--input", days["day1"]]) == 0
    sc = spark.sparkContext
    sc.setJobGroup("resume-job-guard", "day-2 resume")
    try:
        assert main([*args, "--input", days["day2"]]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    capsys.readouterr()
    n = len(sc.statusTracker().getJobIdsForGroup("resume-job-guard"))
    assert n <= RESUME_JOBS, f"day-2 resume ran {n} Spark jobs (guard {RESUME_JOBS})"


def _store_rows(spark, store: str) -> list:
    """The stats store's rows without run_ns, HLL bytes as bytes, sorted."""
    from schema_enforcer_spark.stats import STATS_SCHEMA_DDL

    rows = spark.read.schema(STATS_SCHEMA_DDL).parquet(store).drop("run_ns").collect()
    return sorted((tuple(bytes(v) if isinstance(v, bytearray) else v for v in r) for r in rows), key=repr)


@pytest.mark.parametrize("null_instance", [False, True], ids=["partition_id", "null-instance"])
def test_resume_stats_rows_match_write_partition_stats(spark, days, tmp_path, capsys, null_instance):
    """The stats rows a --stats-columns resume appends come from the
    pending-count aggregate; they must equal, HLL bytes included, the rows
    write_partition_stats writes over the same pending subset. The input's
    partition_id column is an integer; the NULL-instance case puts the
    first conversations in a NULL instance, which is pending on every
    resume. A resume with nothing pending appends no stats row and prints
    the merged stats."""
    from schema_enforcer_spark.stats import stats_store_path, write_partition_stats

    (conv, _), = INJECTION_KEYS["invalid_enum"]
    expr = f"CASE WHEN conv_id <= '{conv}' THEN NULL ELSE partition_id END" if null_instance else None
    cols = ["conv_id", "role", "turn_idx", "partition_id"]
    ckpt = str(tmp_path / "ckpt")
    args = ["--manifest", MANIFEST, "--checkpoint", ckpt, "--stats-columns", ",".join(cols)]
    if expr:
        args += ["--instance-expr", expr]
    assert main([*args, "--input", days["day1"]]) == 0
    store = stats_store_path(ckpt)
    day1_rows = _store_rows(spark, store)

    eng = ValidationEngine(load_manifest(MANIFEST), instance_expr=expr)
    pend = CheckpointManager(spark, ckpt).pending(spark.read.parquet(days["day2"]), eng)
    want = str(tmp_path / "want")
    write_partition_stats(pend, cols, want, eng._instance_col(pend))
    want_rows = _store_rows(spark, want)
    assert {r[0] for r in want_rows} == {"4", "5", "6", "7"} | ({None} if null_instance else set())

    assert main([*args, "--input", days["day2"]]) == 0
    capsys.readouterr()
    appended = _store_rows(spark, store)
    for r in day1_rows:
        appended.remove(r)
    assert appended == want_rows

    if null_instance:
        return  # NULL-instance rows are pending on every resume
    n_before = spark.read.parquet(store).count()
    assert main([*args, "--input", days["day2"]]) == 0
    out = capsys.readouterr().out
    assert "nothing pending" in out
    assert [ln.split()[0] for ln in out.splitlines() if ln.split() and ln.split()[0] in cols] == sorted(cols)
    assert spark.read.parquet(store).count() == n_before
