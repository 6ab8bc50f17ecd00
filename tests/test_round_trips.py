"""Guard on the driver↔JVM round trips of building one validation plan.

Each pyspark call costs a fixed ~16 py4j commands whatever the size of its
expression, so a plan assembled Column by Column pays thousands of them.
The engine builds its row and window expressions as SQL text instead; this
test counts the commands one ``validate`` of ``transcripts_base.yml`` sends
on a fresh input frame (no plan memo applies), so the saved round trips
cannot silently come back. Memory releases (first line ``m``) are left out:
they follow the Python garbage collector. Every other command repeats
exactly from build to build.

A second guard counts the commands of a whole resumed ``cli.main`` run:
lineage read, pending set, validation, sinks, stats and lineage append; a
third one checks that they do not grow with the partitions pending."""

from __future__ import annotations

import contextlib
import io
import os
import shutil

from py4j import clientserver
from pyspark.sql import functions as F

from schema_enforcer_spark.checkpoint import append_rows
from schema_enforcer_spark.cli import main
from schema_enforcer_spark.engine import ValidationEngine
from schema_enforcer_spark.stats import STATS_SCHEMA_DDL
from schema_enforcer_spark.synth import gen_transcripts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(REPO, "manifests", "transcripts_base.yml")

# measured: 135 on every build (the Column-built plan sent 5,043)
PLAN_ROUND_TRIPS = 135
# measured: 394 on every resume below (887 while the checkpoint and
# merged-stats plans were Column chains, 465 while the stats write
# re-aggregated the pending rows and the appends sent their rows as a
# Python list, 429 while the appends were Spark writes and the sink
# replace deleted each instance's directory by name)
RESUME_ROUND_TRIPS = 394


def _commands(monkeypatch, build):
    sent = []
    send = clientserver.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as mp:
        mp.setattr(clientserver.ClientServerConnection, "send_command", counting)
        out = build()
    return len(sent), out


def test_validate_plan_round_trips(spark, transcripts, base_manifest, monkeypatch):
    counts = []
    for _ in range(2):
        df = transcripts.select("*")
        n, report = _commands(monkeypatch, lambda: ValidationEngine(base_manifest).validate(df))
        report.unpersist()
        counts.append(n)
    assert counts[0] == counts[1], f"round trips differ between two identical builds: {counts}"
    assert counts[0] <= PLAN_ROUND_TRIPS, f"one validate sent {counts[0]} py4j commands (guard {PLAN_ROUND_TRIPS})"


def test_resume_round_trips(spark, tmp_path, monkeypatch):
    """Day 1 (partitions 0-3) seeds a checkpoint; the day-2 resume runs
    twice, each from its own copy of that checkpoint, and sends the same
    number of commands both times."""
    full = gen_transcripts(spark, n_convs=40, seed=7).withColumn("partition_id", F.pmod(F.hash("conv_id"), F.lit(8)))
    day1, day2, seed = str(tmp_path / "day1"), str(tmp_path / "day2"), str(tmp_path / "seed")
    full.filter(F.col("partition_id") < 4).write.parquet(day1)
    full.write.parquet(day2)
    args = ["--manifest", MANIFEST, "--stats-columns", "conv_id,role"]
    with contextlib.redirect_stdout(io.StringIO()):
        assert main([*args, "--checkpoint", seed, "--input", day1]) == 0
        counts = []
        for i in range(2):
            ckpt = str(tmp_path / f"ckpt{i}")
            shutil.copytree(seed, ckpt)
            argv = [*args, "--checkpoint", ckpt, "--input", day2, "--output", str(tmp_path / f"out{i}")]
            n, rc = _commands(monkeypatch, lambda: main(argv))
            assert rc == 0
            counts.append(n)
    assert counts[0] == counts[1], f"round trips differ between two identical resumes: {counts}"
    assert counts[0] <= RESUME_ROUND_TRIPS, f"one resume sent {counts[0]} py4j commands (guard {RESUME_ROUND_TRIPS})"


def test_resume_round_trips_do_not_grow_with_pending_partitions(spark, tmp_path, monkeypatch):
    """A resume into a fresh --output sends no more commands with 64
    pending partitions than with 8: the sink deletes, the lineage and stats
    appends and the verdict sink each cost a fixed number of commands."""
    full = gen_transcripts(spark, n_convs=144, seed=11).withColumn(
        "partition_id", F.expr("pmod(CAST(substr(conv_id, 6) AS INT), 72)")
    )
    data = str(tmp_path / "data")
    full.write.parquet(data)
    args = ["--manifest", MANIFEST, "--stats-columns", "conv_id,role"]
    counts = {}
    with contextlib.redirect_stdout(io.StringIO()):
        for n_pending in (8, 64):
            seed = str(tmp_path / f"seed{n_pending}")
            done = str(tmp_path / f"done{n_pending}")
            full.filter(F.col("partition_id") >= n_pending).write.parquet(done)
            assert main([*args, "--input", done, "--checkpoint", seed]) == 0
            argv = [*args, "--input", data, "--checkpoint", seed, "--output", str(tmp_path / f"out{n_pending}")]
            counts[n_pending], rc = _commands(monkeypatch, lambda: main(argv))
            assert rc == 0
    assert counts[64] <= counts[8], f"py4j commands by pending partitions: {counts}"


def test_append_rows_round_trips_do_not_grow_with_rows(spark, tmp_path, monkeypatch):
    """A store append sends the same commands for 1 row as for 4,096."""
    counts = []
    for n in (1, 4096):
        rows = [(str(p), "c", b"\x00" * 64, 0, 1, "a", "b", 0.0, 1.0, 1) for p in range(n)]
        counts.append(_commands(monkeypatch, lambda: append_rows(spark, rows, STATS_SCHEMA_DDL, str(tmp_path / str(n))))[0])
    assert counts[0] == counts[1], f"py4j commands of a 1-row and a 4,096-row append: {counts}"
