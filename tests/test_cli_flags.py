"""The CLI's flag checks: every flag combination the CLI refuses exits 2
before any Spark job runs, and a bad ``--stats-columns`` name fails before
the validation instead of after its sinks are written."""

from __future__ import annotations

import os

import pytest

from schema_enforcer_spark import cli
from schema_enforcer_spark.cli import main
from schema_enforcer_spark.synth import gen_transcripts, inject

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(REPO, "manifests", "transcripts_base.yml")


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("flags")
    data = str(root / "data")
    inject(gen_transcripts(spark, n_convs=8, seed=3), "invalid_enum").write.parquet(data)
    inv = root / "inv"
    (inv / "host_vars").mkdir(parents=True)
    (inv / "hosts.yml").write_text("all:\n  hosts:\n    leaf1:\n")
    (inv / "host_vars" / "leaf1.yml").write_text("role: leaf\n")
    return {"data": data, "inv": str(inv), "root": str(root), "manifest": MANIFEST,
            "manifests": os.path.join(REPO, "manifests")}


# (argv, the start of the printed error): one case or more for every row of
# cli.FLAG_TABLE; the {names} in the argv are filled in from the fixture
CASES = [
    ([], "--manifest is required"),
    (["--manifest", "{manifest}", "--automap"], "--automap requires --inventory"),
    *[
        (["--manifest", "{manifest}", "--inventory", "{inv}", "--automap", *flag], f"--automap does not support {flag[0]}")
        for flag in (["--output", "{root}/o"], ["--checkpoint", "{root}/c"], ["--quarantine", "{root}/q"],
                     ["--stats-columns", "role"], ["--summary"], ["--strict"], ["--sample-fraction", "0.5"],
                     ["--sample-fraction", "0"])
    ],
    (["--manifest", "{manifests}", "--input", "{data}", "--checkpoint", "{root}/c"], "--manifest DIR (multi-manifest"),
    (["--manifest", "{manifests}", "--selftest", "{root}/corpus"], "--manifest DIR (multi-manifest"),
    (["--profile"], "--profile requires --input"),
    (["--infer-manifest", "{root}/m.yml"], "--infer-manifest requires --input"),
    (["--manifest", "{manifest}"], "--input is required"),
    (["--manifest", "{manifest}", "--show-checks"], "--input is required"),
    (["--manifest", "{manifest}", "--input", "{data}", "--baseline"], "--write-baseline/--baseline require --checkpoint"),
    (["--manifest", "{manifest}", "--input", "{data}", "--write-baseline"], "--write-baseline/--baseline require --checkpoint"),
    (["--manifest", "{manifest}", "--input", "{data}", "--stats-columns", "role"], "--stats-columns requires --checkpoint"),
    (["--manifest", "{manifest}", "--input", "{data}", "--sample-fraction", "1.5"], "--sample-fraction must be in (0, 1], got 1.5"),
    (["--manifest", "{manifest}", "--input", "{data}", "--sample-fraction", "0"], "--sample-fraction must be in (0, 1], got 0.0"),
    (["--manifest", "{manifest}", "--input", "{data}", "--sample-fraction", "0.5", "--quarantine", "{root}/q"],
     "--quarantine cannot be combined with --sample-fraction"),
    (["--manifest", "{manifest}", "--input", "{data}", "--sample-fraction", "0.5", "--checkpoint", "{root}/c"],
     "--sample-fraction is an audit mode"),
    (["--manifest", "{manifest}", "--input", "{data}", "--max-violations-per-rule", "0"],
     "--max-violations-per-rule must be at least 1, got 0"),
    (["--manifest", "{manifest}", "--input", "{data}", "--output", "{root}/o", "--max-violations-per-rule", "-1"],
     "--max-violations-per-rule must be at least 1, got -1"),
]


def _argv(argv: list[str], paths: dict) -> list[str]:
    return [a.format(**paths) for a in argv]


def _first_broken_row(argv: list[str]) -> int | None:
    args = cli.parse_args(argv)
    mode = cli.mode_of(args)
    return next((i for i, (modes, broken, _) in enumerate(cli.FLAG_TABLE) if mode in modes and broken(args)), None)


def test_every_flag_row_has_a_case(paths):
    hit = {_first_broken_row(_argv(argv, paths)) for argv, _ in CASES}
    assert hit == set(range(len(cli.FLAG_TABLE)))


@pytest.mark.parametrize("argv,message", CASES, ids=[" ".join(a) or "no args" for a, _ in CASES])
def test_flag_row_exits_2_before_any_spark_job(spark, paths, capsys, argv, message):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    rc = main(_argv(argv, paths))
    err = capsys.readouterr().err
    assert rc == 2
    assert err.startswith(f"ERROR | {message}"), err
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert not os.path.exists(os.path.join(paths["root"], "o"))


def test_bad_stats_column_fails_before_validation(spark, paths, tmp_path, capsys):
    """A --stats-columns name the input lacks exits 2 before the pending
    rows are validated: no violation sink is written, and no persisted
    report is left behind."""
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    out = str(tmp_path / "out")
    rc = main(["--manifest", MANIFEST, "--input", paths["data"], "--output", out,
               "--checkpoint", str(tmp_path / "ckpt"), "--stats-columns", "role,nope"])
    assert rc == 2
    assert "--stats-columns not in the input: ['nope']" in capsys.readouterr().err
    assert not os.path.exists(os.path.join(out, "violations"))
    assert jsc.getPersistentRDDs().size() == persisted
