"""CLI surface: exit codes, FAIL-line format, checkpoint resume, fail-fast
on invalid manifests (reference cli.py parity)."""

from __future__ import annotations

import os

import pytest

from schema_enforcer_spark.cli import main
from schema_enforcer_spark.synth import gen_transcripts, gen_conversations, inject

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(REPO, "manifests", "transcripts_base.yml")


@pytest.fixture(scope="module")
def data(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    bad = str(root / "bad")
    clean = str(root / "clean")
    convs = str(root / "convs")
    inject(gen_transcripts(spark, n_convs=15, seed=42), "invalid_enum").write.parquet(bad)
    gen_transcripts(spark, n_convs=5, seed=42).write.parquet(clean)
    gen_conversations(spark, 15).write.parquet(convs)
    return {"bad": bad, "clean": clean, "convs": convs, "root": str(root)}


def test_cli_fail_exit_code_and_output(spark, data, capsys):
    rc = main(["--manifest", MANIFEST, "--input", data["bad"], "--output", data["root"] + "/out"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "FAIL | [ERROR] 'operator' is not one of" in out
    assert "[PROPERTY] conv-00000001:1:role" in out
    # sinks written
    assert spark.read.parquet(data["root"] + "/out/violations").count() >= 1
    verdicts = spark.read.parquet(data["root"] + "/out/verdicts")
    assert verdicts.filter("result = 'FAIL'").count() >= 1


def test_cli_pass(spark, data, capsys):
    rc = main(["--manifest", MANIFEST, "--input", data["clean"]])
    assert rc == 0
    assert "ALL SCHEMA VALIDATION CHECKS PASSED" in capsys.readouterr().out


def test_cli_checkpoint_resume(spark, data, capsys):
    ckpt = data["root"] + "/ckpt"
    rc1 = main(["--manifest", MANIFEST, "--input", data["bad"], "--checkpoint", ckpt])
    assert rc1 == 1
    # FAILed partitions are never 'complete': resuming on unchanged bad data
    # re-validates them and still exits 1 — a resume must not mask violations
    rc2 = main(["--manifest", MANIFEST, "--input", data["bad"], "--checkpoint", ckpt])
    assert rc2 == 1
    # clean input: run 1 records PASS lineage, run 2 is a true no-op success
    ckpt2 = data["root"] + "/ckpt_clean"
    rc3 = main(["--manifest", MANIFEST, "--input", data["clean"], "--checkpoint", ckpt2])
    assert rc3 == 0
    rc4 = main(["--manifest", MANIFEST, "--input", data["clean"], "--checkpoint", ckpt2])
    out = capsys.readouterr().out
    assert rc4 == 0
    assert "ALL PARTITIONS ALREADY VALIDATED" in out


def test_cli_checkpoint_output_no_duplicates(spark, data, capsys):
    """--checkpoint + --output: a FAILed partition re-validates on every
    resume; its rows must be REPLACED in the output, not re-appended
    (consumers would double-count violations after each retry)."""
    ckpt = data["root"] + "/ckpt_dup"
    out = data["root"] + "/out_dup"
    rc1 = main(["--manifest", MANIFEST, "--input", data["bad"], "--checkpoint", ckpt, "--output", out])
    assert rc1 == 1
    v1 = spark.read.parquet(out + "/violations").count()
    d1 = spark.read.parquet(out + "/verdicts").count()
    rc2 = main(["--manifest", MANIFEST, "--input", data["bad"], "--checkpoint", ckpt, "--output", out])
    assert rc2 == 1
    assert spark.read.parquet(out + "/violations").count() == v1
    assert spark.read.parquet(out + "/verdicts").count() == d1
    # and one FAIL verdict per hit partition, not one per run
    vd = spark.read.parquet(out + "/verdicts")
    assert vd.groupBy("instance_name").count().filter("count > 1").count() == 0


def test_checkpoint_corrupt_lineage_raises(spark, data, tmp_path):
    """A corrupt/unreadable lineage dir must FAIL LOUDLY, not be treated as
    first-run (which would silently disable resume)."""
    from schema_enforcer_spark.checkpoint import CheckpointManager

    bad_ckpt = tmp_path / "corrupt_ckpt"
    bad_ckpt.mkdir()
    (bad_ckpt / "part-00000.parquet").write_text("this is not parquet")
    cm = CheckpointManager(spark, str(bad_ckpt))
    with pytest.raises(Exception):
        cm.lineage().count()
    # while a genuinely missing path is first-run: empty lineage, no raise
    cm2 = CheckpointManager(spark, str(tmp_path / "never_written"))
    assert cm2.lineage().count() == 0


def test_cli_invalid_manifest_fails_fast(spark, data, capsys):
    rc = main(["--manifest", os.path.join(REPO, "manifests", "invalid_manifest.yml"), "--input", data["clean"]])
    assert rc == 1
    assert "invalid manifest" in capsys.readouterr().err


def test_cli_referential_and_show_checks(spark, data, capsys):
    rc = main(
        [
            "--manifest", os.path.join(REPO, "manifests", "transcripts_referential.yml"),
            "--input", data["bad"],
            "--ref-table", f"conversations={data['convs']}",
        ]
    )
    assert rc == 0  # enum defect doesn't violate referential rule
    rc2 = main(["--manifest", MANIFEST, "--input", data["clean"], "--show-checks"])
    out = capsys.readouterr().out
    assert rc2 == 0 and "schemas/transcripts_base" in out


def test_cli_selftest_and_generate(spark, data, capsys):
    corpus = data["root"] + "/corpus"
    # build a tiny corpus: one valid + one invalid case
    spark.read.parquet(data["clean"]).write.parquet(corpus + "/valid/clean.parquet")
    spark.read.parquet(data["bad"]).write.parquet(corpus + "/invalid/enum_case/data.parquet")
    rc_gen = main(["--manifest", MANIFEST, "--generate-invalid", corpus])
    assert rc_gen == 0
    rc = main(["--manifest", MANIFEST, "--selftest", corpus])
    out = capsys.readouterr().out
    assert rc == 0
    assert "PASS | valid/clean.parquet" in out
    assert "PASS | invalid/enum_case" in out


def test_cli_summary_flag(spark, data, capsys):
    rc = main(["--manifest", MANIFEST, "--input", data["bad"], "--summary"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "Violations" in out and "schemas/transcripts_base" in out


def test_escape_partition_value_unit():
    from schema_enforcer_spark.cli import escape_partition_value

    assert escape_partition_value("42") == "42"
    assert escape_partition_value("2024-01-01") == "2024-01-01"
    assert escape_partition_value("a:b") == "a%3Ab"
    assert escape_partition_value("p/q=r%s") == "p%2Fq%3Dr%25s"
    assert escape_partition_value(None) == "__HIVE_DEFAULT_PARTITION__"
    assert escape_partition_value("") == "__HIVE_DEFAULT_PARTITION__"


def test_cli_checkpoint_output_escaped_instance_names(spark, data, capsys):
    """Replace-on-resume must delete the HIVE-ESCAPED partition dir: with an
    instance expr producing ':' (escaped to %3A in the directory name), a
    raw-name delete would no-op and rows would re-append every resume."""
    ckpt = data["root"] + "/ckpt_esc"
    out = data["root"] + "/out_esc"
    args = [
        "--manifest", MANIFEST, "--input", data["bad"],
        "--checkpoint", ckpt, "--output", out,
        "--instance-expr", "concat('p:', CAST(partition_id AS STRING))",
    ]
    assert main(args) == 1
    v1 = spark.read.parquet(out + "/violations").count()
    assert main(args) == 1
    assert spark.read.parquet(out + "/violations").count() == v1
    # the physical dirs really are escaped
    import os as _os

    subdirs = [d for d in _os.listdir(out + "/violations") if d.startswith("instance_name=")]
    assert subdirs and all("%3A" in d for d in subdirs)


# instance names that Spark's escapePathName leaves raw but are glob syntax
# (',', '}'), that it %-escapes, and their raw-name decoys
HOSTILE = ["a,b", "x}y", "{", "*", "?", "[", "%", "/", "=", "\\", "a-b", "é q"]
DECOYS = ["a", "b", "x", "y", "x}", "ab", "%25", "plain"]


def test_delete_instance_dirs_hostile_names(spark, tmp_path):
    """The sink delete removes exactly the named instances' directories,
    whatever their names, under an output root that is glob syntax itself,
    and leaves every other directory, raw-name decoys included."""
    from schema_enforcer_spark.cli import _delete_instance_dirs, escape_partition_value

    root = str(tmp_path / "out [1] {a,b}*")
    names = [*HOSTILE, *DECOYS, None]
    df = spark.createDataFrame([(n, i) for i, n in enumerate(names)], "instance_name string, v int")
    for sink in ("violations", "verdicts"):
        df.write.partitionBy("instance_name").parquet(f"{root}/{sink}")
    _delete_instance_dirs(spark, root, ("violations", "verdicts"), {*HOSTILE, None})
    for sink in ("violations", "verdicts"):
        left = {d for d in os.listdir(f"{root}/{sink}") if d.startswith("instance_name=")}
        assert left == {f"instance_name={escape_partition_value(n)}" for n in DECOYS}
    # nothing to delete, or no sink yet: no error
    _delete_instance_dirs(spark, root, ("violations",), {"nope"})
    _delete_instance_dirs(spark, str(tmp_path / "never"), ("violations",), set(HOSTILE))


def test_cli_checkpoint_output_hostile_instance_names(spark, data, tmp_path, capsys):
    """Every instance re-validated into an existing --output replaces its
    rows, whatever its name: a second run from a fresh checkpoint (every
    partition pending again) leaves the same rows in both sinks."""
    names = ", ".join("'" + n.replace("\\", "\\\\").replace("'", "\\'") + "'" for n in HOSTILE)
    expr = f"element_at(array({names}, CAST(NULL AS STRING)), CAST(partition_id % {len(HOSTILE) + 1} AS INT) + 1)"
    out = str(tmp_path / "out")
    args = ["--manifest", MANIFEST, "--input", data["bad"], "--output", out, "--instance-expr", expr]

    def sinks():
        return [sorted(map(repr, spark.read.parquet(f"{out}/{s}").collect())) for s in ("violations", "verdicts")]

    assert main([*args, "--checkpoint", str(tmp_path / "c1")]) == 1
    first = sinks()
    assert main([*args, "--checkpoint", str(tmp_path / "c2")]) == 1
    capsys.readouterr()
    assert sinks() == first
    verdicts = [r["instance_name"] for r in spark.read.parquet(f"{out}/verdicts").collect()]
    assert len(verdicts) == len(set(verdicts)) and set(verdicts) - {None} <= set(HOSTILE)


def test_cli_checkpoint_output_fail_then_pass_drops_stale_rows(spark, data, tmp_path, capsys):
    """A FAILed partition that re-validates as PASS on fixed data loses its
    violation rows in the --output sink, and its verdict row turns PASS."""
    import pyarrow.dataset as ds

    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    args = ["--manifest", MANIFEST, "--checkpoint", ckpt, "--output", out]
    assert main([*args, "--input", data["bad"]]) == 1
    failed = {r["instance_name"] for r in spark.read.parquet(f"{out}/verdicts").filter("result = 'FAIL'").collect()}
    assert failed and ds.dataset(f"{out}/violations", format="parquet").count_rows() >= 1
    fixed = str(tmp_path / "fixed")
    gen_transcripts(spark, n_convs=15, seed=42).write.parquet(fixed)
    assert main([*args, "--input", fixed]) == 0
    capsys.readouterr()
    assert ds.dataset(f"{out}/violations", format="parquet").count_rows() == 0
    verdicts = spark.read.parquet(f"{out}/verdicts").collect()
    assert {r["result"] for r in verdicts} == {"PASS"}
    assert {r["instance_name"] for r in verdicts} >= failed
    assert len(verdicts) == len({r["instance_name"] for r in verdicts})


def test_checkpoint_empty_dir_is_first_run(spark, tmp_path):
    """A pre-created EMPTY checkpoint dir (ops mkdir -p, or a run that died
    before any commit) is first-run, not corruption."""
    from schema_enforcer_spark.checkpoint import CheckpointManager

    empty = tmp_path / "pre_created"
    empty.mkdir()
    cm = CheckpointManager(spark, str(empty))
    assert cm.lineage().count() == 0


def test_cli_show_pass(spark, data, capsys):
    """--show-pass prints PASS lines for passing partitions in the reference
    print_passed shape (validation.py:82-91): PASS | [TYPE] name [SCHEMA ID]."""
    rc = main(["--manifest", MANIFEST, "--input", data["clean"], "--show-pass"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "PASS | [PARTITION] " in out and "[SCHEMA ID] schemas/transcripts_base" in out
    # without the flag no PASS lines are printed (default behavior unchanged)
    main(["--manifest", MANIFEST, "--input", data["clean"]])
    assert "PASS | [PARTITION]" not in capsys.readouterr().out
    # on bad data the flag still prints PASS lines for the clean partitions
    rc = main(["--manifest", MANIFEST, "--input", data["bad"], "--show-pass"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "FAIL | [ERROR]" in out and "PASS | [PARTITION] " in out


def test_cli_fail_lines_reproducible(spark, tmp_path, capsys):
    """Violations that share one message are printed in a total order over
    every printed field (message, instance type, location and name,
    property path), so a small --show-failures picks the same lines on
    every run, whatever order the input partitions' tasks finish in."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "in")
    (
        spark.range(400)
        .select(
            F.format_string("conv-%04d", (F.col("id") / 4).cast("int")).alias("conv_id"),
            (F.col("id") % 4).cast("int").alias("turn_idx"),
            F.lit("bad").alias("x"),
        )
        .repartition(4)
        .write.parquet(src)
    )
    man = tmp_path / "m.yml"
    man.write_text(
        "id: schemas/ties\ntable: t\nrules:\n  - {kind: enum, column: x, values: [ok]}\n"
    )
    out = str(tmp_path / "out")
    assert main(["--manifest", str(man), "--input", src, "--output", out, "--show-failures", "7"]) == 1
    printed = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("FAIL |")]
    rows = spark.read.parquet(out + "/violations").collect()
    assert len(rows) == 400 and len({r["message"] for r in rows}) == 1
    assert len({r["instance_name"] for r in rows}) > 1
    rows.sort(key=lambda v: (
        v["message"], v["instance_type"], v["instance_location"], v["instance_name"], v["absolute_path"]
    ))
    assert printed == [
        f"FAIL | [ERROR] {v['message']} [{v['instance_type']}] {v['instance_location']}/{v['instance_name']} "
        f"[PROPERTY] {':'.join(v['absolute_path'])}"
        for v in rows[:7]
    ]


def test_cli_list_manifests(tmp_path, capsys):
    """--list-manifests on a directory enumerates every manifest file with
    the reference table columns (manager.py print_schemas_list); an invalid
    manifest in the tree fails loud like SchemaManager's InvalidJSONSchema."""
    import shutil

    mdir = tmp_path / "mans"
    mdir.mkdir()
    for name in ("transcripts_base.yml", "transcripts_agg.yml"):
        shutil.copy(os.path.join(REPO, "manifests", name), mdir / name)
    rc = main(["--manifest", str(mdir), "--list-manifests"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Schema ID" in out and "Filename" in out
    assert "schemas/transcripts_base" in out and "transcripts_base.yml" in out
    assert "schemas/transcripts_agg" in out
    # a directory containing an invalid manifest fails loud (reference
    # SchemaManager raises InvalidJSONSchema before any listing)
    shutil.copy(os.path.join(REPO, "manifests", "invalid_manifest.yml"), mdir / "bad.yml")
    rc = main(["--manifest", str(mdir), "--list-manifests"])
    assert rc == 1
    assert "invalid manifest" in capsys.readouterr().err
    # single-file form lists exactly one row
    rc = main(["--manifest", MANIFEST, "--list-manifests"])
    out = capsys.readouterr().out
    assert rc == 0 and out.count("schemas/transcripts_base") == 1


def test_cli_dump_manifest(spark, data, capsys):
    """--dump-manifest prints the include-resolved manifest as JSON
    (reference dump_schema, manager.py:109-124); with --input it also prints
    each compiled rule id + its SQL predicate."""
    import json

    rc = main(["--manifest", MANIFEST, "--dump-manifest"])
    out = capsys.readouterr().out
    assert rc == 0
    dumped = json.loads(out)
    assert dumped["id"] == "schemas/transcripts_base"
    assert any(r["kind"] == "enum" for r in dumped["rules"])

    rc = main(["--manifest", MANIFEST, "--dump-manifest", "--input", data["clean"]])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Compiled rules:" in out
    # the printed expression is the real compiled SQL predicate
    enum_line = next(ln for ln in out.splitlines() if "schemas/transcripts_base/enum/role:" in ln)
    assert "IN ('system', 'user', 'assistant', 'tool')" in enum_line


def test_cli_drift_baseline_lifecycle(spark, tmp_path, capsys):
    """--write-baseline persists drift histograms under the checkpoint dir;
    a later --baseline run validates against them: clean data passes,
    shifted data fires PSI."""
    import shutil

    from pyspark.sql import functions as F

    man = tmp_path / "drift.yml"
    man.write_text(
        "id: schemas/drift_test\n"
        "table: transcripts\n"
        "rules:\n"
        "  - kind: drift\n"
        "    column: length(text)\n"
        "    metric: psi\n"
        "    threshold: 0.2\n"
        "    lo: 0\n"
        "    hi: 400\n"
        "    bins: 16\n"
    )
    base_df = gen_transcripts(spark, n_convs=30, seed=1)
    p_base = str(tmp_path / "base")
    base_df.write.parquet(p_base)
    # shifted: every text tripled → length distribution moves right hard
    p_shift = str(tmp_path / "shift")
    base_df.withColumn("text", F.concat("text", "text", "text")).write.parquet(p_shift)

    ckpt = str(tmp_path / "ckpt")
    rc = main(["--manifest", str(man), "--input", p_base, "--checkpoint", ckpt, "--write-baseline"])
    out = capsys.readouterr().out
    assert rc == 0 and "wrote 1 drift baseline(s)" in out
    assert os.path.isfile(os.path.join(ckpt, "_drift_baselines.json"))

    # clean re-run against the stored baseline: no drift (fresh ckpt dir so
    # lineage from other runs can't skip partitions; baselines copied in —
    # the promote-a-baseline ops pattern)
    ckpt2 = str(tmp_path / "ckpt2")
    os.makedirs(ckpt2)
    shutil.copy(os.path.join(ckpt, "_drift_baselines.json"), ckpt2)
    rc = main(["--manifest", str(man), "--input", p_base, "--checkpoint", ckpt2, "--baseline"])
    assert rc == 0
    assert "ALL SCHEMA VALIDATION CHECKS PASSED" in capsys.readouterr().out

    # shifted data fires
    ckpt3 = str(tmp_path / "ckpt3")
    os.makedirs(ckpt3)
    shutil.copy(os.path.join(ckpt, "_drift_baselines.json"), ckpt3)
    rc = main(["--manifest", str(man), "--input", p_shift, "--checkpoint", ckpt3, "--baseline"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "distribution drift on length(text): psi=" in out

    # no stored baseline and none inline → loud failure, not a silent pass
    ckpt4 = str(tmp_path / "ckpt4")
    with pytest.raises(Exception, match="no baseline"):
        main(["--manifest", str(man), "--input", p_base, "--checkpoint", ckpt4])


def test_drift_rule_requires_baseline_or_bounds():
    from schema_enforcer_spark.manifest import validate_manifest_dict

    errs = validate_manifest_dict(
        {
            "id": "schemas/x",
            "rules": [{"kind": "drift", "column": "length(text)", "metric": "ks", "threshold": 0.1}],
        }
    )
    assert any("baseline" in e and "lo" in e for e in errs)


def test_cli_inventory_validation(spark, tmp_path, capsys):
    """--inventory validates each host's merged+rendered vars as a [HOST]
    instance — the reference `ansible` command shape (cli.py:227-265):
    'Found N hosts', FAIL lines with [HOST], --limit restricts, --show-pass
    prints PASS | [HOST] lines."""
    inv = tmp_path / "inv"
    (inv / "group_vars").mkdir(parents=True)
    (inv / "host_vars").mkdir()
    (inv / "hosts.yml").write_text(
        "all:\n  children:\n    dc1:\n      hosts:\n        spine1:\n        leaf1:\n"
    )
    (inv / "group_vars" / "all.yml").write_text("role: switch\nsite: hq\n")
    (inv / "host_vars" / "spine1.yml").write_text("role: spinny\n")  # invalid enum
    man = tmp_path / "hosts.yml"
    man.write_text(
        "id: schemas/hosts\n"
        "table: hosts\n"
        "rules:\n"
        "  - kind: enum\n"
        "    column: role\n"
        "    values: [switch, spine, leaf]\n"
        "  - kind: required\n"
        "    column: site\n"
    )
    rc = main(["--manifest", str(man), "--inventory", str(inv)])
    out = capsys.readouterr().out
    assert rc == 1
    assert "Found 2 hosts in the inventory" in out
    assert "FAIL | [ERROR] 'spinny' is not one of ['switch', 'spine', 'leaf'] [HOST] spine1 [PROPERTY] spine1:role" in out

    # --limit to the clean host passes; --show-pass prints the HOST form
    rc = main(["--manifest", str(man), "--inventory", str(inv), "--limit", "leaf1", "--show-pass"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "PASS | [HOST] leaf1 [SCHEMA ID] schemas/hosts" in out
    assert "ALL SCHEMA VALIDATION CHECKS PASSED" in out


def test_cli_strict_flag(spark, data, tmp_path, capsys):
    """--strict forces strict column checking without the manifest opting in
    (reference validate --strict, cli.py:34-41: injects additionalProperties
    false) — an undeclared input column becomes a violation; without the
    flag the same input passes."""
    extra = str(tmp_path / "extra")
    from pyspark.sql import functions as F

    spark.read.parquet(data["clean"]).withColumn("debug_blob", F.lit("x")).write.parquet(extra)
    rc = main(["--manifest", MANIFEST, "--input", extra])
    assert rc == 0
    capsys.readouterr()
    rc = main(["--manifest", MANIFEST, "--input", extra, "--strict"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "Additional properties are not allowed ('debug_blob' was unexpected)" in out

    # a manifest with no declared columns can't define the universe: loud error
    man = tmp_path / "nocols.yml"
    man.write_text("id: schemas/nocols\nrules:\n  - kind: required\n    column: conv_id\n")
    rc = main(["--manifest", str(man), "--input", extra, "--strict"])
    err = capsys.readouterr().err
    assert rc == 1
    assert "--strict needs the manifest to declare 'columns'" in err


def test_cli_limit_unmatched_host_errors(spark, tmp_path, capsys):
    """A typo'd --limit must error, not report ALL PASSED on zero hosts
    (reference ansible --limit errors on an unmatched pattern)."""
    inv = tmp_path / "inv"
    (inv / "host_vars").mkdir(parents=True)
    (inv / "hosts.yml").write_text("all:\n  hosts:\n    leaf1:\n")
    (inv / "host_vars" / "leaf1.yml").write_text("role: leaf\n")
    man = tmp_path / "m.yml"
    man.write_text("id: schemas/h\nrules:\n  - kind: required\n    column: role\n")
    rc = main(["--manifest", str(man), "--inventory", str(inv), "--limit", "laef1"])
    captured = capsys.readouterr()
    assert rc == 2
    assert "matches no host" in captured.err
    assert "ALL SCHEMA VALIDATION CHECKS PASSED" not in captured.out


def test_cli_strict_with_inventory_ignores_host_key(spark, tmp_path, capsys):
    """--strict + --inventory: the loader-injected 'host' key column is
    engine plumbing, not an undeclared var."""
    inv = tmp_path / "inv"
    (inv / "host_vars").mkdir(parents=True)
    (inv / "hosts.yml").write_text("all:\n  hosts:\n    leaf1:\n")
    (inv / "host_vars" / "leaf1.yml").write_text("role: leaf\n")
    man = tmp_path / "m.yml"
    man.write_text(
        "id: schemas/h\ncolumns: [role]\nrules:\n  - kind: required\n    column: role\n"
    )
    rc = main(["--manifest", str(man), "--inventory", str(inv), "--strict"])
    out = capsys.readouterr().out
    assert rc == 0, out
    assert "'host' was unexpected" not in out

    # --show-checks with --inventory must print, not crash on args.input=None
    rc = main(["--manifest", str(man), "--inventory", str(inv), "--show-checks"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Schema ID" in out


def test_cli_automap_per_host_binding(spark, tmp_path, capsys):
    """--inventory --automap: two hosts with disjoint var sets bind to
    DIFFERENT manifests (reference ansible_inventory.py:107-141 — per-host
    top_level_properties intersection). A host without a manifest's
    properties is neither validated nor PASSed for it."""
    inv = tmp_path / "inv"
    (inv / "group_vars").mkdir(parents=True)
    (inv / "host_vars").mkdir()
    (inv / "hosts.yml").write_text(
        "all:\n  children:\n    dc1:\n      hosts:\n        switch1:\n        server1:\n"
    )
    # disjoint property sets: switch1 has interface vars, server1 has os vars
    (inv / "host_vars" / "switch1.yml").write_text("role: spinny\n")  # invalid enum
    (inv / "host_vars" / "server1.yml").write_text("os_version: '14.1'\n")
    mdir = tmp_path / "manifests"
    mdir.mkdir()
    (mdir / "switches.yml").write_text(
        "id: schemas/switches\n"
        "table: hosts\n"
        "columns: [role]\n"
        "rules:\n"
        "  - kind: enum\n"
        "    column: role\n"
        "    values: [switch, spine, leaf]\n"
    )
    (mdir / "servers.yml").write_text(
        "id: schemas/servers\n"
        "table: hosts\n"
        "columns: [os_version]\n"
        "rules:\n"
        "  - kind: pattern\n"
        "    column: os_version\n"
        "    pattern: '^[0-9]+\\.[0-9]+$'\n"
    )
    # each manifest's report is released: a long-lived session calling
    # main() repeatedly must not accumulate persisted frames
    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_persisted()
    rc = main(["--manifest", str(mdir), "--inventory", str(inv), "--automap", "--show-pass"])
    assert n_persisted() == before
    out = capsys.readouterr().out
    assert rc == 1  # switch1's enum violation
    assert "FAIL | [ERROR] 'spinny' is not one of ['switch', 'spine', 'leaf'] [HOST] switch1" in out
    # server1 binds to schemas/servers and passes it
    assert "PASS | [HOST] server1 [SCHEMA ID] schemas/servers" in out
    # per-host binding: server1 must NOT get a verdict under schemas/switches
    # and switch1 must NOT get one under schemas/servers
    assert "PASS | [HOST] server1 [SCHEMA ID] schemas/switches" not in out
    assert "PASS | [HOST] switch1 [SCHEMA ID] schemas/servers" not in out

    # fix the violation → clean exit
    (inv / "host_vars" / "switch1.yml").write_text("role: spine\n")
    rc = main(["--manifest", str(mdir), "--inventory", str(inv), "--automap"])
    assert n_persisted() == before
    out = capsys.readouterr().out
    assert rc == 0
    assert "ALL SCHEMA VALIDATION CHECKS PASSED" in out


def test_cli_quarantine_split(spark, data, capsys):
    """--quarantine: one-pass row-grain split. Every row of the input lands
    exactly once under row_valid=true/false, the false side is exactly the
    rows failing a row rule (the injected enum violations), and the flag
    partition dirs are readable (no underscore-prefix file-index trap)."""
    qdir = data["root"] + "/quarantine"
    rc = main(["--manifest", MANIFEST, "--input", data["bad"], "--quarantine", qdir])
    assert rc == 1
    out = capsys.readouterr().out
    total = spark.read.parquet(data["bad"]).count()
    q = spark.read.parquet(qdir)
    assert q.count() == total
    bad_rows = q.filter("row_valid = false")
    n_bad = bad_rows.count()
    assert n_bad >= 1
    # the printed counts must be the REAL counts (partition values read
    # back as strings — a boolean lookup bug printed 0 here once)
    assert f"quarantine: {total - n_bad} valid row(s)" in out
    assert f"quarantine: {n_bad} violating row(s)" in out
    # the quarantined side is exactly the injected enum-violating rows
    assert bad_rows.filter("role = 'operator'").count() == n_bad
    assert q.filter("row_valid = true and role = 'operator'").count() == 0


def test_cli_quarantine_rejects_column_clash(spark, data, tmp_path, capsys):
    clash = str(tmp_path / "clash")
    spark.read.parquet(data["clean"]).withColumn("row_valid", __import__("pyspark").sql.functions.lit(True)).write.parquet(clash)
    rc = main(["--manifest", MANIFEST, "--input", clash, "--quarantine", str(tmp_path / "q")])
    assert rc == 2
    assert "row_valid" in capsys.readouterr().err


def test_cli_stats_columns_lifecycle(spark, data, capsys):
    """--stats-columns: run 1 sketches every partition it validates and
    prints merged table stats; run 2 (nothing pending) prints the SAME
    merged stats purely from the store — no data rescans (the pending set
    is empty, so any recompute would crash on the empty frame anyway)."""
    ckpt = data["root"] + "/ckpt_stats"
    rc1 = main(["--manifest", MANIFEST, "--input", data["clean"], "--checkpoint", ckpt,
                "--stats-columns", "conv_id,role"])
    out1 = capsys.readouterr().out
    assert rc1 == 0
    assert "conv_id" in out1 and "role" in out1
    # store landed under the checkpoint with the hidden-path prefix
    stats_rows = spark.read.parquet(ckpt + "/_column_stats")
    assert stats_rows.filter("col_name = 'role'").count() >= 1
    # lineage read rooted at the checkpoint dir must NOT trip on the store
    rc2 = main(["--manifest", MANIFEST, "--input", data["clean"], "--checkpoint", ckpt,
                "--stats-columns", "conv_id,role"])
    out2 = capsys.readouterr().out
    assert rc2 == 0
    assert "ALL PARTITIONS ALREADY VALIDATED" in out2
    # merged numbers identical across the two runs (store-only recompute)
    line1 = [l for l in out1.splitlines() if l.startswith("conv_id")]
    line2 = [l for l in out2.splitlines() if l.startswith("conv_id")]
    assert line1 == line2 and line1


def test_cli_stats_columns_print_in_name_order(spark, data, capsys):
    """The merged stats table prints one line per stats column, sorted by
    column name whatever order --stats-columns lists them in."""
    ckpt = data["root"] + "/ckpt_stats_order"
    rc = main(["--manifest", MANIFEST, "--input", data["clean"], "--checkpoint", ckpt,
               "--stats-columns", "turn_idx,role,conv_id"])
    assert rc == 0
    lines = capsys.readouterr().out.splitlines()
    table = lines[lines.index("-" * 92) + 1:][:3]
    assert [l.split()[0] for l in table] == ["conv_id", "role", "turn_idx"]


def test_cli_stats_columns_resume_sketches_passing_pending_partitions(spark, tmp_path, capsys):
    """A resumed --checkpoint --stats-columns run sketches EVERY pending
    partition it validates, the ones that PASS included: the stats must be
    written before the lineage marks those partitions done, or the lazy
    pending frame they are computed from is empty by then."""
    from pyspark.sql import functions as F

    from schema_enforcer_spark.stats import merged_column_stats, stats_store_path

    full_path, first_path = str(tmp_path / "full"), str(tmp_path / "first")
    gen_transcripts(spark, n_convs=40, seed=7, num_buckets=8).write.parquet(full_path)
    full = spark.read.parquet(full_path)
    parts = sorted(r[0] for r in full.select("partition_id").distinct().collect())
    assert len(parts) == 8
    full.filter(F.col("partition_id").isin(parts[:4])).write.parquet(first_path)
    ckpt = str(tmp_path / "ckpt")
    argv = ["--manifest", MANIFEST, "--checkpoint", ckpt, "--stats-columns", "role"]
    assert main([*argv, "--input", first_path]) == 0
    assert main([*argv, "--input", full_path]) == 0
    assert "validated" in capsys.readouterr().out
    store = stats_store_path(ckpt)
    sketched = {r[0] for r in spark.read.parquet(store).select("partition_id").distinct().collect()}
    assert sketched == {str(p) for p in parts}
    merged = merged_column_stats(spark, store).filter("col_name = 'role'").first()
    assert (merged["n_rows"], merged["n_partitions"]) == (full.count(), 8)


def test_cli_stats_columns_requires_checkpoint(spark, data, capsys):
    rc = main(["--manifest", MANIFEST, "--input", data["clean"], "--stats-columns", "role"])
    assert rc == 2
    assert "--stats-columns requires --checkpoint" in capsys.readouterr().err


def test_cli_sample_fraction_deterministic_audit(spark, data, capsys):
    """--sample-fraction: validates a deterministic md5-bucket subset —
    same rows every run, fewer than the full table, and clean data still
    exits 0. Incompatible with --checkpoint (a sampled run must not mark
    partitions validated)."""
    rc = main(["--manifest", MANIFEST, "--input", data["clean"], "--sample-fraction", "0.3"])
    out1 = capsys.readouterr().out
    assert rc == 0
    assert "sampled validation: fraction=0.3 seed=42" in out1 and "conv_id groups" in out1
    # determinism: identical second run
    rc = main(["--manifest", MANIFEST, "--input", data["clean"], "--sample-fraction", "0.3"])
    assert rc == 0
    # a violating row selected by the sample still fails the run; use
    # fraction 1.0 so the injected row is guaranteed in-sample
    rc = main(["--manifest", MANIFEST, "--input", data["bad"], "--sample-fraction", "1.0"])
    assert rc == 1

    rc = main(["--manifest", MANIFEST, "--input", data["clean"],
               "--sample-fraction", "0.3", "--checkpoint", data["root"] + "/ck_sample"])
    assert rc == 2
    assert "audit mode" in capsys.readouterr().err

    rc = main(["--manifest", MANIFEST, "--input", data["clean"], "--sample-fraction", "1.5"])
    assert rc == 2


def test_cli_manifest_directory_automap(spark, data, tmp_path, capsys):
    """--manifest DIR: every manifest that automaps to the input's columns
    runs (reference `validate` all-schemas semantics); non-binding
    manifests are skipped with a warning; the exit code reflects the union
    of violations."""
    import shutil

    mdir = tmp_path / "mdir"
    mdir.mkdir()
    shutil.copy(MANIFEST, mdir / "base.yml")
    (mdir / "roles_only.yml").write_text(
        "id: schemas/roles_only\n"
        "table: transcripts\n"
        "rules:\n"
        "  - kind: required\n"
        "    column: role\n"
    )
    (mdir / "unrelated.yml").write_text(
        "id: schemas/unrelated\n"
        "table: other\n"
        "rules:\n"
        "  - kind: required\n"
        "    column: no_such_column_anywhere\n"
    )
    rc = main(["--manifest", str(mdir), "--input", data["bad"]])
    out = capsys.readouterr().out
    assert rc == 1
    assert "validating against 2 manifest(s)" in out
    assert "WARN | manifest schemas/unrelated shares no columns with the input — skipped" in out
    assert "'operator' is not one of" in out  # base manifest's enum rule fired

    rc = main(["--manifest", str(mdir), "--input", data["clean"]])
    out = capsys.readouterr().out
    assert rc == 0
    assert "ALL SCHEMA VALIDATION CHECKS PASSED" in out
    assert "schemas/roles_only" in out and "schemas/transcripts_base" in out

    # quarantine across ALL bound manifests: one pass, union of row rules
    qdir = str(tmp_path / "q")
    rc = main(["--manifest", str(mdir), "--input", data["bad"], "--quarantine", qdir])
    assert rc == 1
    q = spark.read.parquet(qdir)
    assert q.filter("row_valid = false and role = 'operator'").count() >= 1

    # incremental features stay single-manifest
    rc = main(["--manifest", str(mdir), "--input", data["bad"], "--checkpoint", str(tmp_path / "ck")])
    assert rc == 2
    assert "multi-manifest" in capsys.readouterr().err


def test_cli_max_violations_per_rule_caps_sink(spark, data, tmp_path, capsys):
    """--max-violations-per-rule: the persisted violations are capped per
    (rule, instance) while verdicts keep EXACT counts and the exit code
    still fails — the sink-vs-truth split that keeps a systematically
    broken rule from writing a violations table larger than the input."""
    from pyspark.sql import functions as F

    allbad = str(tmp_path / "allbad")
    spark.read.parquet(data["clean"]).withColumn("text", F.lit(None).cast("string")).write.parquet(allbad)
    out = str(tmp_path / "out")
    rc = main(["--manifest", MANIFEST, "--input", allbad, "--output", out,
               "--max-violations-per-rule", "3"])
    assert rc == 1
    written = spark.read.parquet(out + "/violations")
    per_group = written.groupBy("schema_id", "instance_name").count().collect()
    assert per_group and all(r["count"] <= 3 for r in per_group)
    # verdict counts stay EXACT (more than the cap)
    verd = spark.read.parquet(out + "/verdicts")
    total_true = spark.read.parquet(allbad).count()
    assert verd.agg(F.sum("n_violations")).collect()[0][0] == total_true
    n_printed = capsys.readouterr().out
    assert f"{total_true} violation(s)" in n_printed


def test_cli_equals_table_via_ref_table(spark, data, tmp_path, capsys):
    """equals_table through the CLI's --ref-table plumbing: a tampered turn
    fails with both values in the FAIL line; identical tables exit 0."""
    from pyspark.sql import functions as F

    base = spark.read.parquet(data["clean"])
    ref = str(tmp_path / "golden")
    inp = str(tmp_path / "in")
    base.write.parquet(ref)
    base.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == "conv-00000001") & (F.col("turn_idx") == 2), F.lit("X")
        ).otherwise(F.col("text")),
    ).write.parquet(inp)
    mpath = tmp_path / "m.yml"
    mpath.write_text(
        "id: schemas/text_parity\ntable: transcripts\nrules:\n"
        "  - kind: equals_table\n    columns: [conv_id, turn_idx]\n"
        "    ref_table: golden\n    compare: [text]\n"
    )
    rc = main(["--manifest", str(mpath), "--input", inp, "--ref-table", f"golden={ref}"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "'X' does not equal golden.text" in out
    assert "[PROPERTY] conv-00000001:2:text" in out
    rc = main(["--manifest", str(mpath), "--input", ref, "--ref-table", f"golden={ref}"])
    assert rc == 0


_FUSED_PAIRS = {
    # row rules only: the fused violations plan reads the input once
    "row_only": [
        ({
            "id": "schemas/m1",
            "table": "transcripts",
            "rules": [
                {"kind": "enum", "column": "role", "values": ["system", "user", "assistant", "tool"]},
                {"kind": "required", "column": "text"},
            ],
        }, {}),
        ({
            "id": "schemas/m2",
            "table": "transcripts",
            "rules": [
                {"kind": "range", "column": "turn_idx", "minimum": 1},
                {"kind": "pattern", "column": "conv_id", "pattern": "^conv-"},
            ],
        }, {}),
    ],
    # table-grain rules (unique fused into the ordering window, referential
    # against a ref table, contiguous), strict mode, and a HOST engine whose
    # instance column differs from the PARTITION engine's
    "table_grain": [
        ({
            "id": "schemas/m3",
            "table": "transcripts",
            "rules": [
                {"kind": "enum", "column": "role", "values": ["system", "user", "assistant", "tool"]},
                {"kind": "unique", "columns": ["conv_id", "turn_idx"]},
                {"kind": "ordering", "column": "ts", "partition_by": ["conv_id"],
                 "order_by": ["turn_idx"], "strictly": True},
                {"kind": "referential", "columns": ["conv_id"], "ref_table": "convs",
                 "ref_columns": ["conv_id"]},
            ],
        }, {}),
        ({
            "id": "schemas/m4",
            "table": "transcripts",
            "strict": True,
            "columns": ["conv_id", "turn_idx", "role", "text", "ts"],
            "rules": [
                {"kind": "range", "column": "turn_idx", "minimum": 1},
                {"kind": "contiguous", "column": "turn_idx", "partition_by": ["conv_id"]},
            ],
        }, {"instance_expr": "conv_id", "instance_type": "HOST"}),
    ],
}


@pytest.mark.parametrize("pair", sorted(_FUSED_PAIRS))
def test_validate_many_fused_one_scan(spark, data, pair):
    """Multi-manifest fusion (engine.validate_many): violations and verdicts
    equal the per-engine union EXACTLY, and for row-rule-only manifests the
    fused violations plan reads the input ONCE — the per-engine path costs
    one full scan per manifest, which at 100 TB with M bound manifests is
    M-1 scans of pure waste for row-local work."""
    import io
    from contextlib import redirect_stdout

    from schema_enforcer_spark.engine import ValidationEngine, validate_many
    from schema_enforcer_spark.manifest import manifest_from_dict

    df = spark.read.parquet(data["bad"])
    ref_tables = {}
    if pair == "table_grain":
        # a duplicated key, a disordered ts and orphan conversations make
        # every table-grain rule fire
        df = inject(inject(df, "dup_turn"), "disordered")
        ref_tables = {"convs": spark.read.parquet(data["convs"]).filter("conv_id < 'conv-00000012'")}
    engines = [ValidationEngine(manifest_from_dict(m), **kw) for m, kw in _FUSED_PAIRS[pair]]
    fused = validate_many(engines, df, ref_tables, cache_violations=False)

    def vkey(rows):
        return sorted(
            (r["schema_id"], r["result"], r["instance_name"], r["instance_location"],
             r["instance_type"], tuple(r["absolute_path"]), r["failing_value"], r["message"])
            for r in rows
        )

    per_v = [e.violations(df, ref_tables) for e in engines]
    per_d = [e.verdicts(df, v) for e, v in zip(engines, per_v)]
    assert fused.violations.columns == per_v[0].columns
    assert vkey(fused.violations.collect()) == vkey(
        [r for v in per_v for r in v.collect()]
    )
    assert sorted(map(tuple, fused.verdicts.collect())) == sorted(
        tuple(r) for d in per_d for r in d.collect()
    )
    # both manifests contribute, and every verdict result occurs
    for m, _ in _FUSED_PAIRS[pair]:
        assert fused.violations.filter(f"schema_id like '{m['id']}/%'").count() > 0
    assert {r["result"] for r in fused.verdicts.collect()} == {"PASS", "FAIL"}
    if pair == "table_grain":
        kinds = {r["schema_id"].split("/")[2] for r in fused.violations.collect()}
        assert kinds == {"enum", "unique", "ordering", "referential", "range", "contiguous", "strict_columns"}
        assert {r["instance_type"] for r in fused.violations.collect()} == {"PARTITION", "HOST", "TABLE"}
        return

    # the one-scan claim, on the plan itself
    import re

    def n_scans(frame):
        buf = io.StringIO()
        with redirect_stdout(buf):
            frame.explain("formatted")
        # count detail entries "(N) Scan parquet" — the tree summary repeats
        # the operator name, so a raw substring count double-counts
        return len(re.findall(r"\(\d+\) Scan parquet", buf.getvalue()))

    assert n_scans(fused.violations) == 1
    # per-engine union reads it twice
    from functools import reduce

    union = reduce(lambda a, b: a.unionByName(b), per_v)
    assert n_scans(union) == 2


def test_cli_quarantine_rejects_sample_fraction(spark, data, capsys):
    """--quarantine promises a COMPLETE row-grain split; combined with
    --sample-fraction it would silently write only the sampled subset."""
    rc = main(["--manifest", MANIFEST, "--input", data["clean"],
               "--quarantine", data["root"] + "/q_reject", "--sample-fraction", "0.5"])
    assert rc == 2
    assert "--sample-fraction" in capsys.readouterr().err
    assert not os.path.exists(data["root"] + "/q_reject")


def test_cli_sample_fraction_keeps_null_key_rows(spark, data, tmp_path, capsys):
    """NULL first-key rows must stay sampleable: md5(NULL) is NULL, so an
    uncoalesced split_bucket silently excludes exactly the rows violating a
    required rule on the key column — at fraction 1.0 the sample must be
    the whole input, nulls included."""
    from pyspark.sql import functions as F

    nulled = str(tmp_path / "null_key")
    base = spark.read.parquet(data["bad"])
    base.withColumn(
        "conv_id", F.when(F.col("turn_idx") == 0, None).otherwise(F.col("conv_id"))
    ).write.parquet(nulled)
    rc = main(["--manifest", MANIFEST, "--input", nulled, "--sample-fraction", "1.0"])
    out = capsys.readouterr().out
    assert rc == 1
    # the required-rule violation ON the key column itself was sampled
    assert "None is not of type 'string'" in out or "required" in out or "conv_id" in out


def test_cli_profile(spark, data, capsys):
    rc = main(["--profile", "--input", data["clean"]])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Column" in out and "~distinct" in out
    # transcripts columns profiled with their types and detail columns
    assert "conv_id" in out and "turn_idx" in out
    assert "enum['assistant'" in out or "enum[" in out  # role enum candidates
    # with FD discovery: the section prints either way
    rc_fd = main(["--profile", "--input", data["clean"], "--infer-fds"])
    assert rc_fd == 0
    assert "functional dependencies" in capsys.readouterr().out
    # no input -> usage error
    rc2 = main(["--profile"])
    assert rc2 == 2
    assert "requires --input" in capsys.readouterr().err
