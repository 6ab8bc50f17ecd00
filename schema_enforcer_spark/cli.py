"""spark-submit entry point.

Packaging (north_rule: ``spark-submit --py-files`` on a multi-executor
cluster)::

    zip -qr sev.zip schema_enforcer_spark
    spark-submit --py-files sev.zip schema_enforcer_spark/cli.py \
        --manifest manifests/transcripts_base.yml \
        --input /data/transcripts \
        --output /data/validation_results \
        --checkpoint /data/validation_lineage \
        --ref-table conversations=/data/conversations

Behavior mirrors the reference CLI's ``validate`` command (cli.py:49-107):
load → validate → print → exit — validate everything the manifest binds,
print FAIL lines + a green summary, exit 1 iff any violation exists. Adds:
resumable checkpoint skip and violations/verdicts written to parquet sinks.

``main`` checks the arguments against one flag table (:data:`FLAG_TABLE`,
exit 2 before any Spark session starts), picks a mode function
(:func:`mode_of`) and returns what the mode returns. The validate mode is
a sequence of phases: load manifests → read input → pending (resume) →
validate → sinks → stats → record → print and exit.
"""

from __future__ import annotations

import argparse
import os
import sys


# Spark/Hive partition-path escaping (ExternalCatalogUtils.escapePathName):
# these characters are %-hex-escaped in partition DIRECTORY names, and a null
# partition value becomes the Hive default sentinel. Deleting a partition dir
# by its raw value would miss any escaped name.
_HIVE_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(0x20)}
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
# Hadoop GlobPattern's metacharacters
_GLOB_CHARS = set("\\{}[]*?,^-!")


def escape_partition_value(value: str | None) -> str:
    if value is None or value == "":
        return _HIVE_DEFAULT_PARTITION
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPE_CHARS else c for c in value)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="schema-enforcer-spark")
    p.add_argument(
        "--manifest",
        default=None,
        help="YAML/JSON constraint manifest, or a DIRECTORY of manifests — "
        "a directory automaps every manifest against the input's columns "
        "and validates each one that binds (the reference `validate` "
        "command's all-schemas semantics, cli.py:75-96). Required for "
        "every mode except --infer-manifest",
    )
    p.add_argument(
        "--diff-manifests",
        nargs=2,
        default=None,
        metavar=("OLD", "NEW"),
        help="diff two manifest versions and classify every change as "
        "RELAXED / TIGHTENED / CHANGED; exit 0 when the new version is "
        "backward-compatible (only relaxations — all data valid under OLD "
        "stays valid), 1 otherwise. Driver-side only, no Spark session",
    )
    p.add_argument(
        "--infer-manifest",
        default=None,
        metavar="OUT.yml",
        help="profile --input (two jobs: one full scan + one candidate "
        "pass) and write a DRAFT constraint manifest — type/required/"
        "enum/range/length rules plus unique key candidates — then exit. "
        "The draft encodes the strictest constraints the data already "
        "satisfies; edit before enforcing",
    )
    p.add_argument("--infer-id", default="schemas/inferred", help="manifest id for --infer-manifest")
    p.add_argument(
        "--infer-enum-max",
        type=int,
        default=16,
        help="--infer-manifest: max distinct values for an enum rule",
    )
    p.add_argument(
        "--infer-fds",
        action="store_true",
        help="--infer-manifest: also discover single-column functional "
        "dependencies (two extra jobs, quadratic HLL sketch count in the "
        "column count — intended for manifest-width tables)",
    )
    p.add_argument(
        "--profile",
        action="store_true",
        help="print the two-job column profile of --input (rows, nulls, "
        "~distinct, type, min/max or length bounds, detected format, enum "
        "candidates) and exit — the inspection half of --infer-manifest, "
        "no manifest needed",
    )
    p.add_argument("--input", default=None, help="input parquet path (not needed with --selftest/--generate-invalid)")
    p.add_argument(
        "--inventory",
        default=None,
        metavar="DIR",
        help="Ansible inventory directory as the input: hosts' merged+"
        "rendered vars become the rows, validated as [HOST] instances "
        "(the reference `ansible` command, cli.py:227-265)",
    )
    p.add_argument(
        "--limit",
        default=None,
        metavar="HOST",
        help="with --inventory: restrict validation to one host "
        "(reference ansible --limit)",
    )
    p.add_argument(
        "--automap",
        action="store_true",
        help="with --inventory: bind manifests to hosts PER HOST by "
        "intersecting each host's (non-null) vars with every manifest's "
        "columns — --manifest may be a directory; hosts with none of a "
        "manifest's properties are skipped for it (the reference ansible "
        "automap, ansible_inventory.py:107-141)",
    )
    p.add_argument("--output", default=None, help="results root; writes <output>/violations and <output>/verdicts")
    p.add_argument(
        "--quarantine",
        default=None,
        metavar="DIR",
        help="one-pass row-grain split of the input: rows failing any ROW "
        "rule land under DIR/row_valid=false, clean rows under "
        "DIR/row_valid=true (single scan, zero shuffle — partitionBy on "
        "the validity flag). Table-grain rules (unique/referential/window/"
        "aggregate) don't mark individual rows here; their violations go "
        "to --output as usual",
    )
    p.add_argument(
        "--max-violations-per-rule",
        type=int,
        default=None,
        metavar="N",
        help="cap the violations SINK at N rows per (rule, instance) — a "
        "systematically-broken rule over 10^12 rows would otherwise write "
        "a violations table LARGER than the input. Verdicts, rule "
        "summaries, and the exit code keep exact counts; only the "
        "persisted violation rows are sampled (deterministically: first N "
        "by path+message within each rule x instance)",
    )
    p.add_argument("--checkpoint", default=None, help="lineage dir for resumable runs")
    p.add_argument("--ref-table", action="append", default=[], metavar="NAME=PATH", help="referential-rule reference tables")
    p.add_argument("--key-columns", default="conv_id,turn_idx")
    p.add_argument("--instance-expr", default=None)
    p.add_argument("--show-failures", type=int, default=20, help="max FAIL lines printed")
    p.add_argument(
        "--show-pass",
        action="store_true",
        help="also print PASS lines for passing instances "
        "(mirror of the reference's --show-pass, cli.py:28, printed at :101)",
    )
    p.add_argument(
        "--summary",
        action="store_true",
        help="print a per-rule summary (schema_id, violations, instances) after the FAIL lines",
    )
    p.add_argument(
        "--strict",
        action="store_true",
        help="force strict column checking even when the manifest doesn't "
        "set strict: true — undeclared input columns become violations "
        "(mirror of the reference's validate --strict, cli.py:34-41, which "
        "injects additionalProperties: false)",
    )
    p.add_argument("--master", default=None, help="override spark master (default: from spark-submit)")
    p.add_argument(
        "--show-checks",
        action="store_true",
        help="print which manifests bind to the input's columns and exit "
        "(mirror of the reference's --show-checks, cli.py:86-88)",
    )
    p.add_argument(
        "--write-baseline",
        action="store_true",
        help="compute and persist the drift-rule baseline histograms from "
        "--input to <checkpoint>/_drift_baselines.json, then exit "
        "(requires --checkpoint)",
    )
    p.add_argument(
        "--baseline",
        action="store_true",
        help="load stored drift baselines from <checkpoint>/"
        "_drift_baselines.json for drift rules without inline baselines",
    )
    p.add_argument(
        "--sample-fraction",
        type=float,
        default=None,
        metavar="F",
        help="audit mode: validate a deterministic sample of GROUPS — keep "
        "a row iff the md5 bucket of its first key column (e.g. whole "
        "conversations for conv_id,turn_idx) falls below F. Group grain "
        "keeps ordering/contiguity/uniqueness rules meaningful inside "
        "every sampled unit; same rows every run/engine for a given seed. "
        "Incompatible with --checkpoint: a sampled run must never mark a "
        "partition as validated",
    )
    p.add_argument(
        "--sample-seed",
        type=int,
        default=42,
        help="seed folded into the --sample-fraction md5 bucket",
    )
    p.add_argument(
        "--stats-columns",
        default=None,
        metavar="COL[,COL...]",
        help="with --checkpoint: persist per-partition column stats (HLL "
        "distinct sketches + null/row counts + min/max) for the partitions "
        "this run validates under <checkpoint>/_column_stats, then print "
        "TABLE-level stats merged across ALL runs — resumed runs never "
        "rescan validated partitions (sketches merge via hll_union_agg)",
    )
    p.add_argument(
        "--list-manifests",
        action="store_true",
        help="list the manifest(s) at --manifest (file or directory) and exit "
        "— the `schema --list` analogue (reference cli.py:111, "
        "manager.py print_schemas_list)",
    )
    p.add_argument(
        "--dump-manifest",
        action="store_true",
        help="print the include-resolved manifest(s) as JSON and exit; with "
        "--input, also print each compiled rule id + its SQL predicate "
        "— the `schema --dump` analogue (reference cli.py:120, "
        "manager.py dump_schema)",
    )
    p.add_argument(
        "--selftest",
        metavar="CORPUS_DIR",
        default=None,
        help="run the manifest's golden corpus (valid/ + invalid/) and exit — "
        "the `schema --check` analogue (manager.py:128-256)",
    )
    p.add_argument(
        "--generate-invalid",
        metavar="CORPUS_DIR",
        default=None,
        help="write results.json goldens for every invalid corpus case — "
        "the `schema --generate-invalid` analogue (manager.py:258-287)",
    )
    return p.parse_args(argv)


class _Exit(Exception):
    """Ends a mode early with an exit code (see :func:`_fail`)."""

    def __init__(self, code: int):
        super().__init__(code)
        self.code = code


def _fail(code: int, message: str):
    print(f"ERROR | {message}", file=sys.stderr)
    raise _Exit(code)


def _manifest_paths(path: str) -> list[str]:
    """All manifest files under a directory (sorted), or the single resolved
    file — the SchemaManager search-path analogue (reference
    schemas/manager.py:36-60 loads every schema under a directory tree)."""
    import glob

    from schema_enforcer_spark.manifest import find_manifest_file

    if os.path.isdir(path):
        return sorted(
            p
            for ext in ("yml", "yaml", "json")
            for p in glob.glob(os.path.join(path, "**", f"*.{ext}"), recursive=True)
        )
    return [find_manifest_file(path)]


def _load_manifests(path: str) -> list:
    """(file, manifest) for the manifest at *path*, or for every manifest
    under a directory. An invalid one prints its errors and exits 1 before
    any Spark job, like the reference's InvalidJSONSchema exit
    (cli.py:66-68)."""
    from schema_enforcer_spark.manifest import InvalidManifest, load_manifest

    loaded = []
    for p in _manifest_paths(path):
        try:
            loaded.append((p, load_manifest(p)))
        except InvalidManifest as e:
            for err in e.errors:
                print(f"ERROR | invalid manifest | {p}: {err}", file=sys.stderr)
            raise _Exit(1) from None
    if not loaded:
        _fail(1, f"no manifests under {path}")
    return loaded


def _session(args, name: str):
    """The SparkSession of one CLI mode, named ``schema-enforcer-spark:<name>``,
    on ``--master`` when given (else the spark-submit master)."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(f"schema-enforcer-spark:{name}")
    if args.master:
        builder = builder.master(args.master)
    return builder.getOrCreate()


def _read_input(spark, args):
    """The input table: the --inventory hosts' merged vars (one row per
    host, keyed by ``host``), else the --input parquet."""
    if args.inventory:
        from schema_enforcer_spark.sources.defaults import load_inventory

        return load_inventory(spark, args.inventory, key="host")
    return spark.read.parquet(args.input)


def _engine_kw(args) -> dict:
    """ValidationEngine keyword args. With --inventory the hosts are the
    instances: HOST grain, host-keyed paths (the reference ansible command
    prints [HOST] lines, cli.py:227-265)."""
    if args.inventory:
        return dict(key_columns=["host"], instance_expr=args.instance_expr or "host", instance_type="HOST")
    return dict(key_columns=[c for c in args.key_columns.split(",") if c], instance_expr=args.instance_expr)


def _print_report(report, args, verdicts: list) -> None:
    """Print a report's FAIL lines, and its PASS lines with --show-pass, in
    the format of the reference's ValidationResult.print
    (validation.py:53-91), at most --show-failures of each. *verdicts* are
    the report's collected verdict rows. The FAIL lines are ordered on
    every field they print, so which ones a run prints is reproducible."""
    from pyspark.sql import functions as F

    # one struct key (fields compare in order, NULLs first, as separate
    # ascending keys would): each extra sort column costs py4j round trips
    failures = report.violations.orderBy(
        F.expr("struct(message, instance_type, instance_location, instance_name, absolute_path)")
    ).limit(args.show_failures).collect()
    for v in failures:
        # a NULL key column yields a NULL path element (cast preserves it);
        # print it as 'None' (py_repr parity) instead of crashing the join
        prop = ":".join(p if p is not None else "None" for p in (v["absolute_path"] or []))
        if v["instance_type"] == "HOST":
            # reference print_failed HOST form (validation.py:68): no
            # location prefix, just the hostname
            print(f"FAIL | [ERROR] {v['message']} [HOST] {v['instance_name']} [PROPERTY] {prop}")
        else:
            print(f"FAIL | [ERROR] {v['message']} [{v['instance_type']}] {v['instance_location']}/{v['instance_name']} [PROPERTY] {prop}")
    if args.show_pass:
        # reference print_passed (validation.py:82-91): PASS | [TYPE] name
        # [SCHEMA ID] id, ordered by (schema_id, instance_name) with a NULL
        # name first, capped like the FAIL lines
        passed = sorted(
            (p for p in verdicts if p["result"] == "PASS"),
            key=lambda p: (p["schema_id"], p["instance_name"] is not None, p["instance_name"] or ""),
        )
        for p in passed[: args.show_failures]:
            # verdicts carry their own grain (TABLE for the synthetic
            # table-grain row, HOST/PARTITION for data rows) — no name
            # matching, so a host literally named 'table' labels correctly
            print(f"PASS | [{p['grain']}] {p['instance_name']} [SCHEMA ID] {p['schema_id']}")


def _print_merged_stats(spark, checkpoint: str) -> None:
    """The table-level stats merged from every run's sketches in the
    checkpoint's stats store: zero data rescans."""
    from schema_enforcer_spark.stats import merged_column_stats, stats_store_path

    # one row per stats column: sorted on the driver, as a Spark sort would
    # cost its own jobs
    merged = merged_column_stats(spark, stats_store_path(checkpoint)).collect()
    print(f"{'Column':<24} {'~distinct':>10} {'nulls':>10} {'rows':>12} {'parts':>6}  min..max")
    print("-" * 92)
    for r in sorted(merged, key=lambda r: r["col_name"]):
        lo = r["min_numeric"] if r["min_numeric"] is not None else r["min_display"]
        hi = r["max_numeric"] if r["max_numeric"] is not None else r["max_display"]
        print(
            f"{r['col_name']:<24} {r['approx_distinct']:>10} {r['n_nulls']:>10} "
            f"{r['n_rows']:>12} {r['n_partitions']:>6}  {lo}..{hi}"
        )


def _schema_tools(args) -> int:
    """--list-manifests / --dump-manifest: pure driver-side manifest
    inspection (no Spark session unless --dump-manifest needs an --input
    schema to compile expressions against)."""
    import json

    loaded = _load_manifests(args.manifest)
    if args.list_manifests:
        # reference print_schemas_list shape: ID / Type / Location / Filename,
        # with the cwd shortened to "." (manager.py:88-107)
        cwd = os.getcwd()
        print(f"{'Schema ID':<40} {'Type':<10} {'Location':<30} Filename")
        print("-" * 100)
        for p, m in loaded:
            loc = os.path.dirname(os.path.abspath(p)).replace(cwd, ".")
            print(f"{m.id:<40} {'manifest':<10} {loc:<30} {os.path.basename(p)}")
        return 0

    # --dump-manifest: include-resolved normalized JSON (the reference dumps
    # schema data with $refs resolved, manager.py:109-124)
    for _, m in loaded:
        print(
            json.dumps(
                {
                    "id": m.id,
                    "table": m.table,
                    "columns": list(m.columns),
                    "strict": m.strict,
                    "applies_to": list(m.applies_to),
                    "rules": [{"kind": r.kind, **r.params} for r in m.rules],
                },
                indent=2,
                default=str,
            )
        )
    if args.input:
        # debugging aid: the SQL predicate each row rule compiled to against
        # the actual input schema (table rules print their kind/grain)
        from schema_enforcer_spark.compiler import compile_row_rules

        df = _read_input(_session(args, "dump"), args)
        print("\nCompiled rules:")
        for _, m in loaded:
            for cr in compile_row_rules(df, m):
                print(f"  {cr.rule_id}: {str(cr.predicate)}")
            for r in m.table_rules:
                print(f"  {m.id}/{r.kind}: table-grain rule {json.dumps(r.params, default=str)}")
    return 0


def _automap_main(args) -> int:
    """--inventory --automap: per-host manifest binding, the reference
    `ansible` command's automap mode (ansible_inventory.py:107-141 +
    cli.py:227-265). Each manifest validates only the hosts that carry at
    least one of its properties; FAIL/[HOST] PASS lines per manifest;
    exit 1 on any failure."""
    from schema_enforcer_spark.binding import ManifestRegistry
    from schema_enforcer_spark.engine import ValidationEngine

    reg = ManifestRegistry([m for _, m in _load_manifests(args.manifest)])
    df = _read_input(_session(args, "automap"), args)
    if args.limit:
        df = df.filter(df["host"] == args.limit)
    bound = reg.automap_hosts(df, key="host")
    if not bound:
        _fail(1, "no manifest binds to any host's vars")
    any_fail = False
    for m, sub in bound:
        eng = ValidationEngine(m, key_columns=["host"], instance_expr="host", instance_type="HOST")
        report = eng.validate(sub)
        verdicts = report.verdicts.collect()
        _print_report(report, args, verdicts)
        any_fail |= any(v["result"] == "FAIL" for v in verdicts)
        report.unpersist()
    if any_fail:
        return 1
    print("ALL SCHEMA VALIDATION CHECKS PASSED")
    return 0


def _infer_main(args) -> int:
    from schema_enforcer_spark.infer import write_inferred_manifest

    df = _read_input(_session(args, "infer"), args)
    draft = write_inferred_manifest(
        df, args.infer_id, args.infer_manifest,
        enum_max=args.infer_enum_max, fds=args.infer_fds,
    )
    kinds: dict[str, int] = {}
    for r in draft["rules"]:
        kinds[r["kind"]] = kinds.get(r["kind"], 0) + 1
    summary = ", ".join(f"{k}×{n}" for k, n in sorted(kinds.items()))
    print(f"inferred {len(draft['rules'])} rules over {len(df.columns)} columns ({summary})")
    print(f"draft manifest written to {args.infer_manifest} — review before enforcing")
    return 0


def _diff_main(args) -> int:
    from schema_enforcer_spark.evolution import compatible, diff_manifests
    from schema_enforcer_spark.manifest import load_manifest

    old_path, new_path = args.diff_manifests
    old, new = load_manifest(old_path), load_manifest(new_path)
    changes = diff_manifests(old, new)
    for c in changes:
        print(c.line())
    ok = compatible(old, new)
    n_breaking = sum(1 for c in changes if c.effect != "relaxed")
    print(
        f"{len(changes)} change(s), {n_breaking} breaking — "
        + ("backward-compatible" if ok else "NOT backward-compatible")
        + f" ({old.id} -> {new.id})"
    )
    return 0 if ok else 1


def _profile_main(args) -> int:
    from schema_enforcer_spark.infer import profile_for_inference

    df = _read_input(_session(args, "profile"), args)
    prof = profile_for_inference(df, enum_max=args.infer_enum_max)
    print(f"{'Column':<24} {'type':<10} {'rows':>10} {'nulls':>8} {'~distinct':>10}  detail")
    print("-" * 92)
    for c, p in prof.items():
        if p["jtype"] in ("integer", "number") and p["min"] is not None:
            detail = f"min={p['min']} max={p['max']}"
        elif p["jtype"] == "string" and p["format"]:
            detail = f"format={p['format']}"
        elif p["jtype"] == "string" and p["len_min"] is not None:
            detail = f"len {p['len_min']}..{p['len_max']}"
        else:
            detail = ""
        if p["enum_values"] is not None:
            vals = ", ".join(map(repr, p["enum_values"][:6]))
            more = "" if len(p["enum_values"]) <= 6 else f", +{len(p['enum_values']) - 6}"
            detail = (detail + f"  enum[{vals}{more}]").strip()
        print(
            f"{c:<24} {p['jtype'] or '-':<10} {p['n_rows']:>10} {p['n_nulls']:>8} "
            f"{p['approx_distinct']:>10}  {detail}"
        )
    if args.infer_fds:
        from schema_enforcer_spark.infer import infer_fds

        fds = infer_fds(df, max_determinant=2)
        if fds:
            print("\nfunctional dependencies (exact-confirmed, minimal):")
            for det, dep in fds:
                print(f"  ({', '.join(det)}) -> {dep}")
        else:
            print("\nno functional dependencies found")
    return 0


# -- the modes that read data: load manifests → session → read input -------


def _data_manifests(args) -> list:
    """The manifests of a data mode (the --manifest file, or every manifest
    under a --manifest DIR), made strict under --strict."""
    manifests = [m for _, m in _load_manifests(args.manifest)]
    return _strict(args, manifests) if args.strict else manifests


def _strict(args, manifests: list) -> list:
    """The reference's --strict rewrites every schema with
    additionalProperties: false (validation.py via cli.py:34-41); here the
    declared column set plays that role, so strict without one would
    silently check nothing — fail loudly (single manifest) or warn and skip
    (dir mode, where sibling manifests may still apply)."""
    import dataclasses

    no_columns = [m.id for m in manifests if not m.strict and not m.columns]
    if no_columns and not os.path.isdir(args.manifest):
        _fail(1, "--strict needs the manifest to declare 'columns' (the additionalProperties universe)")
    if len(no_columns) == len(manifests) and all(not m.strict for m in manifests):
        _fail(1, "--strict: no manifest declares 'columns' (the additionalProperties universe)")
    for mid in no_columns:
        print(f"WARN | --strict skipped for {mid} (no 'columns' declared)", file=sys.stderr)

    def strict(m):
        if m.strict or not m.columns:
            return m
        # with --inventory the loader injects the 'host' key column — it's
        # part of the engine's plumbing, not an undeclared user var
        cols = (*m.columns, "host") if args.inventory and "host" not in m.columns else m.columns
        return dataclasses.replace(m, strict=True, columns=cols)

    return [strict(m) for m in manifests]


def _open_data(args) -> tuple:
    """(manifests, session, input) of a data mode. An --inventory input
    prints its host count, and a --limit that matches no host exits 2 (the
    reference ansible --limit errors on an unmatched host pattern) — it must
    not green-light a host that was never checked."""
    manifests = _data_manifests(args)
    spark = _session(args, manifests[0].id)
    df = _read_input(spark, args)
    if args.inventory:
        print(f"Found {df.count()} hosts in the inventory")
        if args.limit:
            df = df.filter(df["host"] == args.limit)
            if df.count() == 0:
                _fail(2, f"--limit {args.limit!r} matches no host in the inventory")
    return manifests, spark, df


def _selftest_main(args) -> int:
    """--selftest / --generate-invalid: the manifest's golden corpus, the
    `schema --check` / `--generate-invalid` analogues (manager.py:128-287)."""
    from schema_enforcer_spark.engine import ValidationEngine
    from schema_enforcer_spark.selftest import generate_invalid, test_manifest

    manifest = _data_manifests(args)[0]
    spark = _session(args, manifest.id)
    eng = ValidationEngine(manifest, **_engine_kw(args))
    if args.generate_invalid:
        written = generate_invalid(spark, eng, args.generate_invalid)
        print(f"wrote {len(written)} golden file(s)")
        return 0
    res = test_manifest(spark, eng, args.selftest)
    for case in res.passed:
        print(f"PASS | {case} [{manifest.id}]")
    for case, reason in res.failed:
        print(f"FAIL | {case} [{manifest.id}] {reason}")
    return 0 if res.ok else 1


def _show_checks_main(args) -> int:
    """--show-checks: which manifests bind to the input's columns (the
    reference's --show-checks, cli.py:86-88)."""
    from schema_enforcer_spark.binding import ManifestRegistry

    manifests, _, df = _open_data(args)
    bound = ManifestRegistry(manifests).automap(df.columns)
    print(f"{'Instance':<40} Schema ID")
    print("-" * 80)
    print(f"{args.inventory or args.input:<40} {[m.id for m in bound]}")
    return 0


def _write_baseline_main(args) -> int:
    """--write-baseline: store the drift rules' baseline histograms of the
    input under the checkpoint dir."""
    from schema_enforcer_spark.stats import baseline_store_path, write_drift_baselines

    manifests, spark, df = _open_data(args)
    store = baseline_store_path(args.checkpoint)
    written = write_drift_baselines(spark, df, manifests[0], store)
    print(f"wrote {len(written)} drift baseline(s) to {store}")
    return 0


# -- the validate mode's phases ----------------------------------------------


def _validate_main(args) -> int:
    """Validate the input against the manifest(s); exit 1 iff any
    violation."""
    manifests, spark, df = _open_data(args)
    df, ref_tables = _prepare_input(spark, args, df)
    engines = _engines(spark, args, manifests, df)
    if args.quarantine:
        _quarantine(spark, args, df, engines)
    cm, report, verdicts = _validate(spark, args, df, engines, ref_tables)
    _write_sinks(spark, args, report, verdicts)
    if args.stats_columns:
        _write_stats(spark, args, cm)
    if cm is not None:
        # the verdict collect materialized the report, so lineage never
        # claims unfinished work; row counts come from the PENDING subset
        # run() already counted
        cm.record(cm.last_pending, engines[0], report, cm.last_counts, verdicts)
    return _print_and_exit(args, report, verdicts, engines)


def _prepare_input(spark, args, df) -> tuple:
    """Check the --stats-columns names against the input (before any
    validation, so a bad name leaves no sink and no lineage), read the
    --ref-table tables, and apply --sample-fraction. Returns (input,
    ref tables)."""
    if args.stats_columns:
        columns = set(df.columns)
        missing = [c for c in args.stats_columns.split(",") if c and c not in columns]
        if missing:
            _fail(2, f"--stats-columns not in the input: {missing}")
    ref_tables = {}
    for spec in args.ref_table:
        name, _, path = spec.partition("=")
        ref_tables[name] = spark.read.parquet(path)
    if args.sample_fraction is None:
        return df, ref_tables
    from pyspark.sql import functions as F

    from schema_enforcer_spark.functions.sampling import split_bucket

    # sample at the GROUP grain (first key column): row-grain sampling
    # would puncture turn_idx sequences and misfire every ordering/
    # contiguity/uniqueness rule on perfectly clean data
    unit = _engine_kw(args)["key_columns"][0]
    # coalesce NULL keys to a sentinel group: split_bucket(NULL) is NULL
    # (md5 of NULL), and a NULL comparison filters the row out — rows
    # violating a required rule ON the key column would otherwise be
    # unsampleable even at fraction 1.0
    df = df.filter(
        split_bucket(F.coalesce(F.col(unit).cast("string"), F.lit("\x00NULL")), args.sample_seed)
        < int(round(args.sample_fraction * 10000))
    )
    print(
        f"sampled validation: fraction={args.sample_fraction} seed={args.sample_seed} "
        f"(deterministic md5 buckets over {unit} groups)"
    )
    return df, ref_tables


def _engines(spark, args, manifests: list, df) -> list:
    """One ValidationEngine per manifest to validate: the --manifest file,
    or each manifest under a --manifest DIR that shares a column with the
    input. --baseline loads the stored drift baselines into each."""
    from schema_enforcer_spark.binding import ManifestRegistry
    from schema_enforcer_spark.engine import ValidationEngine

    eng_kw = _engine_kw(args)
    if args.baseline:
        from schema_enforcer_spark.stats import baseline_store_path, load_drift_baselines

        eng_kw["drift_baselines"] = load_drift_baselines(spark, baseline_store_path(args.checkpoint))
    if not os.path.isdir(args.manifest):
        return [ValidationEngine(manifests[0], **eng_kw)]
    bound = ManifestRegistry(manifests).automap(df.columns)
    bound_ids = {b.id for b in bound}
    for m in manifests:
        if m.id not in bound_ids:
            print(f"WARN | manifest {m.id} shares no columns with the input — skipped")
    if not bound:
        _fail(2, "no manifest binds to the input's columns")
    print(f"validating against {len(bound)} manifest(s): {sorted(bound_ids)}")
    return [ValidationEngine(m, **eng_kw) for m in bound]


def _quarantine(spark, args, df, engines: list) -> None:
    """Row-grain quarantine: ONE scan of the full input, the validity flag
    is a codegen expression (row_fail_count == 0), and partitionBy splits
    the write — no shuffle, no second pass, no driver data. At 100 TB this
    is the same cost as a copy of the table. The flag column is 'row_valid'
    (NOT '_row_valid': Spark's file index skips underscore-prefixed paths,
    so partition dirs named _row_valid=... would be invisible to
    spark.read)."""
    from pyspark.sql import functions as F

    if "row_valid" in df.columns:
        _fail(2, "--quarantine needs the column name 'row_valid' but the input already has one")
    qroot = args.quarantine.rstrip("/")
    # multi-manifest: a row is quarantined iff it fails ANY bound
    # manifest's row rules — still one codegen expression, one pass
    total_fails = engines[0].row_fail_count(df)
    for e2 in engines[1:]:
        total_fails = total_fails + e2.row_fail_count(df)
    df.withColumn("row_valid", total_fails == F.lit(0)).write.mode("overwrite").partitionBy("row_valid").parquet(qroot)
    # count via the written files' footers (partition column + count =
    # metadata-only aggregate, no data columns re-read). Partition-dir
    # values read back as STRINGS (partition type inference covers
    # numerics/dates, not booleans) — cast, or the True/False lookups
    # below silently print 0
    q_counts = {
        r["rv"]: r["n"]
        for r in spark.read.parquet(qroot)
        .groupBy(F.col("row_valid").cast("boolean").alias("rv"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    print(f"quarantine: {q_counts.get(True, 0)} valid row(s) -> {qroot}/row_valid=true")
    print(f"quarantine: {q_counts.get(False, 0)} violating row(s) -> {qroot}/row_valid=false")


def _validate(spark, args, df, engines: list, ref_tables: dict) -> tuple:
    """Validate the input — under --checkpoint only its pending partitions
    — and collect the verdict rows, one per instance and manifest: the ONE
    action that fills the persisted report. The sink deletes, the verdict
    sink, the PASS lines, the lineage rows and the exit code all read them.
    Returns (checkpoint manager or None, report, verdict rows); exits 0
    when a resume finds nothing pending."""
    from schema_enforcer_spark.checkpoint import CheckpointManager
    from schema_enforcer_spark.engine import validate_many

    cm = None
    if args.checkpoint:
        cm = CheckpointManager(spark, args.checkpoint)
        # defer_record: lineage is appended only AFTER the --output writes
        # succeed — recording first would mark partitions complete whose
        # violation rows never landed (permanently absent from the output)
        cols = [c for c in (args.stats_columns or "").split(",") if c]
        report, n_pending = cm.run(df, engines[0], ref_tables, defer_record=True, stats_columns=cols)
        if report is None:
            # sound because only PASS verdicts complete a partition: FAILed
            # partitions always re-validate, so nothing-pending ⇒ all PASS
            print(f"ALL PARTITIONS ALREADY VALIDATED (PASS) [{engines[0].manifest.id}] — nothing pending")
            if args.stats_columns:
                # stats for every partition are already in the store — the
                # merged view costs one read of the sketch rows, zero data
                _print_merged_stats(spark, args.checkpoint)
            raise _Exit(0)
        print(f"validated {n_pending} pending rows")
    else:
        # ONE scan for every bound manifest's row rules; verdict rows carry
        # schema_id, so per-manifest results stay separable
        report = validate_many(engines, df, ref_tables)
    return cm, report, report.verdicts.collect()


def _write_sinks(spark, args, report, verdicts: list) -> None:
    """--output: the violations (capped per rule and instance under
    --max-violations-per-rule) and the collected verdicts, as parquet
    under <output>/violations and <output>/verdicts."""
    if not args.output:
        return
    # the SINK view of violations: optionally capped per (rule, instance).
    # Verdicts/rule_summary/exit code keep reading the full persisted set —
    # counts stay exact; only what lands on disk is sampled.
    sink_violations = report.violations
    if args.max_violations_per_rule is not None:
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        w = Window.partitionBy("schema_id", "instance_name").orderBy("absolute_path", "message")
        sink_violations = (
            report.violations.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= args.max_violations_per_rule)
            .drop("_rn")
        )
    from schema_enforcer_spark.checkpoint import arrow_table

    root = args.output.rstrip("/")
    # from an Arrow table, not the list of Rows: a list is converted by
    # Python worker tasks (an 8-row sink write took 0.51 s from a list,
    # 0.24 s from Arrow, on a 4-core host)
    schema = report.verdicts.schema
    verdict_sink = spark.createDataFrame(arrow_table(verdicts, schema), schema)
    if not args.checkpoint:
        sink_violations.write.mode("overwrite").parquet(f"{root}/violations")
        verdict_sink.write.mode("overwrite").parquet(f"{root}/verdicts")
        return
    # a resumed run covers only the PENDING subset, and a FAILed partition
    # re-validates on EVERY resume — plain append would re-append its
    # identical rows each retry (double-counting), and dynamic partition
    # overwrite alone leaves stale violations when a partition goes
    # FAIL→(now-empty) PASS. So: REPLACE exactly this run's instance
    # partitions — delete their subdirs, then append partitioned by
    # instance_name.
    _delete_instance_dirs(spark, root, ("violations", "verdicts"), {v["instance_name"] for v in verdicts})
    sink_violations.write.mode("append").partitionBy("instance_name").parquet(f"{root}/violations")
    verdict_sink.write.mode("append").partitionBy("instance_name").parquet(f"{root}/verdicts")


def _delete_instance_dirs(spark, root: str, sinks: tuple, insts: set) -> None:
    """Delete the ``instance_name=`` partition directories of *insts* in
    each sink directory under *root*, of whatever filesystem, through the
    Hadoop FS API: one ``globStatus`` per sink over
    ``instance_name={<name>,...}``, then one delete per directory found, so
    the commands sent grow with the partitions already written, not with
    the partitions validated. The names are Hive escaped as Spark names the
    directories (deleting the RAW value would miss ':', '/', '%', ... and
    re-append duplicates on every resume), then glob escaped, as is the
    qualified *root*: escapePathName leaves ',' and '}' raw, and both are
    glob syntax inside the braces."""
    from schema_enforcer_spark.stats import _hadoop_paths

    if not insts:
        return
    names = ",".join(sorted({_glob_escape(escape_partition_value(i)) for i in insts}))
    fs, path = _hadoop_paths(spark, root)
    # the scheme and authority are never globbed, the path is
    uri = fs.makeQualified(path).toUri()
    scheme, authority, base = uri.getScheme(), uri.getAuthority(), _glob_escape(uri.getPath().rstrip("/"))
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    for sink in sinks:
        pattern = hadoop_path(scheme, authority, f"{base}/{sink}/instance_name={{{names}}}")
        for status in fs.globStatus(pattern) or []:
            fs.delete(status.getPath(), True)


def _glob_escape(name: str) -> str:
    """*name* with every Hadoop glob metacharacter backslash-escaped."""
    return "".join("\\" + c if c in _GLOB_CHARS else c for c in name)


def _write_stats(spark, args, cm) -> None:
    """--stats-columns: append the store rows of only what this run
    validated (earlier partitions' rows are already in the store — that's
    the incremental contract), then print the stats merged across every
    run. The rows come from run()'s per-instance count aggregate over the
    pending rows, so the append is one write of driver-held rows and
    rescans no input."""
    import time

    from schema_enforcer_spark.checkpoint import append_rows
    from schema_enforcer_spark.stats import STATS_SCHEMA_DDL, stats_store_path

    run_ns = time.time_ns()
    append_rows(spark, [(*r, run_ns) for r in cm.last_stats], STATS_SCHEMA_DDL, stats_store_path(args.checkpoint))
    _print_merged_stats(spark, args.checkpoint)


def _print_and_exit(args, report, verdicts: list, engines: list) -> int:
    """FAIL/PASS lines, the --summary table and the last line; releases the
    persisted report and returns 1 iff any violation."""
    _print_report(report, args, verdicts)
    if args.summary:
        print(f"{'Rule':<60} {'Violations':>10} {'Instances':>10}")
        print("-" * 82)
        for r in report.rule_summary().collect():
            print(f"{r['schema_id']:<60} {r['n_violations']:>10} {r['n_instances']:>10}")
    # every violation counts in exactly one verdict
    n = sum(v["n_violations"] for v in verdicts)
    # release the persisted report — a long-lived session (tests, notebooks)
    # calling main() repeatedly must not accumulate persisted DataFrames
    report.unpersist()
    ids = ", ".join(e.manifest.id for e in engines)
    if n:
        print(f"{n} violation(s) [{ids}]")
        return 1
    print(f"ALL SCHEMA VALIDATION CHECKS PASSED [{ids}]")
    return 0


def mode_of(args):
    """The mode function the arguments select: the first mode flag set, in
    this order, else the validate mode."""
    if args.diff_manifests:
        return _diff_main
    if args.profile:
        return _profile_main
    if args.infer_manifest:
        return _infer_main
    if args.list_manifests or args.dump_manifest:
        return _schema_tools
    if args.automap:
        return _automap_main
    if args.selftest or args.generate_invalid:
        return _selftest_main
    if args.show_checks:
        return _show_checks_main
    if args.write_baseline:
        return _write_baseline_main
    return _validate_main


# the modes that read --manifest, and those of them that read data through
# one session
_DATA_MODES = (_selftest_main, _show_checks_main, _write_baseline_main, _validate_main)
_MANIFEST_MODES = (_schema_tools, _automap_main, *_DATA_MODES)

# --automap validates and prints per host only: it writes no sink, keeps no
# checkpoint and has no summary, strict or sample form
_AUTOMAP_UNUSED = ("output", "checkpoint", "quarantine", "stats_columns", "summary", "strict", "sample_fraction")

# Every flag combination the CLI refuses, one row each: (the modes the row
# applies to, a condition on the parsed args, the error message, formatted
# with the args). main() checks the rows in order before any Spark session
# starts; the first row that holds prints its message and exits 2.
FLAG_TABLE = [
    (_MANIFEST_MODES, lambda a: not a.manifest, "--manifest is required"),
    ((_automap_main,), lambda a: not a.inventory, "--automap requires --inventory"),
    *[
        # `is not`: a --sample-fraction of 0 is set, though it equals False
        ((_automap_main,), lambda a, f=f: getattr(a, f) is not None and getattr(a, f) is not False,
         f"--automap does not support --{f.replace('_', '-')} (it prints per-host results only)")
        for f in _AUTOMAP_UNUSED
    ],
    # --manifest DIR = the reference's `validate` semantics: EVERY schema
    # runs against every data unit it automaps to (cli.py:75-96).
    # Incremental checkpointing, baselines, and the golden-corpus tools are
    # single-manifest concerns.
    (_DATA_MODES,
     lambda a: os.path.isdir(a.manifest)
     and bool(a.checkpoint or a.write_baseline or a.baseline or a.selftest or a.generate_invalid),
     "--manifest DIR (multi-manifest automap) cannot be combined with --checkpoint/--write-baseline/"
     "--baseline/--selftest/--generate-invalid — run those per manifest"),
    ((_profile_main,), lambda a: not a.input, "--profile requires --input"),
    ((_infer_main,), lambda a: not a.input, "--infer-manifest requires --input"),
    ((_show_checks_main, _write_baseline_main, _validate_main), lambda a: not (a.input or a.inventory),
     "--input is required"),
    ((_write_baseline_main, _validate_main), lambda a: (a.write_baseline or a.baseline) and not a.checkpoint,
     "--write-baseline/--baseline require --checkpoint (baselines live under the checkpoint dir)"),
    ((_validate_main,), lambda a: a.stats_columns and not a.checkpoint,
     "--stats-columns requires --checkpoint (the stats store lives under the checkpoint dir)"),
    ((_validate_main,), lambda a: a.sample_fraction is not None and not 0.0 < a.sample_fraction <= 1.0,
     "--sample-fraction must be in (0, 1], got {sample_fraction}"),
    # --quarantine's contract is a COMPLETE row-grain split of the input;
    # run on the sampled subset it would silently overwrite the quarantine
    # dirs with a (1-F)-incomplete copy
    ((_validate_main,), lambda a: a.sample_fraction is not None and a.quarantine,
     "--quarantine cannot be combined with --sample-fraction (the quarantine split must cover "
     "every input row, not an audit sample)"),
    # lineage from a sample would mark partitions PASS that were only
    # fractionally checked — permanently skipping real rows
    ((_validate_main,), lambda a: a.sample_fraction is not None and a.checkpoint,
     "--sample-fraction is an audit mode and cannot be combined with --checkpoint"),
    # a cap of 0 would read as unset and write every violation, a negative
    # one would write none
    ((_validate_main,), lambda a: a.max_violations_per_rule is not None and a.max_violations_per_rule < 1,
     "--max-violations-per-rule must be at least 1, got {max_violations_per_rule}"),
]


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    mode = mode_of(args)
    try:
        for modes, broken, message in FLAG_TABLE:
            if mode in modes and broken(args):
                _fail(2, message.format(**vars(args)))
        return mode(args)
    except _Exit as e:
        return e.code


if __name__ == "__main__":
    # direct `python schema_enforcer_spark/cli.py` puts the package dir (not
    # its parent) on sys.path; under spark-submit --py-files the zip already
    # provides the package
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
