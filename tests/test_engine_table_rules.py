"""Table-grain rule tests: uniqueness (U1), referential (J4), ordering +
contiguity (W1), aggregate thresholds (A1/A2), strict columns (P12),
manifest fail-fast."""

from __future__ import annotations

import os

import pytest

from schema_enforcer_spark.engine import ValidationEngine
from schema_enforcer_spark.manifest import InvalidManifest, Manifest, Rule, load_manifest
from schema_enforcer_spark.synth import INJECTION_KEYS, inject

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _m(rules, mid="schemas/t", **kw):
    return Manifest(id=mid, rules=tuple(Rule(kind=k, params=p) for k, p in rules), **kw)


def test_unique_rule(spark, transcripts):
    df = inject(transcripts, "dup_turn")
    m = _m([("unique", {"columns": ["conv_id", "turn_idx"]})])
    viols = ValidationEngine(m).violations(df).collect()
    (conv, turn), = INJECTION_KEYS["dup_turn"]
    assert len(viols) == 1
    v = viols[0]
    assert v["absolute_path"] == [conv, str(turn)]
    assert "appears 2 times" in v["message"]
    assert "(conv_id, turn_idx) must be unique" in v["message"]


def test_referential_rule(spark, transcripts, conversations):
    df = inject(transcripts, "orphan_conv")
    m = load_manifest(os.path.join(REPO, "manifests", "transcripts_referential.yml"))
    viols = ValidationEngine(m).violations(df, ref_tables={"conversations": conversations}).collect()
    assert len(viols) == 1
    assert viols[0]["failing_value"] == "conv-99999999"
    assert viols[0]["message"] == "'conv-99999999' is not present in conversations(conv_id)"
    # clean data: no orphans
    clean = ValidationEngine(m).violations(transcripts, ref_tables={"conversations": conversations})
    assert clean.count() == 0


def test_referential_normalize_keys(spark):
    """F1 parity: '-'↔'_' key normalization before the referential join
    (check_peers.py:44-51) — 'my-host' must match a reference key 'my_host'
    instead of silently reporting an orphan."""
    facts = spark.createDataFrame(
        [(1, "my-host"), (2, "other_host"), (3, "truly-missing")],
        "id long, host string",
    )
    ref = spark.createDataFrame([("my_host",), ("other-host",)], "hostname string")
    rules = [("referential", {
        "columns": ["host"], "ref_table": "hosts", "ref_columns": ["hostname"],
        "normalize_keys": True,
    })]
    m = _m(rules)
    eng = ValidationEngine(m, key_columns=["id"], instance_expr="'t'")
    viols = eng.violations(facts, ref_tables={"hosts": ref}).collect()
    assert [v["failing_value"] for v in viols] == ["truly_missing"]
    # without normalization all three are orphans
    m2 = _m([("referential", {"columns": ["host"], "ref_table": "hosts", "ref_columns": ["hostname"]})])
    eng2 = ValidationEngine(m2, key_columns=["id"], instance_expr="'t'")
    assert eng2.violations(facts, ref_tables={"hosts": ref}).count() == 3


def test_referential_missing_ref_table_raises(spark, transcripts):
    m = load_manifest(os.path.join(REPO, "manifests", "transcripts_referential.yml"))
    with pytest.raises(KeyError):
        ValidationEngine(m).violations(transcripts).collect()


def test_ordering_rule(spark, transcripts):
    df = inject(transcripts, "disordered")
    m = _m([("ordering", {"column": "ts", "partition_by": ["conv_id"], "order_by": ["turn_idx"], "strictly": True})])
    viols = ValidationEngine(m).violations(df).collect()
    (conv, turn), = INJECTION_KEYS["disordered"]
    # the shifted turn is earlier than its predecessor AND its successor is
    # earlier than it — at least the shifted turn must be flagged
    paths = {tuple(v["absolute_path"]) for v in viols}
    assert (conv, str(turn), "ts") in paths
    assert all(v["schema_id"].endswith("/ordering/ts") for v in viols)


def test_contiguous_rule(spark, transcripts):
    df = inject(transcripts, "non_contiguous")
    m = _m([("contiguous", {"column": "turn_idx", "partition_by": ["conv_id"]})])
    viols = ValidationEngine(m).violations(df).collect()
    (conv, _), = INJECTION_KEYS["non_contiguous"]
    # every displaced position is flagged (sorted turn_idx vs 0..n-1)
    idxs = sorted(r["turn_idx"] for r in df.filter(df.conv_id == conv).collect())
    expected_bad = {str(v) for i, v in enumerate(idxs) if v != i}
    assert {v["failing_value"] for v in viols} == expected_bad
    assert all(v["absolute_path"][0] == conv for v in viols)
    assert "20" in expected_bad


def test_aggregate_rule(spark, transcripts):
    df = inject(transcripts, "agg_threshold")
    m = load_manifest(os.path.join(REPO, "manifests", "transcripts_agg.yml"))
    viols = ValidationEngine(m).violations(df).collect()
    (conv,) = INJECTION_KEYS["agg_threshold"]
    # expected: every conv with zero assistant turns (synth data may contain
    # some naturally — tiny convs can be all system/user/tool)
    expected = {
        r["conv_id"]
        for r in df.groupBy("conv_id").agg(
            __import__("pyspark.sql.functions", fromlist=["F"]).count_if(df.role == "assistant").alias("n")
        ).filter("n = 0").collect()
    }
    assert {v["absolute_path"][0] for v in viols} == expected
    assert conv in expected
    assert all(v["message"] == "conversation has no assistant turns" for v in viols)
    assert all(v["failing_value"] == "0" for v in viols)


def test_aggregate_rhs_expression(spark, transcripts):
    # rhs as a second aggregate (validator.py rhs-JMESPath parity,
    # /root/reference/tests/fixtures/test_validators/validators/check_interfaces_ipv4.py:30-38):
    # assistant turns must be >= tool turns per conversation — holds for synth
    # data? assert engine runs and flags only convs where it fails vs a
    # hand-computed pandas check.
    m = _m(
        [
            (
                "aggregate",
                {
                    "group_by": ["conv_id"],
                    "left": {"fn": "count", "filter": "role = 'assistant'"},
                    "operator": "gte",
                    "right": {"fn": "count", "filter": "role = 'tool'"},
                },
            )
        ]
    )
    viols = {v["absolute_path"][0] for v in ValidationEngine(m).violations(transcripts).collect()}
    pdf = transcripts.groupBy("conv_id").count().toPandas()  # just conv list
    import pandas as pd

    raw = transcripts.select("conv_id", "role").toPandas()
    g = raw.groupby("conv_id")["role"]
    expected = {
        cid
        for cid, roles in g
        if not (roles == "assistant").sum() >= (roles == "tool").sum()
    }
    assert viols == expected
    assert set(pdf["conv_id"]) >= viols


def test_strict_columns(spark, transcripts):
    df = inject(transcripts, "extra_column")
    m = load_manifest(os.path.join(REPO, "manifests", "transcripts_strict.yml"))
    viols = ValidationEngine(m).violations(df).collect()
    assert len(viols) == 1
    assert viols[0]["message"] == "Additional properties are not allowed ('debug_blob' was unexpected)"
    # clean column set: no strict violations
    assert ValidationEngine(m).violations(transcripts).count() == 0


def test_cardinality_rule(spark):
    from schema_enforcer_spark.manifest import manifest_from_dict

    facts = spark.createDataFrame([(1,), (2,), (3,), (4,), (None,)], "k long")
    # ref counts: k=1 → 0 rows, k=2 → 1, k=3 → 3, k=4 → 5
    ref = spark.createDataFrame(
        [(2,)] + [(3,)] * 3 + [(4,)] * 5 + [(None,)], "rk long"
    )
    m = manifest_from_dict(
        {
            "id": "schemas/card",
            "rules": [
                {
                    "kind": "cardinality",
                    "columns": ["k"],
                    "ref_table": "ref",
                    "ref_columns": ["rk"],
                    "min_count": 1,
                    "max_count": 3,
                }
            ],
        }
    )
    eng = ValidationEngine(m, key_columns=["k"], instance_expr="'t'")
    out = {
        v["absolute_path"][0]: v
        for v in eng.violations(facts, ref_tables={"ref": ref}).collect()
    }
    # k=1 has 0 matches (< min), k=4 has 5 (> max); NULL keys are skipped
    assert set(out) == {"1", "4"}
    assert out["1"]["failing_value"] == "0"
    assert out["4"]["failing_value"] == "5"
    assert out["1"]["message"] == "'1' matches 0 row(s) in ref(rk); expected between 1 and 3"
    # min-only bound
    m2 = manifest_from_dict(
        {
            "id": "schemas/card2",
            "rules": [
                {"kind": "cardinality", "columns": ["k"], "ref_table": "ref",
                 "ref_columns": ["rk"], "min_count": 1}
            ],
        }
    )
    out2 = ValidationEngine(m2, key_columns=["k"], instance_expr="'t'").violations(
        facts, ref_tables={"ref": ref}
    ).collect()
    assert [v["absolute_path"][0] for v in out2] == ["1"]
    assert out2[0]["message"].endswith("expected at least 1")
    # missing bounds rejected at meta-validation
    import pytest as _pytest

    from schema_enforcer_spark.manifest import InvalidManifest

    with _pytest.raises(InvalidManifest, match="min_count and/or max_count"):
        manifest_from_dict(
            {"id": "m", "rules": [{"kind": "cardinality", "columns": ["k"],
                                   "ref_table": "r", "ref_columns": ["rk"]}]}
        )


def test_rate_limit_rule(spark):
    from schema_enforcer_spark.manifest import manifest_from_dict

    rows = [
        # user 1: 3 events within 10s → 3rd (and 2nd if max=1) exceed max 2
        (1, 100), (1, 105), (1, 109),
        # user 1 much later: window slid past — no violation
        (1, 1000),
        # user 2: 2 events only
        (2, 100), (2, 101),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_epoch long")
    m = manifest_from_dict(
        {
            "id": "schemas/rate",
            "rules": [
                {"kind": "rate_limit", "partition_by": ["user_id"],
                 "order_by": ["ts_epoch"], "window_seconds": 10, "max_count": 2}
            ],
        }
    )
    eng = ValidationEngine(m, key_columns=["user_id"], instance_expr="'t'")
    out = eng.violations(df).collect()
    assert len(out) == 1
    v = out[0]
    assert v["absolute_path"] == ["1", "109"]
    assert v["failing_value"] == "3"
    assert v["message"] == "'1' saw 3 rows within 10s; at most 2 allowed"


def test_invalid_manifest_fails_before_any_job(spark):
    with pytest.raises(InvalidManifest) as ei:
        load_manifest(os.path.join(REPO, "manifests", "invalid_manifest.yml"))
    joined = "\n".join(ei.value.errors)
    assert "no_such_kind" in joined
    assert "values" in joined


def test_full_base_manifest_catches_everything(spark, transcripts, base_manifest):
    """Run the WHOLE base manifest over a table with several defects at once;
    every expected rule fires; verdict map flags exactly the hit partitions."""
    df = inject(inject(inject(transcripts, "invalid_enum"), "dup_turn"), "disordered")
    report = ValidationEngine(base_manifest).validate(df)
    by_rule = {}
    for v in report.violations.collect():
        by_rule.setdefault(v["schema_id"].split("/")[-2] + "/" + v["schema_id"].split("/")[-1], []).append(v)
    kinds = {k.split("/")[0] for k in by_rule}
    assert {"enum", "unique", "ordering"} <= kinds
    fails = [v for v in report.verdicts.collect() if v["result"] == "FAIL"]
    assert 1 <= len(fails) <= 3


def test_unique_rule_fused_matches_standalone(spark, transcripts):
    """A unique rule's output must not depend on unrelated rules: fused into
    a window group (ordering shares the conv_id partition key) it emits the
    same one-row-per-key 'appears N times' violations as standalone."""
    df = inject(transcripts, "dup_turn")
    standalone = _m([("unique", {"columns": ["conv_id", "turn_idx"]})])
    fused = _m(
        [
            ("unique", {"columns": ["conv_id", "turn_idx"]}),
            ("ordering", {"column": "ts", "partition_by": ["conv_id"], "order_by": ["turn_idx"], "strictly": False}),
        ]
    )
    key = lambda v: (v["schema_id"], v["failing_value"], v["message"], v["instance_name"])  # noqa: E731
    s = sorted(key(v) for v in ValidationEngine(standalone).violations(df).collect() if "/unique/" in v["schema_id"])
    f = sorted(key(v) for v in ValidationEngine(fused).violations(df).collect() if "/unique/" in v["schema_id"])
    assert s == f and len(s) == 1


def test_referential_null_keys_are_not_orphans(spark, conversations):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("conv-99999999", 0), (None, 1)], "conv_id string, turn_idx int"
    )
    m = load_manifest(os.path.join(REPO, "manifests", "transcripts_referential.yml"))
    viols = ValidationEngine(m).violations(df, ref_tables={"conversations": conversations}).collect()
    assert [v["failing_value"] for v in viols] == ["conv-99999999"], "NULL FK must not be an orphan"
    # a NULL on the ref side must not poison the check (unlike SQL NOT IN)
    ref_with_null = conversations.unionByName(
        spark.createDataFrame([(None,)], "conv_id string").withColumns(
            {c: F.lit(None).cast(t) for c, t in conversations.drop("conv_id").dtypes}
        ),
        allowMissingColumns=True,
    )
    viols2 = ValidationEngine(m).violations(df, ref_tables={"conversations": ref_with_null}).collect()
    assert [v["failing_value"] for v in viols2] == ["conv-99999999"]


def test_table_grain_violations_reach_verdicts(spark, transcripts):
    """strict_columns attributes to instance 'table' (no data row carries
    it); the verdict universe must still surface it as a FAIL instead of
    silently reporting an all-PASS run."""
    df = transcripts.withColumn("rogue_col", transcripts["turn_idx"])
    m = load_manifest(os.path.join(REPO, "manifests", "transcripts_strict.yml"))
    eng = ValidationEngine(m)
    report = eng.validate(df)
    assert report.violations.count() > 0
    tbl = report.verdicts.filter("instance_name = 'table'").collect()
    assert len(tbl) == 1 and tbl[0]["result"] == "FAIL"
    assert not report.passes()


def test_rule_summary(spark, transcripts):
    df = inject(transcripts, "invalid_enum")
    m = load_manifest(os.path.join(REPO, "manifests", "transcripts_base.yml"))
    rep = ValidationEngine(m).validate(df)
    rows = {r["schema_id"]: (r["n_violations"], r["n_instances"]) for r in rep.rule_summary().collect()}
    assert any("enum" in k for k in rows), rows
    assert all(n > 0 and i > 0 for n, i in rows.values())


def test_fused_unique_detects_null_key_duplicates(spark):
    """Regression: NULLs sort first, so a duplicated-NULL group's first row
    has lag=NULL and eqNullSafe alone never marked it — the fused path must
    still report NULL-key duplicates like the standalone groupBy does."""
    df = spark.createDataFrame(
        [("c1", None, "x"), ("c1", None, "y"), ("c1", 1, "z"), ("c2", 1, "w")],
        "conv_id string, turn_idx int, text string",
    )
    standalone = _m([("unique", {"columns": ["conv_id", "turn_idx"]})])
    fused = _m(
        [
            ("unique", {"columns": ["conv_id", "turn_idx"]}),
            ("contiguous", {"column": "turn_idx", "partition_by": ["conv_id"]}),
        ]
    )
    key = lambda v: (v["failing_value"], v["message"])  # noqa: E731
    s = sorted(key(v) for v in ValidationEngine(standalone).violations(df).collect() if "/unique/" in v["schema_id"])
    f = sorted(key(v) for v in ValidationEngine(fused).violations(df).collect() if "/unique/" in v["schema_id"])
    assert s == f and len(s) == 1 and "appears 2 times" in s[0][1]


def test_sequence_rule(spark):
    """W1 extension: allowed value transitions per partition (role
    alternation). Registered since round 2 but unimplemented until round 3
    — the engine now fails loudly on evaluator-less kinds."""
    from schema_enforcer_spark.manifest import manifest_from_dict

    rows = [
        ("a", 0, "system"), ("a", 1, "user"), ("a", 2, "assistant"), ("a", 3, "user"),
        ("b", 0, "assistant"),            # bad start
        ("b", 1, "assistant"),            # assistant -> assistant not allowed
        ("c", 0, "user"), ("c", 1, None),  # null step: invalid transition
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    m = manifest_from_dict(
        {
            "id": "schemas/seq",
            "rules": [
                {
                    "kind": "sequence",
                    "column": "role",
                    "partition_by": ["conv_id"],
                    "order_by": ["turn_idx"],
                    "allowed_transitions": [
                        ["system", "user"], ["user", "assistant"], ["assistant", "user"],
                    ],
                    "allowed_start": ["system", "user"],
                }
            ],
        }
    )
    eng = ValidationEngine(m, key_columns=["conv_id"], instance_expr="conv_id")
    out = sorted(
        (tuple(v["absolute_path"]), v["message"])
        for v in eng.violations(df).collect()
    )
    assert out == [
        (("b", "0", "role"), "'assistant' is not an allowed start value for 'role'"),
        (("b", "1", "role"), "'assistant' cannot follow 'assistant' in 'role'"),
        (("c", "1", "role"), "'None' cannot follow 'user' in 'role'"),
    ]
    # clean conversation 'a' contributed nothing
    assert not [p for p, _ in out if p[0] == "a"]


def test_verdict_grain_disambiguates_host_named_table(spark):
    """A data partition literally named 'table' must NOT be conflated with
    the synthetic table-grain verdict row (round-4 advisory): verdicts
    carry a `grain` column, so both rows coexist and label correctly."""
    from schema_enforcer_spark.manifest import manifest_from_dict

    df = spark.createDataFrame(
        [("table", 1, "x"), ("hostA", 2, "y")], "host string, n long, extra string"
    )
    m = manifest_from_dict(
        {
            "id": "schemas/grain",
            "table": "t",
            "columns": ["host", "n"],
            "strict": True,
            "rules": [{"kind": "required", "column": "n"}],
        }
    )
    eng = ValidationEngine(m, key_columns=["host"], instance_expr="host", instance_type="HOST")
    rep = eng.validate(df)
    rows = {(r["instance_name"], r["grain"]): r["result"] for r in rep.verdicts.collect()}
    # strict violation ('extra' undeclared) attributes to the TABLE grain
    assert rows[("table", "TABLE")] == "FAIL"
    # the real host named 'table' is clean and keeps its HOST-grain PASS
    assert rows[("table", "HOST")] == "PASS"
    assert rows[("hostA", "HOST")] == "PASS"


def test_equals_table_diff(spark, transcripts):
    """equals_table: per-turn text equality vs a reference copy under
    (conv_id, turn_idx) keys — one mismatch, one input-only row, one
    reference-only row, each with its own violation shape; identical
    tables produce zero violations."""
    from pyspark.sql import functions as F

    ref = transcripts
    # input: change one text, drop one row, add one row
    df = (
        transcripts.withColumn(
            "text",
            F.when(
                (F.col("conv_id") == "conv-00000002") & (F.col("turn_idx") == 1),
                F.lit("TAMPERED"),
            ).otherwise(F.col("text")),
        )
        .filter(~((F.col("conv_id") == "conv-00000003") & (F.col("turn_idx") == 0)))
        .unionByName(
            transcripts.filter((F.col("conv_id") == "conv-00000001") & (F.col("turn_idx") == 0))
            .withColumn("conv_id", F.lit("conv-99999999"))
        )
    )
    m = _m([
        ("equals_table", {
            "columns": ["conv_id", "turn_idx"],
            "ref_table": "reference",
            "compare": ["text"],
        })
    ])
    viols = ValidationEngine(m).violations(df, ref_tables={"reference": ref}).collect()
    by_msg = sorted((tuple(v["absolute_path"]), v["message"]) for v in viols)
    assert len(viols) == 3
    assert (("conv-00000002", "1", "text"),) == tuple(
        p for p, msg in by_msg if "does not equal reference.text" in msg
    )
    assert any(p == ("conv-00000003", "0") and "is missing from the input" in msg for p, msg in by_msg)
    assert any(p == ("conv-99999999", "0") and "is missing from reference" in msg for p, msg in by_msg)

    # identical tables -> clean
    clean = ValidationEngine(m).violations(transcripts, ref_tables={"reference": ref})
    assert clean.count() == 0

    # dtype misalignment fails loudly: comparing text against a ref whose
    # 'text' is numeric would otherwise run through implicit casts and
    # render the wrong repr in messages
    import pytest as _pytest

    bad_ref = ref.withColumn("text", F.length("text").cast("double"))
    with _pytest.raises(ValueError, match="dtype mismatch"):
        ValidationEngine(m).violations(df, ref_tables={"reference": bad_ref})


def test_equals_table_every_diff_shape(spark):
    """Every tricky shape of the full-outer value join at once, pinned to
    the exact violation rows: a value mismatch, NULL-vs-empty (a
    mismatch), NULL-vs-NULL (clean under <=>), rows missing from either
    side, a DUPLICATED join key (each input row pairs with each reference
    row: one clean pair, one mismatching pair) and a two-column compare
    (`value`, a double, matches everywhere, so it emits nothing)."""
    rows = [
        ("a", 1, "x", 1.0),
        ("a", 2, "x", 1.0),      # text mismatch vs ref 'y'
        ("b", 1, None, 2.0),     # NULL vs '' in ref -> mismatch
        ("b", 2, None, None),    # NULL vs NULL -> clean
        ("c", 1, "z", 3.0),      # missing from reference
        ("e", 1, "p", 4.0),      # dup key: one clean pair ...
        ("e", 1, "q", 4.0),      # ... one mismatching pair vs ref 'p'
    ]
    ref_rows = [
        ("a", 1, "x", 1.0),
        ("a", 2, "y", 1.0),
        ("b", 1, "", 2.0),
        ("b", 2, None, None),
        ("d", 1, "w", 5.0),      # missing from the input
        ("e", 1, "p", 4.0),
    ]
    schema = "conv_id string, turn_idx int, text string, value double"
    df = spark.createDataFrame(rows, schema)
    ref = spark.createDataFrame(ref_rows, schema)
    m = _m([
        ("equals_table", {
            "columns": ["conv_id", "turn_idx"],
            "ref_table": "reference",
            "compare": ["text", "value"],
        })
    ])
    out = ValidationEngine(m).violations(df, ref_tables={"reference": ref})
    # instance_name is the default bucket pmod(hash(conv_id), 32) of the
    # input row; a reference-only row is attributed to its key
    sid = "schemas/t/equals_table/reference"
    expected = [
        (sid, "FAIL", "1", "transcripts", "PARTITION", ["b", "1", "text"], None,
         "None does not equal reference.text ''"),
        (sid, "FAIL", "18", "transcripts", "PARTITION", ["a", "2", "text"], "x",
         "'x' does not equal reference.text 'y'"),
        (sid, "FAIL", "26", "transcripts", "PARTITION", ["c", "1"], "c|1",
         "'c|1' is missing from reference"),
        (sid, "FAIL", "6", "transcripts", "PARTITION", ["e", "1", "text"], "q",
         "'q' does not equal reference.text 'p'"),
        (sid, "FAIL", "d|1", "transcripts", "PARTITION", ["d", "1"], "d|1",
         "'d|1' is missing from the input (present in reference)"),
    ]
    assert sorted(tuple(r) for r in out.collect()) == expected


def test_functional_dependency_rule(spark):
    from schema_enforcer_spark.manifest import manifest_from_dict

    df = spark.createDataFrame(
        [
            # group 'a': two distinct deps -> violation with example pair
            (1, "a", "x"),
            (2, "a", "y"),
            # group 'b': one dep repeated -> holds
            (3, "b", "x"),
            (4, "b", "x"),
            # group 'c': NULL + one value -> NULL counts as a value -> violation
            (5, "c", "z"),
            (6, "c", None),
            # group 'd': all NULL -> exactly one value -> holds
            (7, "d", None),
            # NULL determinant forms its own group: two deps -> violation
            (8, None, "p"),
            (9, None, "q"),
        ],
        "id long, det string, dep string",
    )
    m = manifest_from_dict(
        {
            "id": "schemas/fd",
            "rules": [
                {"kind": "functional_dependency", "columns": ["det"], "dependent": "dep"}
            ],
        }
    )
    eng = ValidationEngine(m, key_columns=["id"], instance_expr="'t'")
    out = {v["absolute_path"][0]: v for v in eng.violations(df).collect()}
    assert set(out) == {"a", "c", None}
    assert out["a"]["failing_value"] == "2"
    assert out["a"]["message"] == (
        "'a' maps to 2 distinct values of dep ('x' vs 'y'); expected exactly 1"
    )
    assert out["c"]["message"] == (
        "'c' maps to 2 distinct values of dep (NULL vs 'z'); expected exactly 1"
    )
    assert out["a"]["schema_id"] == "schemas/fd/functional_dependency/det->dep"
    # a dependency that holds reports nothing
    m2 = manifest_from_dict(
        {
            "id": "schemas/fd2",
            "rules": [
                {"kind": "functional_dependency", "columns": ["det", "dep"], "dependent": "id"}
            ],
        }
    )
    # (det, dep) pairs are unique here except ('b','x') which has ids 3 and 4
    out2 = ValidationEngine(m2, key_columns=["id"], instance_expr="'t'").violations(df).collect()
    assert [v["absolute_path"] for v in out2] == [["b", "x"]]
    # meta-validation: dependent inside the determinant is rejected
    with pytest.raises(InvalidManifest, match="part of the determinant"):
        manifest_from_dict(
            {
                "id": "schemas/fd3",
                "rules": [
                    {"kind": "functional_dependency", "columns": ["det"], "dependent": "det"}
                ],
            }
        )
    # meta-validation: unknown param names rejected (additionalProperties)
    with pytest.raises(InvalidManifest):
        manifest_from_dict(
            {
                "id": "schemas/fd4",
                "rules": [
                    {"kind": "functional_dependency", "columns": ["det"],
                     "dependent": "dep", "determinant": ["det"]}
                ],
            }
        )


def test_outlier_rule(spark):
    from pyspark.sql import functions as F

    from schema_enforcer_spark.manifest import manifest_from_dict

    # 1..100 plus two planted outliers; exact quartiles of the 102 values
    # are deterministic, so the fence is known in closed form
    vals = [(i, float(i)) for i in range(1, 101)] + [(101, 1000.0), (102, -500.0)]
    df = spark.createDataFrame(vals, "id long, v double")
    m = manifest_from_dict(
        {
            "id": "schemas/out",
            "rules": [{"kind": "outlier", "column": "v", "k": 1.5, "exact": True}],
        }
    )
    eng = ValidationEngine(m, key_columns=["id"], instance_expr="'t'")
    out = sorted(eng.violations(df).collect(), key=lambda r: r["failing_value"])
    assert [v["failing_value"] for v in out] == ["-500.000000", "1000.000000"]
    v = out[1]
    assert v["schema_id"] == "schemas/out/outlier/v"
    assert v["absolute_path"] == ["102", "v"] or v["absolute_path"] == ["101", "v"]
    assert "outside the IQR fence [" in v["message"] and "(k=1.5)" in v["message"]
    # NULLs are never outliers; a clean column reports nothing
    clean = df.filter("v between 1 and 100").withColumn(
        "v", F.when(F.col("id") == 50, F.lit(None)).otherwise(F.col("v"))
    )
    assert eng.violations(clean).count() == 0
    # approx path (default) flags the same planted extremes here
    m2 = manifest_from_dict(
        {"id": "schemas/out2", "rules": [{"kind": "outlier", "column": "v"}]}
    )
    out2 = ValidationEngine(m2, key_columns=["id"], instance_expr="'t'").violations(df)
    assert {r["failing_value"] for r in out2.collect()} == {"-500.000000", "1000.000000"}
    # k must be non-negative (meta-schema)
    with pytest.raises(InvalidManifest):
        manifest_from_dict(
            {"id": "s", "rules": [{"kind": "outlier", "column": "v", "k": -1}]}
        )


def test_aggregate_scale_ratio_checks(spark):
    """Deequ-style completeness/distinctness as declarative ratio
    constraints: 'scale' multiplies a side's aggregate, so
    null-rate <= 20% is left count(c IS NULL) lte right count(*)*0.2."""
    from schema_enforcer_spark.manifest import manifest_from_dict

    df = spark.createDataFrame(
        [(1, "g1", None), (2, "g1", "x"), (3, "g1", "x"), (4, "g1", "y"),
         (5, "g2", None), (6, "g2", None), (7, "g2", "z")],
        "id long, g string, c string",
    )
    m = manifest_from_dict(
        {
            "id": "schemas/ratio",
            "rules": [
                {
                    "kind": "aggregate",
                    "group_by": ["g"],
                    "left": {"fn": "count", "filter": "c IS NULL"},
                    "operator": "lte",
                    "right": {"fn": "count", "scale": 0.3},
                    "message": "null-rate above 30%",
                },
            ],
        }
    )
    eng = ValidationEngine(m, key_columns=["id"], instance_expr="'t'")
    out = eng.violations(df).collect()
    # g1: 1/4 = 25% ok; g2: 2/3 = 67% fails
    assert [v["absolute_path"] for v in out] == [["g2"]]
    assert out[0]["failing_value"] == "2"
    assert out[0]["message"] == "null-rate above 30%"
    # distinctness: count_distinct >= 60% of rows
    m2 = manifest_from_dict(
        {
            "id": "schemas/ratio2",
            "rules": [
                {
                    "kind": "aggregate",
                    "group_by": ["g"],
                    "left": {"fn": "count_distinct", "column": "c"},
                    "operator": "gte",
                    "right": {"fn": "count", "scale": 0.6},
                    "message": "value diversity below 60%",
                },
            ],
        }
    )
    out2 = ValidationEngine(m2, key_columns=["id"], instance_expr="'t'").violations(df).collect()
    # g1: 2 distinct / 4 rows = 50% fails; g2: 1/3 = 33% fails
    assert sorted(v["absolute_path"][0] for v in out2) == ["g1", "g2"]


def test_outlier_rule_grouped(spark):
    """Per-group fences: a value ordinary at one group's scale is an
    outlier at another's — the global fence would miss both directions."""
    from schema_enforcer_spark.manifest import manifest_from_dict

    rows = [(i, "small", float(i % 10)) for i in range(100)]
    rows += [(100 + i, "big", 1000.0 + (i % 10)) for i in range(100)]
    # 500.0 sits INSIDE the global spread but outside both group fences
    rows += [(500, "small", 500.0)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    m = manifest_from_dict(
        {
            "id": "schemas/gout",
            "rules": [
                {"kind": "outlier", "column": "v", "k": 1.5, "exact": True,
                 "group_by": ["g"]}
            ],
        }
    )
    eng = ValidationEngine(m, key_columns=["id"], instance_expr="'t'")
    out = eng.violations(df).collect()
    assert [v["failing_value"] for v in out] == ["500.000000"]
    # the global fence over the same data does NOT flag it (bimodal spread)
    m2 = manifest_from_dict(
        {"id": "schemas/gout2",
         "rules": [{"kind": "outlier", "column": "v", "k": 1.5, "exact": True}]}
    )
    assert ValidationEngine(m2, key_columns=["id"], instance_expr="'t'").violations(df).count() == 0


def test_outlier_rule_rejects_staging_column_clash(spark):
    from schema_enforcer_spark.manifest import manifest_from_dict

    df = spark.createDataFrame([(1, 1.0, 0.0)], "id long, v double, _lo double")
    m = manifest_from_dict(
        {"id": "schemas/clash", "rules": [{"kind": "outlier", "column": "v"}]}
    )
    with pytest.raises(ValueError, match="fence staging columns"):
        ValidationEngine(m, key_columns=["id"], instance_expr="'t'").violations(df)
