"""Verdict rows against a Python recomputation from the collected violations
and the input's instance set: one (instance_name, grain) row per input
instance and per violated instance, plus the ('table', 'TABLE') row of a
strict manifest, FAIL iff it has a violation, with the count as bigint."""

from __future__ import annotations

from collections import Counter

import pytest

from schema_enforcer_spark.engine import ValidationEngine, validate_many
from schema_enforcer_spark.manifest import manifest_from_dict

VERDICT_DTYPES = [
    ("schema_id", "string"),
    ("instance_name", "string"),
    ("grain", "string"),
    ("result", "string"),
    ("n_violations", "bigint"),
]

SCHEMA = "part string, k long, v long, extra string"
ROWS = [
    (None, 1, -5, "x"),     # NULL instance: two range violations
    (None, 2, -1, "x"),
    ("table", 3, 4, "x"),   # a PARTITION instance literally named 'table', clean
    ("clean", 4, 5, "x"),
    ("bad", 5, -2, "x"),    # a range violation and a duplicated key
    ("bad", 5, 6, "x"),
]


def _engine(manifest: dict) -> ValidationEngine:
    return ValidationEngine(manifest_from_dict(manifest), key_columns=["k"], instance_expr="part")


STRICT = {
    "id": "schemas/verdicts",
    "table": "t",
    "columns": ["part", "k", "v"],
    "rules": [
        {"kind": "required", "column": "k"},
        {"kind": "range", "column": "v", "minimum": 0},
        {"kind": "unique", "columns": ["k"]},
        {"kind": "strict_columns"},
    ],
}
ROW_ONLY = {
    "id": "schemas/verdicts_rows",
    "table": "t",
    "rules": [{"kind": "range", "column": "v", "maximum": 5}],
}


def _expected(eng: ValidationEngine, instances: set, violations: list) -> list[tuple]:
    counts = Counter((v["instance_name"], v["instance_type"]) for v in violations)
    universe = {(i, eng.instance_type) for i in instances} | set(counts)
    if eng.manifest.strict or any(r.rule_kind.table_verdict for r in eng.manifest.table_rules):
        universe.add(("table", "TABLE"))
    return [(eng.manifest.id, n, g, "FAIL" if counts[(n, g)] else "PASS", counts[(n, g)]) for n, g in universe]


@pytest.mark.parametrize("empty", [False, True], ids=["data", "empty"])
@pytest.mark.parametrize("via", ["validate", "validate_many"])
def test_verdicts_match_violations(spark, via, empty):
    df = spark.createDataFrame([] if empty else ROWS, SCHEMA)
    engines = [_engine(STRICT)] if via == "validate" else [_engine(STRICT), _engine(ROW_ONLY)]
    report = engines[0].validate(df) if via == "validate" else validate_many(engines, df)
    try:
        assert report.verdicts.dtypes == VERDICT_DTYPES
        got = sorted(map(tuple, report.verdicts.collect()), key=repr)
        tagged = report.cached.collect()
        instances = {r["part"] for r in df.select("part").collect()}
        want = []
        for e in engines:
            want += _expected(e, instances, [v for v in tagged if v["_mid"] == e.manifest.id])
        assert got == sorted(want, key=repr)
        verdict = {(r[1], r[2]): (r[3], r[4]) for r in got if r[0] == STRICT["id"]}
        # the strict rule fires on the extra column whatever the rows
        assert verdict[("table", "TABLE")] == ("FAIL", 1)
        if not empty:
            assert verdict[(None, "PARTITION")] == ("FAIL", 2)
            assert verdict[("table", "PARTITION")] == ("PASS", 0)
            assert verdict[("clean", "PARTITION")] == ("PASS", 0)
            assert verdict[("bad", "PARTITION")] == ("FAIL", 2)
    finally:
        report.unpersist()


def test_strict_rows_plan_no_python_rdd(spark):
    """strict_columns' rows and the ('table', 'TABLE') verdict row are
    driver-held: they reach the plan through Arrow (a local scan), never a
    pickled-list RDD converted by Python worker tasks."""
    df = spark.range(6).selectExpr("CAST(id % 3 AS STRING) AS part", "id AS k", "id - 2 AS v", "'x' AS extra")
    report = _engine(STRICT).validate(df, cache_violations=False)
    for frame in (report.violations, report.verdicts):
        assert "PythonRDD" not in frame._jdf.queryExecution().toRdd().toDebugString()
    assert ("table", "FAIL", 1) in {(r[1], r[3], r[4]) for r in report.verdicts.collect()}
