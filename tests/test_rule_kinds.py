"""The rule-kind table (manifest.RULE_KIND_TABLE) is the one declaration of
every kind: its grain, required fields, sub-check roles and evaluator. These
tests hold the table to what the loader and the engine do with it."""

from __future__ import annotations

import pytest

from schema_enforcer_spark.engine import ValidationEngine
from schema_enforcer_spark.manifest import (
    ENTRY_ARRAYS,
    MANIFEST_META_SCHEMA,
    ROW,
    ROW_PROJECTION,
    ROW_RULE_KINDS,
    RULE_KIND_TABLE,
    RULE_KINDS,
    SHARED_PATHS,
    TABLE,
    TABLE_RULE_KINDS,
    Manifest,
    Rule,
    RuleKind,
    validate_manifest_dict,
)

_PARAMS = MANIFEST_META_SCHEMA["properties"]["rules"]["items"]["properties"]
# minimal values for every field some kind requires
_FILL = {
    "column": "a", "columns": ["a"], "type": "string", "format": "date-time", "pattern": "^x",
    "values": ["x"], "multiple_of": 2, "check": "required", "checks": [{"kind": "required"}],
    "left": "a", "operator": "eq", "right": 1, "value": 1, "requires": ["b"], "expr": "a > 1",
    "ref_table": "t", "ref_columns": ["b"], "compare": ["b"], "partition_by": ["a"],
    "order_by": ["b"], "when": {"column": "a", "equals": 1}, "then": {"column": "b", "required": True},
    "metric": "ks", "threshold": 0.1, "allowed_transitions": [["x", "y"]], "window_seconds": 60,
    "max_count": 3, "dependent": "b",
}


def test_grain_membership_is_unchanged():
    assert ROW_RULE_KINDS == {
        "type", "required", "format", "pattern", "enum", "range", "length", "multiple_of",
        "unique_items", "not_empty", "any_of", "all_of", "one_of", "not", "const", "contains",
        "dependent_required", "property_names", "property_count", "pattern_properties",
        "jmespath", "prefix_items", "items", "expression",
    }
    # conditional is table grain although it rides the row projection:
    # Manifest.row_rules / table_rules depend on it
    assert TABLE_RULE_KINDS == {
        "unique", "referential", "ordering", "contiguous", "aggregate", "strict_columns",
        "conditional", "drift", "sequence", "cardinality", "rate_limit", "outlier",
        "functional_dependency", "equals_table",
    }
    assert RULE_KINDS == set(RULE_KIND_TABLE)
    assert MANIFEST_META_SCHEMA["properties"]["rules"]["items"]["properties"]["kind"]["enum"] == sorted(RULE_KINDS)


@pytest.mark.parametrize("kind", sorted(RULE_KIND_TABLE))
def test_required_fields_reach_meta_validation(kind):
    spec = RULE_KIND_TABLE[kind]
    assert spec.name == kind and spec.grain in (ROW, TABLE)
    # every required field is a whitelisted param, so a rule can carry it
    assert set(spec.required) <= _PARAMS.keys()
    errors = validate_manifest_dict({"id": "m", "rules": [{"kind": kind}]})
    for field in spec.required:
        assert f"rules/0: kind {kind!r} requires field {field!r}" in errors
    filled = {"kind": kind, **{f: _FILL[f] for f in spec.required}}
    assert not any("requires field" in e for e in validate_manifest_dict({"id": "m", "rules": [filled]}))


@pytest.mark.parametrize("kind", sorted(RULE_KIND_TABLE))
def test_every_kind_has_an_evaluation_path(kind):
    spec = RULE_KIND_TABLE[kind]
    if spec.grain == ROW:
        assert spec.evaluator in (ROW_PROJECTION, ENTRY_ARRAYS)
    else:
        assert spec.evaluator in SHARED_PATHS or callable(getattr(ValidationEngine, spec.evaluator, None))


def test_sub_check_roles():
    composable = {k for k, s in RULE_KIND_TABLE.items() if s.composable}
    element = {k for k, s in RULE_KIND_TABLE.items() if s.element}
    assert composable < element <= ROW_RULE_KINDS
    assert not {k for k, s in RULE_KIND_TABLE.items() if s.evaluator == ENTRY_ARRAYS} & element


def test_items_accepts_every_compile_check_kind(spark):
    from pyspark.sql import types as T

    from schema_enforcer_spark.compiler import compile_check

    def compiles(kind: str) -> bool:
        params = {**_FILL, "check": "required", "minimum": 0, "min_length": 1, "min_properties": 1}
        dtype = {"contains": T.ArrayType(T.StringType()), "property_count": T.MapType(T.StringType(), T.StringType())}
        try:
            compile_check("`a`", dtype.get(kind, T.StringType()), kind, params.get, "a")
        except ValueError as e:
            if "not a row rule" in str(e):
                return False
        return True

    element = {k for k, s in RULE_KIND_TABLE.items() if s.element}
    assert {k for k in ROW_RULE_KINDS if compiles(k)} == element
    for kind in element:
        rule = {"kind": "items", "column": "a", "check": kind, "minimum": 0, "min_length": 1,
                **{f: _FILL[f] for f in RULE_KIND_TABLE[kind].required if f not in ("column", "check")}}
        assert validate_manifest_dict({"id": "m", "rules": [rule]}) == [], kind


def test_kind_without_evaluator_fails_loudly(spark, monkeypatch):
    df = spark.createDataFrame([(1,)], "a int")
    monkeypatch.setitem(RULE_KIND_TABLE, "ghost", RuleKind("ghost", TABLE, (), "_ghost_violations"))
    for kind in ("ghost", "undeclared"):
        eng = ValidationEngine(Manifest(id="m", rules=(Rule(kind=kind),)))
        with pytest.raises(NotImplementedError, match=f"table rule kind {kind!r} has no evaluator"):
            eng.violations(df)
