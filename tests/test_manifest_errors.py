"""Full meta-validation error lists, pinned byte for byte.

One malformed rule per sub-check site (items, prefix_items checks and
additional_items, any_of/all_of/one_of/not, contains, property_names,
pattern_properties) plus the per-kind cross-field checks. Each case asserts
the COMPLETE list ``validate_manifest_dict`` returns, in order — wording,
rule index and sub-check position included. Pure Python: no Spark."""

from __future__ import annotations

import pytest

from schema_enforcer_spark.manifest import InvalidManifest, manifest_from_dict, validate_manifest_dict

_KINDS = (
    "['aggregate', 'all_of', 'any_of', 'cardinality', 'conditional', 'const', 'contains', "
    "'contiguous', 'dependent_required', 'drift', 'enum', 'equals_table', 'expression', "
    "'format', 'functional_dependency', 'items', 'jmespath', 'length', 'multiple_of', 'not', "
    "'not_empty', 'one_of', 'ordering', 'outlier', 'pattern', 'pattern_properties', "
    "'prefix_items', 'property_count', 'property_names', 'range', 'rate_limit', 'referential', "
    "'required', 'sequence', 'strict_columns', 'type', 'unique', 'unique_items']"
)
_REGEX_IN = (
    "rules/0: format 'regex' is a Python-UDF check and cannot run inside {} lambda; "
    "explode the {} and use a plain format rule instead"
)
_ARRAY_ELEMENT = _REGEX_IN.format("an array-element", "array")
_MAP_KEY = _REGEX_IN.format("a map-key", "map")
_MAP_ENTRY = _REGEX_IN.format("a map-entry", "map")
_RANGE = "rules/0: range rule needs at least one bound"
_LENGTH = "rules/0: length rule needs min_length or max_length"
_SCALAR = "must be a scalar row-rule kind, got"
_PP = {"kind": "pattern_properties", "column": "a", "pattern": "^x"}

CASES = [
    # -- items ---------------------------------------------------------------
    ("items_bad_kind", {"kind": "items", "column": "a", "check": "bogus"},
     [f"rules/0: items 'check' {_SCALAR} 'bogus'"]),
    ("items_sub_required", {"kind": "items", "column": "a", "check": "enum"},
     ["rules/0: items check 'enum' requires field 'values'"]),
    ("items_format_regex", {"kind": "items", "column": "a", "check": "format", "format": "regex"},
     [_ARRAY_ELEMENT]),
    ("items_range_no_bound", {"kind": "items", "column": "a", "check": "range"}, [_RANGE]),
    ("items_length_no_bound", {"kind": "items", "column": "a", "check": "length"}, [_LENGTH]),
    ("items_no_check", {"kind": "items", "column": "a"},
     ["rules/0: kind 'items' requires field 'check'", f"rules/0: items 'check' {_SCALAR} None"]),
    ("items_composite_sub_required", {"kind": "items", "column": "a", "check": "any_of"},
     ["rules/0: items check 'any_of' requires field 'checks'"]),
    # -- prefix_items --------------------------------------------------------
    ("prefix_checks_bad_kind", {"kind": "prefix_items", "column": "a", "checks": [{"kind": "items"}]},
     [f"rules/0: prefix_items checks/0 {_SCALAR} 'items'"]),
    ("prefix_checks_sub_required",
     {"kind": "prefix_items", "column": "a", "checks": [{"kind": "type"}, {"kind": "pattern"}]},
     ["rules/0: prefix_items checks/0 kind 'type' requires field 'type'",
      "rules/0: prefix_items checks/1 kind 'pattern' requires field 'pattern'"]),
    ("prefix_checks_format_regex",
     {"kind": "prefix_items", "column": "a", "checks": [{"kind": "format", "format": "regex"}]},
     [_ARRAY_ELEMENT]),
    ("prefix_additional_bad_kind",
     {"kind": "prefix_items", "column": "a", "checks": [{"kind": "required"}],
      "additional_items": {"kind": "jmespath"}},
     ["rules/0: prefix_items additional_items must be false, true, or a scalar row-rule "
      "check object, got kind 'jmespath'"]),
    ("prefix_additional_sub_required",
     {"kind": "prefix_items", "column": "a", "checks": [{"kind": "required"}],
      "additional_items": {"kind": "enum"}},
     ["rules/0: prefix_items additional_items kind 'enum' requires field 'values'"]),
    # -- any_of / all_of / one_of / not --------------------------------------
    ("any_of_bad_kind", {"kind": "any_of", "column": "a", "checks": [{"kind": "unique"}]},
     [f"rules/0: any_of checks/0 {_SCALAR} 'unique'"]),
    ("all_of_sub_required",
     {"kind": "all_of", "column": "a", "checks": [{"kind": "multiple_of"}, {"kind": "const"}]},
     ["rules/0: all_of checks/0 kind 'multiple_of' requires field 'multiple_of'",
      "rules/0: all_of checks/1 kind 'const' requires field 'value'"]),
    ("one_of_range_no_bound",
     {"kind": "one_of", "column": "a", "checks": [{"kind": "range"}, {"kind": "range", "minimum": 1}]},
     ["rules/0: one_of checks/0 range needs at least one bound"]),
    ("not_length_no_bound", {"kind": "not", "column": "a", "checks": [{"kind": "length"}]},
     ["rules/0: not checks/0 length needs min_length or max_length"]),
    ("any_of_mixed_entries",
     {"kind": "any_of", "column": "a",
      "checks": [{"kind": "range"}, "x", {"kind": "bogus"}, {"kind": "enum"}]},
     ["rules/0/checks/1: 'x' is not of type 'object'",
      "rules/0: any_of checks/0 range needs at least one bound",
      f"rules/0: any_of checks/2 {_SCALAR} 'bogus'",
      "rules/0: any_of checks/3 kind 'enum' requires field 'values'"]),
    # -- contains ------------------------------------------------------------
    ("contains_bad_kind", {"kind": "contains", "column": "a", "check": "items"},
     [f"rules/0: contains 'check' {_SCALAR} 'items'"]),
    ("contains_sub_required", {"kind": "contains", "column": "a", "check": "const"},
     ["rules/0: contains check 'const' requires field 'value'"]),
    ("contains_format_regex", {"kind": "contains", "column": "a", "check": "format", "format": "regex"},
     [_ARRAY_ELEMENT]),
    ("contains_range_no_bound", {"kind": "contains", "column": "a", "check": "range"}, [_RANGE]),
    ("contains_no_check", {"kind": "contains", "column": "a"},
     ["rules/0: kind 'contains' requires field 'check'", f"rules/0: contains 'check' {_SCALAR} None"]),
    # -- property_names ------------------------------------------------------
    ("property_names_bad_kind", {"kind": "property_names", "column": "a", "check": "contains"},
     [f"rules/0: property_names 'check' {_SCALAR} 'contains'"]),
    ("property_names_sub_required", {"kind": "property_names", "column": "a", "check": "enum"},
     ["rules/0: property_names check 'enum' requires field 'values'"]),
    ("property_names_format_regex",
     {"kind": "property_names", "column": "a", "check": "format", "format": "regex"}, [_MAP_KEY]),
    ("property_names_length_no_bound", {"kind": "property_names", "column": "a", "check": "length"},
     [_LENGTH]),
    ("property_names_no_check", {"kind": "property_names", "column": "a"},
     ["rules/0: kind 'property_names' requires field 'check'"]),
    # -- pattern_properties --------------------------------------------------
    ("pattern_properties_bad_kind", {**_PP, "check": "any_of"},
     [f"rules/0: pattern_properties 'check' {_SCALAR} 'any_of'"]),
    ("pattern_properties_sub_required", {**_PP, "check": "type"},
     ["rules/0: pattern_properties check 'type' requires field 'type'"]),
    ("pattern_properties_format_regex", {**_PP, "check": "format", "format": "regex"}, [_MAP_ENTRY]),
    ("pattern_properties_pattern_check", {**_PP, "check": "pattern"},
     ["rules/0: pattern_properties check 'pattern' needs 'value_pattern' (the rule's own "
      "'pattern' matches KEYS; reusing it for values is almost never intended)"]),
    ("pattern_properties_checks_nothing", _PP,
     ["rules/0: pattern_properties needs 'check' (validate matching values) and/or "
      "'additional_properties: false' (reject non-matching keys) — with neither it checks nothing"]),
    ("pattern_properties_range_no_bound", {**_PP, "check": "range"}, [_RANGE]),
    # -- kind names, per-kind required fields, cross-field checks ------------
    ("unknown_kind", {"kind": "bogus"}, [f"rules/0/kind: 'bogus' is not one of {_KINDS}"]),
    ("non_string_kind", {"kind": 5}, [f"rules/0/kind: 5 is not one of {_KINDS}"]),
    ("unknown_param", {"kind": "required", "column": "a", "bogus_param": 1},
     ["rules/0: Additional properties are not allowed ('bogus_param' was unexpected)"]),
    ("kind_required_fields", {"kind": "referential"},
     ["rules/0: kind 'referential' requires field 'columns'",
      "rules/0: kind 'referential' requires field 'ref_table'",
      "rules/0: kind 'referential' requires field 'ref_columns'"]),
    ("range_no_bound", {"kind": "range", "column": "a"}, [_RANGE]),
    ("length_no_bound", {"kind": "length", "column": "a"}, [_LENGTH]),
    ("drift_no_baseline", {"kind": "drift", "column": "a", "metric": "ks", "threshold": 0.1},
     ["rules/0: drift rule needs an inline 'baseline' histogram or 'lo'+'hi' bucket bounds "
      "(for the stored-baseline flow)"]),
    ("drift_half_bounds", {"kind": "drift", "column": "a", "metric": "psi", "threshold": 0.1, "lo": 0},
     ["rules/0: drift rule needs an inline 'baseline' histogram or 'lo'+'hi' bucket bounds "
      "(for the stored-baseline flow)"]),
    ("cardinality_no_counts",
     {"kind": "cardinality", "columns": ["a"], "ref_table": "t", "ref_columns": ["b"]},
     ["rules/0: cardinality rule needs min_count and/or max_count"]),
    ("functional_dependency_trivial",
     {"kind": "functional_dependency", "columns": ["a", "b"], "dependent": "b"},
     ["rules/0: functional_dependency dependent column 'b' is part of the determinant — the "
      "rule would hold trivially and check nothing"]),
    ("property_count_no_bounds", {"kind": "property_count", "column": "a"},
     ["rules/0: property_count rule needs min_properties and/or max_properties"]),
    ("property_count_negative", {"kind": "property_count", "column": "a", "min_properties": -1},
     ["rules/0/min_properties: -1 is less than the minimum of 0",
      "rules/0: property_count min_properties must be a non-negative integer"]),
    ("property_count_min_over_max",
     {"kind": "property_count", "column": "a", "min_properties": 3, "max_properties": 2},
     ["rules/0: property_count min_properties > max_properties can never pass"]),
    ("strict_columns_struct_undeclared", {"kind": "strict_columns", "column": "payload"},
     ["rules/0: strict_columns on a struct column needs the declared 'columns' field set "
      "(an empty declaration would silently check nothing)"]),
    ("jmespath_shape", {"kind": "jmespath", "left": 5, "operator": "eq", "right": 1, "right_expr": "a"},
     ["rules/0: jmespath 'left' must be a JMESPath string",
      "rules/0: jmespath rule needs exactly one of 'right' (literal) or 'right_expr' "
      "(second JMESPath expression)"]),
    ("expression_statement_list", {"kind": "expression", "expr": "a > 1; drop table t"},
     ["rules/0: expression 'expr' must be a single SQL boolean expression, not a statement list"]),
]


@pytest.mark.parametrize("rule,expected", [c[1:] for c in CASES], ids=[c[0] for c in CASES])
def test_meta_validation_error_list(rule, expected):
    assert validate_manifest_dict({"id": "m", "rules": [rule]}) == expected


def test_error_list_spans_rules_in_order():
    raw = {"id": "m", "rules": [
        {"kind": "required", "column": "a"},
        {"kind": "contains", "column": "a", "check": "bogus"},
        {"kind": "range", "column": "a"},
    ]}
    assert validate_manifest_dict(raw) == [
        f"rules/1: contains 'check' {_SCALAR} 'bogus'",
        "rules/2: range rule needs at least one bound",
    ]


# -- sub-checks that used to pass meta-validation and then fail at plan build


@pytest.mark.parametrize("check", ["jmespath", "expression", "prefix_items", "pattern_properties", "property_names"])
def test_items_rejects_checks_compile_check_cannot_run(check):
    # each used to pass meta-validation and then fail at plan build with
    # "not a row rule"
    rule = {"kind": "items", "column": "a", "check": check, "left": "a", "operator": "eq", "right": 1,
            "expr": "true", "checks": [{"kind": "required"}], "pattern": "^x"}
    with pytest.raises(InvalidManifest) as exc:
        manifest_from_dict({"id": "m", "rules": [rule]})
    assert exc.value.errors == [f"rules/0: items 'check' must be a scalar row-rule kind, got {check!r}"]


@pytest.mark.parametrize(
    "rule,error",
    [
        ({"kind": "any_of", "column": "a", "checks": [{"kind": "prefix_items", "checks": [{"kind": "required"}]}]},
         "rules/0: any_of checks/0 must be a scalar row-rule kind, got 'prefix_items'"),
        ({"kind": "prefix_items", "column": "a", "checks": [{"kind": "range"}]},
         "rules/0: prefix_items checks/0 range needs at least one bound"),
        ({"kind": "prefix_items", "column": "a", "checks": [{"kind": "required"}],
          "additional_items": {"kind": "length"}},
         "rules/0: prefix_items additional_items length needs min_length or max_length"),
        ({"kind": "prefix_items", "column": "a", "checks": [{"kind": "required"}],
          "additional_items": {"kind": "format", "format": "regex"}},
         "rules/0: format 'regex' is a Python-UDF check and cannot run inside an array-element "
         "lambda; explode the array and use a plain format rule instead"),
    ],
)
def test_sub_checks_that_cannot_build_a_plan_fail_at_load(rule, error):
    # each used to pass meta-validation and then fail at plan build
    assert validate_manifest_dict({"id": "m", "rules": [rule]}) == [error]


# -- equals_table strategy knobs that no longer exist: the rule is one
# full-outer join, so a manifest that still sets one fails loudly


@pytest.mark.parametrize("field,value", [("compare_mode", "hash"), ("max_fetch_keys", 10)])
def test_removed_equals_table_knobs_rejected(tmp_path, capsys, field, value):
    from schema_enforcer_spark.cli import main

    rule = {"kind": "equals_table", "columns": ["k"], "ref_table": "r", "compare": ["v"], field: value}
    assert validate_manifest_dict({"id": "m", "rules": [rule]}) == [
        f"rules/0: Additional properties are not allowed ({field!r} was unexpected)"
    ]
    path = tmp_path / "m.yml"
    path.write_text(
        f"id: schemas/m\ntable: t\nrules:\n  - {{kind: equals_table, columns: [k], ref_table: r, "
        f"compare: [v], {field}: {value}}}\n"
    )
    assert main(["--manifest", str(path), "--input", str(tmp_path / "none")]) == 1
    err = capsys.readouterr().err
    assert f"ERROR | invalid manifest | {path}: rules/0: " in err
    assert repr(field) in err
