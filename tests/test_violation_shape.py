"""One violation shape for every kind that emits violations: the default
rule id (``schema_id``) is pinned exactly, and a rule's own ``id`` and
``message`` replace the default on every row it emits.

Each case is the smallest input that fires its rule. Companion rules
(needed to put a unique rule into the fused window pass) carry ids under
``companion/`` and are left out of the assertions."""

from __future__ import annotations

import pytest

from schema_enforcer_spark.engine import ValidationEngine
from schema_enforcer_spark.manifest import manifest_from_dict

_ROWS = [
    # id, g, v, s, arr, mp, ts
    (0, "a", 1, "x", [5, 1, 7], {"bad": "1", "k1": "1"}, 100),
    (1, "a", 1, "y", [0], {"k1": "toolong"}, 101),
    (2, "b", 2, "x", [0, 9], {"k2": "1"}, 100),
    (3, "b", 3, "z", [], {}, 99),
    (4, "c", 1, "x", [1], {"k3": "1"}, 104),
    (5, "c", 1, "x", [1], {"k3": "1"}, 105),
    (6, "c", 1, "x", [1], {"k3": "1"}, 106),
    (7, "c", 1, "x", [1], {"k3": "1"}, 107),
    (8, "c", 100, "x", [1], {"k3": "1"}, 108),
]
_SCHEMA = "id long, g string, v long, s string, arr array<long>, mp map<string,string>, ts long"
_REF_ROWS = [(0, "a", 1, "x"), (1, "a", 1, "CHANGED"), (2, "q", 2, "x")]
_REF_SCHEMA = "id long, g string, v long, s string"

_DRIFT_BASELINE = {"lo": 0.0, "hi": 10.0, "bins": 2, "counts": [0, 0, 0, 100]}
_ORDERING = {"kind": "ordering", "id": "companion/ordering", "column": "ts",
             "partition_by": ["g"], "order_by": ["id"]}

# (case, rule, default schema_id, companion rules, the rule honours `message`)
CASES = [
    ("unique", {"kind": "unique", "columns": ["g"]}, "m/unique/g", [], True),
    ("unique_fused", {"kind": "unique", "columns": ["g", "v"]}, "m/unique/g+v", [_ORDERING], True),
    ("referential", {"kind": "referential", "columns": ["g"], "ref_table": "ref", "ref_columns": ["g"]},
     "m/referential/g", [], True),
    ("equals_table", {"kind": "equals_table", "columns": ["id"], "ref_table": "ref", "compare": ["s"]},
     "m/equals_table/ref", [], True),
    ("cardinality", {"kind": "cardinality", "columns": ["g"], "ref_table": "ref", "ref_columns": ["g"],
                     "min_count": 1}, "m/cardinality/g", [], True),
    ("functional_dependency", {"kind": "functional_dependency", "columns": ["g"], "dependent": "s"},
     "m/functional_dependency/g->s", [], True),
    ("outlier", {"kind": "outlier", "column": "v", "exact": True}, "m/outlier/v", [], True),
    ("rate_limit", {"kind": "rate_limit", "partition_by": ["g"], "order_by": ["ts"],
                    "window_seconds": 10, "max_count": 1}, "m/rate_limit/g", [], True),
    ("aggregate", {"kind": "aggregate", "group_by": ["g"], "left": {"fn": "count"},
                   "operator": "lte", "right": 1}, "m/aggregate/g", [], True),
    ("ordering", {"kind": "ordering", "column": "ts", "partition_by": ["g"], "order_by": ["id"]},
     "m/ordering/ts", [], True),
    ("contiguous", {"kind": "contiguous", "column": "id", "partition_by": ["g"]}, "m/contiguous/id", [], True),
    ("sequence", {"kind": "sequence", "column": "s", "partition_by": ["g"], "order_by": ["id"],
                  "allowed_transitions": [["x", "y"]]}, "m/sequence/s", [], True),
    ("conditional_otherwise", {"kind": "conditional", "when": {"column": "s", "equals": "x"},
                               "then": {"column": "v", "equals": 1},
                               "otherwise": {"column": "ts", "equals": 0}}, "m/conditional/v|ts", [], True),
    ("items", {"kind": "items", "column": "arr", "check": "range", "maximum": 4}, "m/items/arr", [], True),
    ("prefix_items", {"kind": "prefix_items", "column": "arr", "checks": [{"kind": "range", "maximum": 0}],
                      "additional_items": False}, "m/prefix_items/arr", [], True),
    ("pattern_properties_check", {"kind": "pattern_properties", "column": "mp", "pattern": "^k",
                                  "check": "length", "max_length": 3}, "m/pattern_properties/mp", [], True),
    # like strict_columns, the rejected-key row keeps jsonschema's fixed
    # additionalProperties text
    ("pattern_properties_extras", {"kind": "pattern_properties", "column": "mp", "pattern": "^k",
                                   "additional_properties": False}, "m/pattern_properties/mp", [], False),
    ("property_names", {"kind": "property_names", "column": "mp", "check": "pattern", "pattern": "^k"},
     "m/property_names/mp", [], True),
    ("enum", {"kind": "enum", "column": "s", "values": ["x"]}, "m/enum/s", [], True),
    ("jmespath", {"kind": "jmespath", "left": "v", "operator": "lt", "right": 2}, "m/jmespath", [], True),
    ("expression", {"kind": "expression", "expr": "v < 3", "column": "v"}, "m/expression/v", [], True),
    # the schema-pass row carries jsonschema's fixed additionalProperties text
    ("strict_columns", {"kind": "strict_columns", "columns": ["id", "g"]}, "m/strict_columns", [], False),
    ("drift", {"kind": "drift", "column": "v", "metric": "psi", "threshold": 0.1, "baseline": _DRIFT_BASELINE},
     "m/drift/v", [], True),
]


def _violations(spark, rule: dict, companions: list[dict]) -> list:
    m = manifest_from_dict({"id": "m", "table": "t", "rules": [rule, *companions]})
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    ref = spark.createDataFrame(_REF_ROWS, _REF_SCHEMA)
    rows = ValidationEngine(m, key_columns=["id"]).violations(df, {"ref": ref}).collect()
    return [r for r in rows if not r["schema_id"].startswith("companion/")]


@pytest.mark.parametrize(
    "rule,default_id,companions,honours_message",
    [pytest.param(*c[1:], id=c[0]) for c in CASES],
)
def test_default_and_custom_id_and_message(spark, rule, default_id, companions, honours_message):
    plain = _violations(spark, rule, companions)
    assert plain, "the case input must fire the rule"
    assert {r["schema_id"] for r in plain} == {default_id}
    assert all(r["message"] != "custom message" for r in plain)

    custom = _violations(spark, {**rule, "id": "custom/id", "message": "custom message"}, companions)
    assert len(custom) == len(plain)
    assert {r["schema_id"] for r in custom} == {"custom/id"}
    if honours_message:
        assert {r["message"] for r in custom} == {"custom message"}
    else:
        assert sorted(r["message"] for r in custom) == sorted(r["message"] for r in plain)


def test_empty_message_keeps_the_default(spark):
    """An empty ``message`` counts as unset, the same as no message."""
    rule = {"kind": "enum", "column": "s", "values": ["x"]}
    plain = _violations(spark, rule, [])
    empty = _violations(spark, {**rule, "message": ""}, [])
    assert sorted(r["message"] for r in empty) == sorted(r["message"] for r in plain)
