"""Manifest strings and numbers reach the plan unchanged.

Hostile strings (quotes, backslashes, a backtick, SQL comment openers,
``${x}`` variable syntax and non-ASCII text) sit in enum values, a const, two
patterns, a message override and a rule-id override; one column name holds a
space; numeric params cover 0, -1, 350.0, 2**40 and 1e-3; one expression
rule ends in a ``--`` comment. The expected violation rows, messages
included, are computed in Python, and the run repeats with
``spark.sql.parser.escapedStringLiterals`` off and on."""

from __future__ import annotations

import math
import re

import pytest

from schema_enforcer_spark.engine import ValidationEngine
from schema_enforcer_spark.manifest import manifest_from_dict

HOSTILE = ["it's", "back\\slash", "tick`", "dash--x", "/*open", "${x}", "naïve ✓"]
CONST = "a'b\\c${x}--/*`é"
PAT_D = r"^\d+$"
PAT_Q = "it's\\\\"  # the regex it's\\ : a literal it's followed by one backslash
MSG = "bad 'quote' \\ ${x} -- /* `tick` é ✓"
RID = "r'id\\${x}--/*`é"
EXPR = "n >= 0 -- non-negative"

_SCHEMA = ("conv_id string, turn_idx int, role string, text string, `my col` string, code string, "
           "tag string, x double, big bigint, n int")
_ROWS = [
    ("c0", 0, "it's", CONST, "v", "123", "it's\\", 0.0, 2**40, 0),
    ("c0", 1, "back\\slash", "a'b", None, "12a", "it''s", 350.0, 2**40 + 1, -1),
    ("c0", 2, "${x}", "${x}", "sp ace", "\\d", "x it's\\ y", 0.5, None, -2),
    ("c1", 0, "naïve ✓", "--", None, None, "'", None, -5, None),
    ("c1", 1, "tick`", "/*", "é", "'", "\\", 349.999, 0, 5),
    ("c1", 2, "nope'", None, "x", "7", None, -0.001, 1, 1),
]
_COLS = ["conv_id", "turn_idx", "role", "text", "my col", "code", "tag", "x", "big", "n"]

RULES = [
    {"kind": "enum", "column": "role", "values": HOSTILE},
    {"kind": "const", "column": "text", "value": CONST},
    {"kind": "pattern", "column": "code", "pattern": PAT_D},
    {"kind": "pattern", "column": "tag", "pattern": PAT_Q, "message": MSG},
    {"kind": "required", "column": "my col"},
    {"kind": "range", "column": "n", "minimum": 0},
    {"kind": "range", "column": "n", "minimum": -1, "id": RID},
    {"kind": "range", "column": "x", "exclusive_maximum": 350.0},
    {"kind": "range", "column": "big", "maximum": 2**40},
    {"kind": "multiple_of", "column": "x", "multiple_of": 1e-3},
    {"kind": "expression", "expr": EXPR, "column": "n"},
]


def _rep(v) -> str:
    """The engine's value rendering in messages: quoted strings, 'None'."""
    if v is None:
        return "None"
    return f"'{v}'" if isinstance(v, str) else str(v)


def _fails(rule: dict, v) -> bool:
    kind = rule["kind"]
    if kind == "required":
        return v is None
    if v is None:
        return False
    if kind == "enum":
        return v not in rule["values"]
    if kind == "const":
        return v != rule["value"]
    if kind == "pattern":
        return re.search(rule["pattern"], v) is None
    if kind == "range":
        return ("minimum" in rule and v < rule["minimum"]) or (
            "maximum" in rule and v > rule["maximum"]) or (
            "exclusive_maximum" in rule and v >= rule["exclusive_maximum"])
    if kind == "multiple_of":
        return math.fmod(v, rule["multiple_of"]) != 0.0
    return not v >= 0  # the expression rule


def _message(rule: dict, v) -> str:
    kind, rep = rule["kind"], _rep(v)
    if "message" in rule:
        return rule["message"]
    if kind == "enum":
        return f"{rep} is not one of {rule['values']!r}"
    if kind == "const":
        return f"{rule['value']!r} was expected"
    if kind == "pattern":
        return f"{rep} does not match {rule['pattern']!r}"
    if kind == "required":
        return f"'{rule['column']}' is a required property"
    if kind == "range":
        if "minimum" in rule:
            return f"{rep} is less than the minimum of {rule['minimum']!r}"
        if "maximum" in rule:
            return f"{rep} is greater than the maximum of {rule['maximum']!r}"
        return f"{rep} is greater than or equal to the maximum of {rule['exclusive_maximum']!r}"
    if kind == "multiple_of":
        return f"{rep} is not a multiple of {rule['multiple_of']!r}"
    return f"does not satisfy {rule['expr']!r}"


def _expected() -> list[tuple]:
    out = []
    for row in _ROWS:
        rec = dict(zip(_COLS, row))
        for rule in RULES:
            v = rec[rule["column"]]
            if not _fails(rule, v):
                continue
            rid = rule.get("id") or f"lit/m/{rule['kind']}/{rule['column']}"
            failing = _rep(v) if rule["kind"] == "expression" else (None if v is None else str(v))
            out.append((rid, (rec["conv_id"], str(rec["turn_idx"]), rule["column"]), failing, _message(rule, v)))
    return sorted(out, key=repr)


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_hostile_literals_reach_messages_unchanged(spark, escaped):
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        m = manifest_from_dict({"id": "lit/m", "table": "t", "rules": RULES})
        df = spark.createDataFrame(_ROWS, _SCHEMA)
        rows = ValidationEngine(m).violations(df).collect()
    finally:
        spark.conf.set(key, before)
    got = sorted(
        ((r["schema_id"], tuple(r["absolute_path"]), r["failing_value"], r["message"]) for r in rows), key=repr
    )
    assert got == _expected()
