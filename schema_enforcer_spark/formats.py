"""Format validators (P7 in SURVEY.md §2.2) as Catalyst-compilable regexes.

The reference enables jsonschema's Draft-7 FORMAT_CHECKER
(/root/reference/schema_enforcer/schemas/jsonschema.py:34) and its test corpus
exercises exactly ten formats (/root/reference/tests/conftest.py:9-20):
ipv4, ipv6, hostname, date, time, date-time, uri, email, json-pointer, regex.

Each format maps to a pure-SQL predicate (SQL text) so the check stays inside
whole-stage codegen (no Python UDF). Error message template matches
jsonschema's FormatChecker phrasing: ``'<value>' is not a '<format>'``.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pandas is imported lazily in _regex_valid_udf — the
    import pandas as pd  # only format needing it; keeps `import
    # schema_enforcer_spark` (CLI/driver startup) pandas-free

# Anchored regexes. These intentionally track what jsonschema's
# format-nongpl checkers accept for the values this engine sees (flat string
# columns); they are documented public regex idioms, not copies of any code.
_IPV4 = r"^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"

# RFC-3986 §3.2.2 ABNF transcribed 1:1 (the grammar Python's `ipaddress`
# — and therefore jsonschema's ipv6 checker — implements): every elision
# position with its exact residual-group budget, trailing embedded IPv4
# (ls32) in both full and compressed forms. The previous hand-rolled
# variant rejected the valid full form '1:2:3:4:5:6:1.2.3.4' (caught by
# the round-5 format property fuzz).
_H16 = r"[0-9A-Fa-f]{1,4}"
_V4 = r"((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
_LS32 = rf"({_H16}:{_H16}|{_V4})"
_IPV6 = (
    rf"^(({_H16}:){{6}}{_LS32}"
    rf"|::({_H16}:){{5}}{_LS32}"
    rf"|({_H16})?::({_H16}:){{4}}{_LS32}"
    rf"|(({_H16}:){{0,1}}{_H16})?::({_H16}:){{3}}{_LS32}"
    rf"|(({_H16}:){{0,2}}{_H16})?::({_H16}:){{2}}{_LS32}"
    rf"|(({_H16}:){{0,3}}{_H16})?::{_H16}:{_LS32}"
    rf"|(({_H16}:){{0,4}}{_H16})?::{_LS32}"
    rf"|(({_H16}:){{0,5}}{_H16})?::{_H16}"
    rf"|(({_H16}:){{0,6}}{_H16})?::"
    r")$"
)

# RFC-1123 hostname: labels of alnum/hyphen, no leading/trailing hyphen.
_HOSTNAME = r"^(?=.{1,253}$)([A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?)(\.[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*$"

_DATE = r"^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])$"
# no leap-second :60 — jsonschema's time checker rejects it
_TIME = r"^([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9](\.\d+)?(Z|z|[+-]([01][0-9]|2[0-3]):[0-5][0-9])$"
_DATETIME = (
    r"^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])[Tt]"
    r"([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9](\.\d+)?(Z|z|[+-]([01][0-9]|2[0-3]):[0-5][0-9])$"
)

# RFC-3986 "has a scheme" check — jsonschema's uri checker rejects 'sftp//'.
_URI = r"^[A-Za-z][A-Za-z0-9+.-]*:\S*$"

# jsonschema's email checker is exactly "contains an @" (no extras exist for
# it); track that for oracle parity — the corpus case 'networktocode.code.com'
# fails, 'a@b' passes. rlike is substring-match, so the bare @ suffices.
_EMAIL = r"@"

# RFC-6901: empty string, or /-prefixed segments with ~ only as ~0 / ~1.
_JSON_POINTER = r"^(/([^/~]|~[01])*)*$"

FORMAT_REGEX: dict[str, str] = {
    "ipv4": _IPV4,
    "ipv6": _IPV6,
    "hostname": _HOSTNAME,
    "date": _DATE,
    "time": _TIME,
    "date-time": _DATETIME,
    "uri": _URI,
    "email": _EMAIL,
    "json-pointer": _JSON_POINTER,
}

SUPPORTED_FORMATS = sorted(FORMAT_REGEX) + ["regex"]


def _regex_valid_batch(values: pd.Series) -> pd.Series:
    """Exact 'compiles as a regex' check, vectorized per Arrow batch with a
    per-batch cache (patterns repeat heavily in real columns — each distinct
    value compiles once)."""
    import re

    import pandas as pd

    cache: dict[str, bool] = {}

    def ok(v):
        if v is None:
            return True
        hit = cache.get(v)
        if hit is None:
            try:
                re.compile(v)
                hit = True
            except re.error:
                hit = False
            cache[v] = hit
        return hit

    return pd.Series([ok(v) for v in values], dtype="boolean")


def _regex_valid_udf():
    # built lazily: pandas_udf needs an active SparkSession to parse the DDL,
    # and its type-hint introspection resolves `pd.Series` in THIS module's
    # globals — bind pandas here so plain engine imports stay pandas-free
    global pd
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    return pandas_udf(_regex_valid_batch, "boolean")


def format_sql(c: str, fmt: str) -> str:
    """SQL that is true iff the value *c* (SQL text) satisfies *fmt*. NULL
    inputs are true (jsonschema format checks only apply to present string
    values; nullability is a separate `required` rule). The ``regex``
    format has no SQL form: 'is a valid regex' is a compiler check
    (the reference's test conftest uses re.compile), so it is the ONE
    format that drops to Python — :func:`_regex_valid_udf`, Arrow-batched
    with per-batch memoization, exact on pathological cases ('a{2,1}', lone
    '[') — and the row-rule compiler applies it as a Column."""
    from schema_enforcer_spark.compiler import _sql_lit

    try:
        pattern = FORMAT_REGEX[fmt]
    except KeyError:
        raise ValueError(f"unsupported format {fmt!r}; supported: {SUPPORTED_FORMATS}") from None
    shape = f"{c} RLIKE {_sql_lit(pattern)}"
    if fmt in ("date", "date-time"):
        # jsonschema's checkers are calendar-aware (date.fromisoformat /
        # rfc3339: 2021-02-30 is invalid); a shape regex alone passes it
        # (caught by the round-5 property fuzz). Day-in-month check stays
        # pure codegen: regex guarantees the YYYY-MM-DD prefix positions
        # and month 01-12, so make_date(y, m, 1) is safe inside the
        # CASE WHEN shape branch (CaseWhen evaluates lazily per row — ANSI
        # make_date never sees an invalid month).
        y, m, d = (f"CAST(substring({c}, {pos}, {n}) AS INT)" for pos, n in ((1, 4), (6, 2), (9, 2)))
        shape = f"CASE WHEN {shape} THEN {d} <= dayofmonth(last_day(make_date({y}, {m}, 1))) ELSE false END"
    return f"({c} IS NULL OR {shape})"
