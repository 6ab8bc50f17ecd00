"""Row-rule compiler: manifest rules → Spark SQL expression text.

This is the engine's "validator compile" step — the analogue of building a
cached Draft7Validator per schema (/root/reference/schema_enforcer/schemas/
jsonschema.py:90-101), except the compiled artifact is SQL text for each
rule's predicate, message and failing value, which Tungsten evaluates inside
whole-stage codegen. No per-row Python anywhere (north_rule requirement).

Text, not Column chains: every pyspark call costs a fixed ~16 py4j round
trips (its call-site capture included) whatever the size of the expression,
so the engine parses a manifest's whole violation array with ONE ``F.expr``
instead of paying that per Column node. Every literal goes through
:func:`_sql_lit` and every identifier through :func:`_sql_ident`. Only user
SQL (expression rules), JMESPath rules and the ``format: regex`` Python UDF
stay Columns; they are never spliced into generated text.

Error-message templates mirror jsonschema Draft-7 phrasing so that the
pytest suite can cross-check collected violation rows against a real
``jsonschema.Draft7Validator`` oracle (SURVEY.md §5; exact strings e.g.
"True is not of type 'string'" /root/reference/tests/test_jsonschema.py:89,
format strings /root/reference/tests/conftest.py:9-20).
"""

from __future__ import annotations

import datetime
import math
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schema_enforcer_spark.formats import _regex_valid_udf, format_sql
from schema_enforcer_spark.manifest import ENTRY_ARRAYS, Manifest, Rule

# characters a string literal never carries raw: the quote, the backslash
# (escape processing depends on spark.sql.parser.escapedStringLiterals) and
# '$' (the parser substitutes ${var} inside literals)
_UNSAFE = re.compile(r"['\\$]")


def _sql_lit(v) -> str:
    """*v* as a Spark SQL literal of the type ``F.lit(v)`` gives it: a
    Python int is an INT (BIGINT past 32 bits), a float a DOUBLE (never a
    DECIMAL), and a string comes out the same under either setting of
    ``spark.sql.parser.escapedStringLiterals``."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        if isinstance(v, float) and not math.isfinite(v):
            return f"CAST('{v}' AS DOUBLE)"  # 'inf', '-inf' and 'nan' cast as Spark reads them
        text = f"{v!r}D" if isinstance(v, float) else (str(v) if -(2**31) <= v < 2**31 else f"{v}L")
        # parenthesized when negative, so no '-' ever follows another one
        return f"({text})" if text.startswith("-") else text
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP'{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE'{v.isoformat()}'"
    if not isinstance(v, str):
        raise TypeError(f"no SQL literal for {type(v).__name__} value {v!r}")
    if not _UNSAFE.search(v):
        return f"'{v}'"
    # the unsafe characters as chr() calls between plain pieces; constant
    # folding turns the concat back into one literal before execution
    parts = []
    for piece in re.split(r"(['\\$])", v):
        if piece in ("'", "\\", "$"):
            parts.append(f"chr({ord(piece)})")
        elif piece:
            parts.append(f"'{piece}'")
    return f"concat({', '.join(parts)})"


def _sql_ident(name: str) -> str:
    """A (possibly dotted) column path as backticked identifier parts."""
    return ".".join(f"`{p.replace('`', '``')}`" for p in name.split("."))


def _lambda_var(stem: str, taken) -> str:
    """A SQL lambda variable named after *stem* that is no input column's
    name, so it never hides a column its body reads."""
    lower = {c.lower() for c in taken}
    name = f"_{stem}"
    while name.lower() in lower:
        name += "_"
    return name


def _concat(*parts: str) -> str:
    return f"concat({', '.join(parts)})"


def _case(branches: list[tuple[str, str]], default: str | None = None) -> str:
    """CASE WHEN over (condition, value) pairs; the first true one wins."""
    body = " ".join(f"WHEN {c} THEN {v}" for c, v in branches)
    return f"CASE {body}{'' if default is None else f' ELSE {default}'} END"


def _failed(pred: str) -> str:
    """The rule fails: its predicate is false (NULL passes)."""
    return f"NOT coalesce({pred}, true)"


@dataclass
class CompiledRule:
    """One row rule, ready for the single-pass violation projection. Each
    part is SQL text, except the Column parts of a user SQL, JMESPath or
    ``format: regex`` rule."""

    rule_id: str                   # "<manifest_id>/<kind>/<column>"
    column: str | None             # column under test (None for strict_columns)
    predicate: str | Column        # True ⇒ row passes this rule
    message: str | Column          # jsonschema-parity error message (only read when predicate is False)
    failing_value: str | Column    # string-cast offending value (F5 coercion, validation.py:19)


def rule_message(rule: Rule, default):
    """A violation's message: the rule's own ``message`` (as a SQL literal)
    when it sets a non-empty one, else *default* (SQL text or a Column)."""
    own = rule.message_or(None)
    return default if own is None else _sql_lit(own)


def _dtype_of(df: DataFrame, name: str) -> T.DataType:
    """Resolve a (possibly dotted) column path to its data type. A dot means
    struct-field traversal — the nested-document analogue of the reference's
    ``properties`` walk (schemas are trees; a parquet/Iceberg payload column
    is a struct, and ``payload.dns.address`` addresses a leaf)."""
    return _dtype_in(T.StructType(df.schema.fields), name, df.columns)


def _dtype_in(struct: T.StructType, name: str, columns) -> T.DataType:
    cur: T.DataType = struct
    for part in name.split("."):
        if not isinstance(cur, T.StructType):
            raise KeyError(f"path {name!r}: {part!r} is not a struct field")
        match = next((f_ for f_ in cur.fields if f_.name == part), None)
        if match is None:
            raise KeyError(f"column {name!r} not in DataFrame columns {list(columns)}")
        cur = match.dataType
    return cur


def has_column_path(df: DataFrame, name: str) -> bool:
    try:
        _dtype_of(df, name)
        return True
    except KeyError:
        return False


_Q = _sql_lit("'")
_NOT_INT = _sql_lit(r"[^\s0-9+-]")  # a character no integer literal holds


def py_repr(c: str, dtype: T.DataType) -> str:
    """Python ``repr()`` of a scalar value, as SQL — needed because
    jsonschema interpolates ``repr(instance)`` into its messages."""
    if isinstance(dtype, T.BooleanType):
        return f"CASE WHEN {c} IS NULL THEN 'None' WHEN {c} THEN 'True' ELSE 'False' END"
    if isinstance(dtype, (T.StringType, T.TimestampType)):
        return f"coalesce(concat({_Q}, CAST({c} AS STRING), {_Q}), 'None')"
    return f"coalesce(CAST({c} AS STRING), 'None')"


def _type_check(want: str, c: str, dt: T.DataType) -> str:
    """JSONSchema type name → predicate over the raw value. Values arrive
    typed from parquet; a "type" rule therefore checks the *value domain*
    (e.g. a string column holding what must parse as int)."""
    is_str = isinstance(dt, T.StringType)
    if want == "string":
        return "true" if is_str else "false"
    if want == "integer":
        if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
            return "true"
        if not is_str:
            return "false"
        return f"({c} IS NULL OR (TRY_CAST({c} AS BIGINT) IS NOT NULL AND NOT {c} RLIKE {_NOT_INT}))"
    if want == "number":
        if isinstance(dt, T.NumericType):
            return "true"
        return f"({c} IS NULL OR TRY_CAST({c} AS DOUBLE) IS NOT NULL)" if is_str else "false"
    if want == "boolean":
        if isinstance(dt, T.BooleanType):
            return "true"
        return f"({c} IS NULL OR lower({c}) IN ('true', 'false'))" if is_str else "false"
    if want == "timestamp":
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            return "true"
        return f"({c} IS NULL OR try_to_timestamp({c}) IS NOT NULL)"
    if want == "null":
        return f"({c} IS NULL)"
    if want == "array":
        return "true" if isinstance(dt, T.ArrayType) else "false"
    # JSON objects land in Spark as structs (fixed fields) or maps (dynamic
    # keys — the patternProperties shape); both are 'object'
    return "true" if isinstance(dt, (T.StructType, T.MapType)) else "false"


def _first_failing(c: str, branches: list[tuple[str, str]]) -> tuple[str, str]:
    """(predicate, message) of a check with several bounds: *branches*
    holds a (failing condition, message) pair per bound; a value fails the
    first bound it breaks, and NULL passes."""
    return f"({c} IS NULL OR NOT ({' OR '.join(b for b, _ in branches)}))", _case(branches, "''")


def compile_check(
    c: str, dtype: T.DataType, kind: str, get, label: str, taken=(), regex_ok: str | None = None
) -> tuple[str, str]:
    """One constraint check over an arbitrary SQL expression → (predicate,
    message), both SQL text.

    *c* may be a plain column, a nested struct field, or an array-element
    lambda variable — the same check logic serves flat rules, dotted-path
    rules, and per-element ``items`` rules. *get* looks up rule params;
    *label* is the leaf field name used in 'required property' messages
    (jsonschema names the missing key, not the full path); *taken* holds the
    input's column names, which a lambda variable must not take.
    *regex_ok* is the SQL standing for "the value compiles as a regex" (the
    ``format: regex`` check runs as a Python UDF, so the caller supplies
    its result); without it that format is rejected."""
    rep = py_repr(c, dtype)
    if kind == "required":
        return f"({c} IS NOT NULL)", _sql_lit(f"'{label}' is a required property")
    if kind == "not_empty":
        msg = _case([(f"{c} IS NULL", _sql_lit(f"'{label}' is a required property"))], _concat(rep, "' is too short'"))
        return f"({c} IS NOT NULL AND length(CAST({c} AS STRING)) > 0)", msg
    if kind == "type":
        want = get("type")
        return _type_check(want, c, dtype), _concat(rep, _sql_lit(f" is not of type '{want}'"))
    if kind == "enum":
        values = get("values")
        listed = f"{c} IN ({', '.join(map(_sql_lit, values))})" if values else "false"
        msg = _concat(rep, _sql_lit(f" is not one of {values!r}"))
        if get("suggest"):
            # opt-in repair hint (default OFF: the bare message is the
            # reference's jsonschema parity surface): closest allowed value
            # by levenshtein distance, ties broken by the rendered literal —
            # an array_min over (distance, repr) structs, one codegen
            # expression, no join against anything
            cands = ", ".join(
                f"named_struct('d', levenshtein(CAST({c} AS STRING), {_sql_lit(str(v))}), 'v', {_sql_lit(repr(v))})"
                for v in values
            )
            msg = _concat(msg, "' (did you mean '", f"array_min(array({cands})).v", "'?)'")
        return f"({c} IS NULL OR {listed})", msg
    if kind == "pattern":
        pattern = get("pattern")
        return f"({c} IS NULL OR {c} RLIKE {_sql_lit(pattern)})", _concat(rep, _sql_lit(f" does not match {pattern!r}"))
    if kind == "format":
        fmt = get("format")
        if fmt == "regex":
            if regex_ok is None:
                raise ValueError("format 'regex' is a Python-UDF check and cannot run inside a SQL lambda")
            pred = f"({c} IS NULL OR {regex_ok})"
        else:
            pred = format_sql(c, fmt)
        return pred, _concat(rep, _sql_lit(f" is not a '{fmt}'"))
    if kind == "range":
        bounds = (("minimum", "<", "is less than the minimum of"),
                  ("exclusive_minimum", "<=", "is less than or equal to the minimum of"),
                  ("maximum", ">", "is greater than the maximum of"),
                  ("exclusive_maximum", ">=", "is greater than or equal to the maximum of"))
        return _first_failing(c, [
            (f"{c} {op} {_sql_lit(v)}", _concat(rep, _sql_lit(f" {text} {v!r}")))
            for name, op, text in bounds if (v := get(name)) is not None
        ])
    if kind == "length":
        ln = f"length({c})" if isinstance(dtype, T.StringType) else f"size({c})"
        return _first_failing(c, [
            (f"{ln} {op} {_sql_lit(v)}", _concat(rep, text))
            for name, op, text in (("min_length", "<", "' is too short'"), ("max_length", ">", "' is too long'"))
            if (v := get(name)) is not None
        ])
    if kind == "property_count":
        # Draft-7 minProperties/maxProperties (jsonschema/_validators.py
        # minProperties: "%r does not have enough properties", maxProperties:
        # "%r has too many properties") over a MAP column — the dynamic-key
        # object shape; completes the object-keyword family alongside
        # pattern_properties / property_names / strict_columns. JSON repr
        # (to_json) stands in for Python repr of the instance, the same
        # container-repr convention as unique_items/contains.
        if not isinstance(dtype, T.MapType):
            raise ValueError(
                f"property_count rule column {label!r} is "
                f"{dtype.simpleString()}, not a map"
            )
        return _first_failing(c, [
            (f"size({c}) {op} {_sql_lit(v)}", _concat(f"to_json({c})", text))
            for name, op, text in (("min_properties", "<", "' does not have enough properties'"),
                                   ("max_properties", ">", "' has too many properties'"))
            if (v := get(name)) is not None
        ])
    if kind == "multiple_of":
        n = get("multiple_of")
        pred = f"({c} IS NULL OR CAST({c} AS DOUBLE) % {_sql_lit(float(n))} = 0.0D)"
        return pred, _concat(rep, _sql_lit(f" is not a multiple of {n!r}"))
    if kind == "unique_items":
        pred = f"({c} IS NULL OR array_size(array_distinct({c})) = array_size({c}))"
        return pred, _concat(f"to_json({c})", "' has non-unique elements'")
    if kind in ("any_of", "all_of", "one_of", "not"):
        # Draft-7 composition (anyOf / allOf / oneOf / not —
        # jsonschema/_validators.py anyOf_draft4 etc.): each entry of
        # `checks` is a sub-schema expressed as a scalar rule spec
        # ({kind: range, maximum: 5}); the composition is pure boolean
        # algebra over the sub-predicates, still one projection inside
        # whole-stage codegen. NULL always passes (the engine-wide
        # convention: only `required`/`not_empty` fail on NULL) — matching
        # jsonschema, where a missing property is never validated.
        pairs = [compile_check(c, dtype, s["kind"], s.get, label, taken, regex_ok) for s in get("checks")]
        subs = [p for p, _ in pairs]
        if kind == "any_of":
            return f"({c} IS NULL OR ({' OR '.join(subs)}))", _concat(
                rep, "' is not valid under any of the given schemas'")
        if kind == "all_of":
            # jsonschema's allOf has no aggregate message — it surfaces each
            # failing sub-schema's own error (descend() in _validators.py
            # allOf); emit the FIRST failing sub-check's message for parity
            msg = _case([(_failed(s), m) for s, m in pairs], "'is not valid under all of the given schemas'")
            return f"({c} IS NULL OR ({' AND '.join(subs)}))", msg
        if kind == "one_of":
            n_valid = f"({' + '.join(f'CAST({s} AS INT)' for s in subs)})"
            msg = _case(
                [(f"{n_valid} > 1", _concat(rep, "' is valid under more than one of the given schemas'"))],
                _concat(rep, "' is not valid under any of the given schemas'"),
            )
            return f"({c} IS NULL OR {n_valid} = 1)", msg
        # not: must NOT satisfy the conjunction of the sub-checks
        return f"({c} IS NULL OR NOT ({' AND '.join(subs)}))", _concat(
            rep, "' should not be valid under the given schema'")
    if kind == "const":
        v = get("value")
        return f"({c} IS NULL OR {c} <=> {_sql_lit(v)})", _sql_lit(f"{v!r} was expected")
    if kind == "contains":
        # Draft-6+ `contains`: array must hold >=1 element satisfying the
        # sub-check — one exists() over the cell, like the items rule but
        # existential instead of universal.
        if not isinstance(dtype, T.ArrayType):
            raise ValueError(f"contains rule needs an array column, got {dtype.simpleString()}")
        sub_kind = get("check")
        e = _lambda_var("e", taken)
        sub = compile_check(e, dtype.elementType, sub_kind, get, label, taken)[0]
        # Existential quantifier inverts the engine's NULL-passes leniency:
        # under exists(), a NULL element would VACUOUSLY satisfy the check.
        # jsonschema semantics per sub-keyword: enum/const DO constrain a
        # null instance (null fails unless listed), so a null element must
        # not count as a witness there; value-domain checks (range, pattern,
        # length, ...) ignore non-applicable instances in jsonschema too, so
        # NULL-passes stays correct for them.
        if sub_kind in ("enum", "const"):
            sub = f"({e} IS NOT NULL AND {sub})"
        return f"({c} IS NULL OR exists({c}, {e} -> {sub}))", _concat(
            f"to_json({c})", "' does not contain items matching the given schema'")
    if kind == "dependent_required":
        # Draft-2019 dependentRequired / Draft-7 `dependencies` with a
        # property list: when `column` is present (non-null), every column in
        # `requires` must also be present. Message parity:
        # "%r is a dependency of %r" (jsonschema/_validators.py dependencies).
        return _first_failing(c, [
            (f"{_sql_ident(r)} IS NULL", _sql_lit(f"'{r}' is a dependency of '{label}'")) for r in get("requires")
        ])
    raise ValueError(f"not a row rule: {kind}")


def _regex_leaf(kind: str, get) -> bool:
    """The check runs the ``format: regex`` Python UDF, itself or as a
    composition sub-check (the loader rejects it inside any lambda)."""
    if kind == "format":
        return get("format") == "regex"
    return kind in ("any_of", "all_of", "one_of", "not") and any(
        _regex_leaf(s["kind"], s.get) for s in get("checks")
    )


def compile_row_rule(df: DataFrame, manifest_id: str, rule: Rule) -> CompiledRule:
    if rule.kind == "jmespath":
        # literal JMESPath expression strings (reference validator.py:65-88)
        # compile to a whole-row Catalyst expression, not a column check
        from schema_enforcer_spark.jmespath_compat import compile_jmespath_rule

        return compile_jmespath_rule(df, manifest_id, rule)
    col_name = rule.get("column")
    c = _sql_ident(col_name) if col_name else None
    fv = f"CAST({c} AS STRING)" if col_name else "CAST(NULL AS STRING)"
    rid = rule.rule_id(manifest_id, col_name or "*")
    if rule.kind == "expression":
        # declarative SQL boolean over the whole row — the Spark-native twin
        # of the reference's custom-validator subclasses (validator.py:90-117
        # let users write arbitrary Python per model); here the predicate is
        # Catalyst-compiled onto the same zero-shuffle row projection as
        # every other row rule. The user's SQL stays its own Column (never
        # spliced into generated text). Resolve it against the input schema
        # NOW so a typo'd column or non-boolean expression fails at
        # manifest-compile time, not mid-job over 100 TB (schema-only: no job
        # runs).
        pred = F.expr(rule.params["expr"])
        dt = df.select(pred.alias("_e")).schema[0].dataType
        if not isinstance(dt, T.BooleanType):
            raise ValueError(
                f"expression rule must be a SQL boolean, got {dt.simpleString()}: "
                f"{rule.params['expr']!r}"
            )
        if col_name and not has_column_path(df, col_name):
            raise ValueError(f"expression rule renders column {col_name!r}, which the input lacks")
        msg = rule_message(rule, _sql_lit(f"does not satisfy {rule.params['expr']!r}"))
        fv = py_repr(c, _dtype_of(df, col_name)) if col_name else fv
        return CompiledRule(rule_id=rid, column=col_name, predicate=pred, message=msg, failing_value=fv)
    dtype = _dtype_of(df, col_name) if col_name else None
    label = col_name.split(".")[-1] if col_name else "*"
    if _regex_leaf(rule.kind, rule.get):
        # the Python UDF stays a Column: the text is compiled for both of
        # its answers and the UDF picks one per row (it never returns NULL)
        (p_ok, msg), (p_bad, m_bad) = (
            compile_check(c, dtype, rule.kind, rule.get, label, df.columns, ok) for ok in ("true", "false")
        )
        ok = _regex_valid_udf()(F.col(col_name))
        pred = F.when(ok, F.expr(p_ok)).otherwise(F.expr(p_bad))
        if msg != m_bad:  # all_of names its first failing sub-check
            msg = F.when(ok, F.expr(msg)).otherwise(F.expr(m_bad))
    else:
        pred, msg = compile_check(c, dtype, rule.kind, rule.get, label, df.columns)
    return CompiledRule(rule_id=rid, column=col_name, predicate=pred, message=rule_message(rule, msg), failing_value=fv)


def compile_row_rules(df: DataFrame, manifest: Manifest) -> list[CompiledRule]:
    """Compile all row rules, skipping rules on columns the DataFrame lacks
    (column presence is the strict/required concern, handled separately —
    mirrors the reference skipping non-matching schemas,
    /root/reference/schema_enforcer/instances/file.py:193-195)."""
    compiled = []
    for rule in manifest.row_rules:
        if rule.rule_kind.evaluator == ENTRY_ARRAYS:
            continue  # array-element / map-entry rules emit per-entry violations — engine path
        col_name = rule.get("column")
        # expression rules fail loudly on missing columns (the expr is the
        # contract, `column` only renders) — never the silent skip below
        if col_name and rule.kind != "expression" and not has_column_path(df, col_name):
            if rule.rule_kind.missing_fails:
                # Missing column ≡ missing required property for every row.
                # The rule keeps its OWN kind in the fallback id so a rule's
                # schema_id never changes with column presence.
                compiled.append(
                    CompiledRule(
                        rule_id=rule.rule_id(manifest.id, col_name),
                        column=col_name,
                        predicate="false",
                        message=_sql_lit(f"'{col_name.split('.')[-1]}' is a required property"),
                        failing_value="CAST(NULL AS STRING)",
                    )
                )
            continue
        compiled.append(compile_row_rule(df, manifest.id, rule))
    return compiled
