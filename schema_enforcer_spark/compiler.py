"""Row-rule compiler: manifest rules → Catalyst Column expressions.

This is the engine's "validator compile" step — the analogue of building a
cached Draft7Validator per schema (/root/reference/schema_enforcer/schemas/
jsonschema.py:90-101), except the compiled artifact is a list of Catalyst
``Column`` predicates + message expressions that Tungsten evaluates inside
whole-stage codegen. No per-row Python anywhere (north_rule requirement).

Error-message templates mirror jsonschema Draft-7 phrasing so that the
pytest suite can cross-check collected violation rows against a real
``jsonschema.Draft7Validator`` oracle (SURVEY.md §5; exact strings e.g.
"True is not of type 'string'" /root/reference/tests/test_jsonschema.py:89,
format strings /root/reference/tests/conftest.py:9-20).
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schema_enforcer_spark.formats import format_predicate
from schema_enforcer_spark.manifest import ENTRY_ARRAYS, Manifest, Rule


@dataclass
class CompiledRule:
    """One row rule, ready for the single-pass violation projection."""

    rule_id: str            # "<manifest_id>/<kind>/<column>"
    column: str | None      # column under test (None for strict_columns)
    predicate: Column       # True ⇒ row passes this rule
    message: Column         # jsonschema-parity error message (only read when predicate is False)
    failing_value: Column   # string-cast offending value (F5 coercion, validation.py:19)


def rule_message(rule: Rule, default: Column | str) -> Column:
    """A violation's message: the rule's own ``message`` when it sets a
    non-empty one, else *default* (a str becomes a literal)."""
    return F.lit(rule.message_or(default))


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


def py_repr(col: Column, dtype: T.DataType) -> Column:
    """Python ``repr()`` of a scalar value, as a Column — needed because
    jsonschema interpolates ``repr(instance)`` into its messages."""
    if isinstance(dtype, T.StringType):
        return F.when(col.isNull(), F.lit("None")).otherwise(F.concat(F.lit("'"), col, F.lit("'")))
    if isinstance(dtype, T.BooleanType):
        return F.when(col.isNull(), F.lit("None")).when(col, F.lit("True")).otherwise(F.lit("False"))
    if isinstance(dtype, T.TimestampType):
        return F.when(col.isNull(), F.lit("None")).otherwise(F.concat(F.lit("'"), col.cast("string"), F.lit("'")))
    return F.when(col.isNull(), F.lit("None")).otherwise(col.cast("string"))


def _num_lit_repr(v: float | int) -> str:
    """Render a numeric manifest literal the way Python would (jsonschema
    interpolates repr() into its messages — '350.0' for the float, '350'
    for the int)."""
    return repr(v)


_SPARK_TYPE_CHECK = {
    # JSONSchema type name → (predicate builder over the raw column, accepts-null)
    # Values arrive typed from parquet; a "type" rule therefore checks the
    # *value domain* (e.g. a string column holding what must parse as int).
    "string": lambda c, dt: F.lit(isinstance(dt, T.StringType)) if not isinstance(dt, T.StringType) else F.lit(True),
    "integer": lambda c, dt: (
        F.lit(True)
        if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType))
        else (c.isNull() | c.try_cast("long").isNotNull() & ~c.rlike(r"[^\s0-9+-]"))
        if isinstance(dt, T.StringType)
        else F.lit(False)
    ),
    "number": lambda c, dt: (
        F.lit(True)
        if isinstance(dt, T.NumericType)
        else (c.isNull() | c.try_cast("double").isNotNull())
        if isinstance(dt, T.StringType)
        else F.lit(False)
    ),
    "boolean": lambda c, dt: (
        F.lit(True)
        if isinstance(dt, T.BooleanType)
        else (c.isNull() | F.lower(c).isin("true", "false"))
        if isinstance(dt, T.StringType)
        else F.lit(False)
    ),
    "timestamp": lambda c, dt: (
        F.lit(True)
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType))
        else (c.isNull() | F.try_to_timestamp(c).isNotNull())
    ),
    "null": lambda c, dt: c.isNull(),
    "array": lambda c, dt: F.lit(isinstance(dt, T.ArrayType)),
    # JSON objects land in Spark as structs (fixed fields) or maps (dynamic
    # keys — the patternProperties shape); both are 'object'
    "object": lambda c, dt: F.lit(isinstance(dt, (T.StructType, T.MapType))),
}


def compile_check(col: Column, dtype: T.DataType, kind: str, get, label: str) -> tuple[Column, Column]:
    """One constraint check over an arbitrary expression → (predicate, msg).

    *col* may be a plain column, a nested struct field, or an array-element
    lambda variable — the same check logic serves flat rules, dotted-path
    rules, and per-element ``items`` rules. *get* looks up rule params;
    *label* is the leaf field name used in 'required property' messages
    (jsonschema names the missing key, not the full path)."""
    rep = py_repr(col, dtype)
    if kind == "required":
        pred = col.isNotNull()
        msg = F.lit(f"'{label}' is a required property")
    elif kind == "not_empty":
        pred = col.isNotNull() & (F.length(col.cast("string")) > 0)
        msg = F.when(col.isNull(), F.lit(f"'{label}' is a required property")).otherwise(
            F.concat(rep, F.lit(" is too short"))
        )
    elif kind == "type":
        want = get("type")
        pred = _SPARK_TYPE_CHECK[want](col, dtype)
        msg = F.concat(rep, F.lit(f" is not of type '{want}'"))
    elif kind == "enum":
        values = get("values")
        pred = col.isNull() | col.isin(*values)
        msg = F.concat(rep, F.lit(f" is not one of {values!r}"))
        if get("suggest"):
            # opt-in repair hint (default OFF: the bare message is the
            # reference's jsonschema parity surface): closest allowed value
            # by levenshtein distance, ties broken by the rendered literal —
            # an array_min over (distance, repr) structs, one codegen
            # expression, no join against anything
            cand = F.array_min(
                F.array(
                    *[
                        F.struct(
                            F.levenshtein(col.cast("string"), F.lit(str(v))).alias("d"),
                            F.lit(repr(v)).alias("v"),
                        )
                        for v in values
                    ]
                )
            )
            msg = F.concat(
                msg, F.lit(" (did you mean "), cand.getField("v"), F.lit("?)")
            )
    elif kind == "pattern":
        pattern = get("pattern")
        pred = col.isNull() | col.rlike(pattern)
        msg = F.concat(rep, F.lit(f" does not match {pattern!r}"))
    elif kind == "format":
        fmt = get("format")
        pred = format_predicate(col, fmt)
        msg = F.concat(rep, F.lit(f" is not a '{fmt}'"))
    elif kind == "range":
        branches = []
        if (lo := get("minimum")) is not None:
            branches.append((col < F.lit(lo), F.concat(rep, F.lit(f" is less than the minimum of {_num_lit_repr(lo)}"))))
        if (xlo := get("exclusive_minimum")) is not None:
            branches.append(
                (col <= F.lit(xlo), F.concat(rep, F.lit(f" is less than or equal to the minimum of {_num_lit_repr(xlo)}")))
            )
        if (hi := get("maximum")) is not None:
            branches.append((col > F.lit(hi), F.concat(rep, F.lit(f" is greater than the maximum of {_num_lit_repr(hi)}"))))
        if (xhi := get("exclusive_maximum")) is not None:
            branches.append(
                (
                    col >= F.lit(xhi),
                    F.concat(rep, F.lit(f" is greater than or equal to the maximum of {_num_lit_repr(xhi)}")),
                )
            )
        fail = None
        for cond, _ in branches:
            fail = cond if fail is None else (fail | cond)
        pred = col.isNull() | ~fail
        msg = F.coalesce(
            *[F.when(cond, m) for cond, m in branches], F.lit("")
        )
    elif kind == "length":
        ln = F.length(col) if isinstance(dtype, T.StringType) else F.size(col)
        conds, msgs = [], []
        if (mn := get("min_length")) is not None:
            conds.append(ln < mn)
            msgs.append(F.concat(rep, F.lit(" is too short")))
        if (mx := get("max_length")) is not None:
            conds.append(ln > mx)
            msgs.append(F.concat(rep, F.lit(" is too long")))
        fail = conds[0] if len(conds) == 1 else (conds[0] | conds[1])
        pred = col.isNull() | ~fail
        msg = F.coalesce(*[F.when(c, m) for c, m in zip(conds, msgs)], F.lit(""))
    elif kind == "property_count":
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
        n = F.size(col)
        obj = F.to_json(col)
        branches = []
        if (mn := get("min_properties")) is not None:
            branches.append((n < mn, F.concat(obj, F.lit(" does not have enough properties"))))
        if (mx := get("max_properties")) is not None:
            branches.append((n > mx, F.concat(obj, F.lit(" has too many properties"))))
        fail = reduce(operator.or_, (c for c, _ in branches))
        pred = col.isNull() | ~fail
        msg = F.coalesce(*[F.when(c, m) for c, m in branches], F.lit(""))
    elif kind == "multiple_of":
        n = get("multiple_of")
        pred = col.isNull() | (col.cast("double") % F.lit(float(n)) == 0.0)
        msg = F.concat(rep, F.lit(f" is not a multiple of {_num_lit_repr(n)}"))
    elif kind == "unique_items":
        pred = col.isNull() | (F.array_size(F.array_distinct(col)) == F.array_size(col))
        msg = F.concat(F.to_json(col), F.lit(" has non-unique elements"))
    elif kind in ("any_of", "all_of", "one_of", "not"):
        # Draft-7 composition (anyOf / allOf / oneOf / not —
        # jsonschema/_validators.py anyOf_draft4 etc.): each entry of
        # `checks` is a sub-schema expressed as a scalar rule spec
        # ({kind: range, maximum: 5}); the composition is pure boolean
        # algebra over the sub-predicates, still one projection inside
        # whole-stage codegen. NULL always passes (the engine-wide
        # convention: only `required`/`not_empty` fail on NULL) — matching
        # jsonschema, where a missing property is never validated.
        pairs = [compile_check(col, dtype, spec["kind"], spec.get, label) for spec in get("checks")]
        subs = [p[0] for p in pairs]
        if kind == "any_of":
            pred = col.isNull() | reduce(operator.or_, subs)
            msg = F.concat(rep, F.lit(" is not valid under any of the given schemas"))
        elif kind == "all_of":
            pred = col.isNull() | reduce(operator.and_, subs)
            # jsonschema's allOf has no aggregate message — it surfaces each
            # failing sub-schema's own error (descend() in _validators.py
            # allOf); emit the FIRST failing sub-check's message for parity
            msg = F.coalesce(
                *[F.when(~F.coalesce(s, F.lit(True)), m) for s, m in pairs],
                F.lit("is not valid under all of the given schemas"),
            )
        elif kind == "one_of":
            n_valid = reduce(operator.add, (s.cast("int") for s in subs))
            pred = col.isNull() | (n_valid == 1)
            msg = F.when(
                n_valid > 1, F.concat(rep, F.lit(" is valid under more than one of the given schemas"))
            ).otherwise(F.concat(rep, F.lit(" is not valid under any of the given schemas")))
        else:  # not: must NOT satisfy the conjunction of the sub-checks
            pred = col.isNull() | ~reduce(operator.and_, subs)
            msg = F.concat(rep, F.lit(" should not be valid under the given schema"))
    elif kind == "const":
        v = get("value")
        pred = col.isNull() | col.eqNullSafe(F.lit(v))
        msg = F.lit(f"{v!r} was expected")
    elif kind == "contains":
        # Draft-6+ `contains`: array must hold >=1 element satisfying the
        # sub-check — one exists() over the cell, like the items rule but
        # existential instead of universal.
        if not isinstance(dtype, T.ArrayType):
            raise ValueError(f"contains rule needs an array column, got {dtype.simpleString()}")
        sub_kind = get("check")
        elem_dt = dtype.elementType
        # Existential quantifier inverts the engine's NULL-passes leniency:
        # under exists(), a NULL element would VACUOUSLY satisfy the check.
        # jsonschema semantics per sub-keyword: enum/const DO constrain a
        # null instance (null fails unless listed), so a null element must
        # not count as a witness there; value-domain checks (range, pattern,
        # length, ...) ignore non-applicable instances in jsonschema too, so
        # NULL-passes stays correct for them.
        if sub_kind in ("enum", "const"):
            elem_pred = lambda e: e.isNotNull() & compile_check(e, elem_dt, sub_kind, get, label)[0]  # noqa: E731
        else:
            elem_pred = lambda e: compile_check(e, elem_dt, sub_kind, get, label)[0]  # noqa: E731
        pred = col.isNull() | F.exists(col, elem_pred)
        msg = F.concat(F.to_json(col), F.lit(" does not contain items matching the given schema"))
    elif kind == "dependent_required":
        # Draft-2019 dependentRequired / Draft-7 `dependencies` with a
        # property list: when `column` is present (non-null), every column in
        # `requires` must also be present. Message parity:
        # "%r is a dependency of %r" (jsonschema/_validators.py dependencies).
        conds = [
            (F.col(r).isNull(), F.lit(f"'{r}' is a dependency of '{label}'")) for r in get("requires")
        ]
        pred = col.isNull() | ~reduce(operator.or_, [c for c, _ in conds])
        msg = F.coalesce(*[F.when(c, m) for c, m in conds], F.lit(""))
    else:
        raise ValueError(f"not a row rule: {kind}")
    return pred, msg


def compile_row_rule(df: DataFrame, manifest_id: str, rule: Rule) -> CompiledRule:
    if rule.kind == "jmespath":
        # literal JMESPath expression strings (reference validator.py:65-88)
        # compile to a whole-row Catalyst expression, not a column check
        from schema_enforcer_spark.jmespath_compat import compile_jmespath_rule

        return compile_jmespath_rule(df, manifest_id, rule)
    if rule.kind == "expression":
        # declarative SQL boolean over the whole row — the Spark-native twin
        # of the reference's custom-validator subclasses (validator.py:90-117
        # let users write arbitrary Python per model); here the predicate is
        # Catalyst-compiled onto the same zero-shuffle row projection as
        # every other row rule. Resolve it against the input schema NOW so a
        # typo'd column or non-boolean expression fails at manifest-compile
        # time, not mid-job over 100 TB (schema-only: no job runs).
        pred = F.expr(rule.params["expr"])
        dt = df.select(pred.alias("_e")).schema[0].dataType
        if not isinstance(dt, T.BooleanType):
            raise ValueError(
                f"expression rule must be a SQL boolean, got {dt.simpleString()}: "
                f"{rule.params['expr']!r}"
            )
        col_name = rule.get("column")
        if col_name and not has_column_path(df, col_name):
            raise ValueError(f"expression rule renders column {col_name!r}, which the input lacks")
        msg = rule_message(rule, f"does not satisfy {rule.params['expr']!r}")
        fv = (
            py_repr(F.col(col_name), _dtype_of(df, col_name)) if col_name else F.lit(None).cast("string")
        )
        rid = rule.rule_id(manifest_id, col_name or "*")
        return CompiledRule(rule_id=rid, column=col_name, predicate=pred, message=msg, failing_value=fv)
    col_name = rule.get("column")
    col = F.col(col_name) if col_name else None
    dtype = _dtype_of(df, col_name) if col_name else None
    label = col_name.split(".")[-1] if col_name else "*"
    pred, msg = compile_check(col, dtype, rule.kind, rule.get, label)
    fv = col.cast("string") if col_name else F.lit(None).cast("string")
    return CompiledRule(
        rule_id=rule.rule_id(manifest_id, col_name or "*"), column=col_name, predicate=pred,
        message=rule_message(rule, msg), failing_value=fv,
    )


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
                        predicate=F.lit(False),
                        message=F.lit(f"'{col_name.split('.')[-1]}' is a required property"),
                        failing_value=F.lit(None).cast("string"),
                    )
                )
            continue
        compiled.append(compile_row_rule(df, manifest.id, rule))
    return compiled
