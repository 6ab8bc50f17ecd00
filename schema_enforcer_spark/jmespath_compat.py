"""JMESPath-string compatibility for row-grain validation rules.

The reference's ``JmesPathModelValidation`` plugins declare a literal
JMESPath expression over each host's data dict and compare its result
against a literal or a second compiled expression
(/root/reference/schema_enforcer/schemas/validator.py:65-88; fixture
validators tests/fixtures/test_validators/validators/
check_interfaces.py:15-23 and check_interfaces_ipv4.py:15-23). A user
porting such a validator previously had to hand-translate the expression
into the declarative aggregate-rule form; the ``jmespath`` rule kind
accepts the reference's strings verbatim.

Spark-first translation, not evaluation: the JMESPath AST (parsed once on
the driver by the ``jmespath`` package) is compiled into a single Catalyst
expression tree over the row — map/array projections become
``map_values``/``transform``/``filter``/``flatten`` higher-order
functions, so the whole rule rides the existing zero-shuffle row-rule
projection and never leaves the JVM. The reference instead re-interprets
the expression per document in Python.

Supported subset (everything else raises ``UnsupportedJmesPath`` at
manifest-compile time, before any Spark job): field access / dotted
subexpressions, ``.*`` value projection over map columns, ``[]`` flatten,
``[? ...]`` filter projections with ``@``-relative comparisons, projection
field access (with JMESPath's drop-null semantics), multi-select lists,
indexes (``[0]``, ``[-1]``), step-1 slices (``[1:3]``, ``[-2:]``),
``&&``/``||``/``!`` (value-returning, JMESPath truthiness), literals,
pipes, and the functions ``length contains starts_with ends_with min max
sum avg abs ceil floor keys values not_null type reverse sort join`` —
a superset of the grammar the reference's own fixture validators exercise.

Runtime-error parity: the jmespath library raises ``JMESPathTypeError``
mid-evaluation when a function argument's VALUE has the wrong type (e.g.
``min(tags)`` with a null element, ``abs(a)`` on a null). A distributed
engine cannot halt the job per row, so the compiled column yields null for
exactly those rows (pinned by the property test). Constructs whose static
column type can never evaluate cleanly (``starts_with`` on a number,
ordering a number against a string) are refused at compile time instead.

JMESPath semantics preserved exactly:
- projections drop null results (``array_compact`` after every per-element
  projection step);
- ``flatten`` merges one level of sub-lists and keeps non-list elements;
- filter predicates use JMESPath truthiness (false/null/empty are falsy);
- a falsy LHS skips the comparison and PASSES (validator.py:79 ``if lhs:``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class UnsupportedJmesPath(ValueError):
    """Expression is syntactically valid JMESPath but outside the compiled
    subset — raised loudly at compile time, never silently mis-evaluated."""


def _require_jmespath():
    try:
        import jmespath  # noqa: F401

        return jmespath
    except ImportError as exc:  # pragma: no cover - env without jmespath
        raise UnsupportedJmesPath(
            "the 'jmespath' package is required to compile jmespath rules "
            "(pip install jmespath); alternatively express the check as a "
            "declarative aggregate rule"
        ) from exc


_SUPPORTED_NODES = {
    "field",
    "subexpression",
    "current",
    "identity",
    "literal",
    "value_projection",
    "projection",
    "flatten",
    "filter_projection",
    "multi_select_list",
    "function_expression",
    "comparator",
    "pipe",
    "index_expression",
    "index",
    "slice",
    "and_expression",
    "or_expression",
    "not_expression",
}

_SUPPORTED_FUNCTIONS = {
    "length",
    "contains",
    "starts_with",
    "ends_with",
    "min",
    "max",
    "sum",
    "avg",
    "abs",
    "ceil",
    "floor",
    "keys",
    "values",
    "not_null",
    "type",
    "reverse",
    "sort",
    "join",
}


def parse_checked(expr: str):
    """Parse and verify every AST node is in the compiled subset. Schema-
    independent, so manifest meta-validation can reject bad expressions
    before a DataFrame exists."""
    jmespath = _require_jmespath()
    try:
        ast = jmespath.compile(expr).parsed
    except Exception as exc:
        raise UnsupportedJmesPath(f"invalid JMESPath {expr!r}: {exc}") from exc

    def walk(node):
        t = node["type"]
        if t not in _SUPPORTED_NODES:
            raise UnsupportedJmesPath(
                f"JMESPath construct {t!r} in {expr!r} is outside the compiled "
                "subset (field/.*/[]/filter/length/pipe); express the check as "
                "a declarative aggregate rule instead"
            )
        if t == "function_expression" and node["value"] not in _SUPPORTED_FUNCTIONS:
            raise UnsupportedJmesPath(
                f"JMESPath function {node['value']!r} in {expr!r} is not "
                f"supported (supported: {' '.join(sorted(_SUPPORTED_FUNCTIONS))})"
            )
        if t == "comparator" and node["value"] not in ("eq", "ne", "lt", "lte", "gt", "gte"):
            raise UnsupportedJmesPath(
                f"JMESPath comparator {node['value']!r} in {expr!r} is not supported"
            )
        if t == "slice":
            # slice children are raw ints/None (start, stop, step), not AST
            # nodes; python-slice semantics compile only for unit step
            if node["children"][2] not in (None, 1):
                raise UnsupportedJmesPath(
                    f"JMESPath slice step {node['children'][2]!r} in {expr!r} "
                    "is not supported (only step 1)"
                )
            return
        for c in node.get("children", []):
            walk(c)

    walk(ast)
    return ast


def _sorted_map_values(m: Column) -> Column:
    """Map values in KEY order (the deterministic contract of values() and
    `.*` — Spark guarantees no map entry order). Sort the ENTRIES with a
    key-only comparator: one O(n log n) pass, no per-key map lookups (a
    transform over sorted keys + element_at is a linear probe per element,
    O(n^2) per row — a measured 5x on q10's per-user interface maps), and
    no ordering requirement on the VALUE type (a bare array_sort of the
    entry structs would compare values on key ties and refuse
    non-orderable value types; map keys are unique so the comparator never
    reaches a tie)."""
    entries = F.array_sort(
        F.map_entries(m),
        lambda a, b: F.when(a["key"] < b["key"], F.lit(-1))
        .when(a["key"] > b["key"], F.lit(1))
        .otherwise(F.lit(0)),
    )
    return F.transform(entries, lambda e: e["value"])


def _bucket(dt: T.DataType) -> object:
    """Comparison-compatibility bucket for comparator compilation. Complex
    types bucket by their exact simpleString: two arrays with different
    element types compare as mismatched (python parity: [1] == ['a'] is
    False), identical types compare structurally."""
    if isinstance(dt, T.NullType):
        return "null"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.NumericType):
        return "num"
    if isinstance(dt, T.StringType):
        return "str"
    return ("complex", dt.simpleString())


def _lit_dtype(v) -> T.DataType:
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    return T.NullType()


def truthy(col: Column, dtype: T.DataType) -> Column:
    """PYTHON truthiness — the reference's rule-level gate (`if lhs:`,
    validator.py:79), where 0 IS falsy. Used only for the compiled rule's
    LHS pass/fail gate; filter predicates use :func:`jp_truthy`."""
    if isinstance(dtype, T.NullType):
        return F.lit(False)
    if isinstance(dtype, T.BooleanType):
        return F.coalesce(col, F.lit(False))
    if isinstance(dtype, T.StringType):
        return col.isNotNull() & (F.length(col) > 0)
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        return col.isNotNull() & (F.size(col) > 0)
    if isinstance(dtype, T.NumericType):
        return col.isNotNull() & (col != F.lit(0))
    return col.isNotNull()


def jp_truthy(col: Column, dtype: T.DataType) -> Column:
    """JMESPath truthiness — what `[? ...]` filters use: ONLY false, null,
    empty string, empty list and empty object are falsy; numbers (including
    0) are always truthy (jmespath.visitor._is_false). Property-testing
    against the library (round 6) caught the divergence: the filter path
    previously used python truthiness, silently dropping 0-valued elements
    from bare-field filters like ``items[?id]``."""
    if isinstance(dtype, T.NullType):
        return F.lit(False)
    if isinstance(dtype, T.BooleanType):
        return F.coalesce(col, F.lit(False))
    if isinstance(dtype, T.StringType):
        return col.isNotNull() & (F.length(col) > 0)
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        return col.isNotNull() & (F.size(col) > 0)
    return col.isNotNull()


def _apply_rhs(arr: Column, elem_dtype: T.DataType, rhs) -> tuple[Column, T.DataType]:
    """Per-element projection step with JMESPath drop-null semantics.
    PySpark invokes HOF lambdas eagerly while building the expression, so
    the result dtype is captured from the single call. Single-arg closure,
    no default args (PySpark 4 rejects defaulted HOF lambdas)."""
    if rhs["type"] in ("identity", "current"):
        # projections drop null RESULTS — for an identity RHS that means
        # null ELEMENTS: tags[*] / tags[0:2] / m.* / nn[] over [1, null]
        # all yield [1] in the library (the round-6 smoke caught the
        # no-compact divergence here)
        return F.array_compact(arr), T.ArrayType(elem_dtype)
    cell = {}

    def lam(e):
        c, d = _ev(rhs, e, elem_dtype)
        cell["dt"] = d
        return c

    out = F.array_compact(F.transform(arr, lam))
    return out, T.ArrayType(cell["dt"])


def _jp_eq(lc: Column, ldt: T.DataType, rc: Column, rdt: T.DataType) -> Column:
    """JMESPath equality: mismatched types are never equal EXCEPT
    null == null, which is True (jmespath.visitor parity, pinned by the
    property test). Identical types compare structurally, null-safely."""
    lb, rb = _bucket(ldt), _bucket(rdt)
    if lb == rb or "null" in (lb, rb):
        return lc.eqNullSafe(rc)
    return lc.isNull() & rc.isNull()


def _no_null_elems(arr: Column) -> Column:
    """True iff no element of ``arr`` is null — the gate for functions the
    library aborts on null elements (min/max/sum/sort/join): the compiled
    column yields null for exactly the rows where the library raises."""

    def isnull(e):
        return e.isNull()

    return ~F.exists(arr, isnull)


def _fn(name: str, args: list[tuple[Column, T.DataType]]) -> tuple[Column, T.DataType]:
    """Compile one JMESPath built-in. Value-dependent library errors (null
    argument, null element) become null results; statically-impossible
    argument types are refused at compile time (the library would raise on
    EVERY row of that column type)."""

    def refuse(why: str):
        raise UnsupportedJmesPath(f"{name}(): {why}")

    if name == "length":
        arg, adt = args[0]
        if isinstance(adt, (T.ArrayType, T.MapType)):
            return F.size(arg).cast("long"), T.LongType()
        if isinstance(adt, T.StringType):
            return F.length(arg).cast("long"), T.LongType()
        refuse(f"needs a string/array/object, got {adt.simpleString()}")
    if name == "contains":
        (subj, sdt), (srch, rdt) = args
        if isinstance(sdt, T.ArrayType):
            # element-wise JMESPath equality (mismatched element/search
            # types are never equal — contains([1,2], 'a') is False, and
            # contains([null], null) is True); null subject → null
            def eq_elem(e):
                return _jp_eq(e, sdt.elementType, srch, rdt)

            return F.exists(subj, eq_elem), T.BooleanType()
        if isinstance(sdt, T.StringType):
            if not isinstance(rdt, T.StringType):
                refuse("substring search needs a string needle — the "
                       "library raises TypeError on a string subject with "
                       f"a {rdt.simpleString()} needle")
            return subj.contains(srch), T.BooleanType()
        refuse(f"needs an array or string subject, got {sdt.simpleString()}")
    if name in ("starts_with", "ends_with"):
        (subj, sdt), (pat, pdt) = args
        if not (isinstance(sdt, T.StringType) and isinstance(pdt, T.StringType)):
            refuse(f"needs string args, got {sdt.simpleString()}, {pdt.simpleString()}")
        return (subj.startswith(pat) if name == "starts_with" else subj.endswith(pat)), T.BooleanType()
    if name in ("min", "max", "sort"):
        arg, adt = args[0]
        if not isinstance(adt, T.ArrayType) or not isinstance(
            adt.elementType, (T.NumericType, T.StringType)
        ):
            refuse(f"needs array-number or array-string, got {adt.simpleString()}")
        gate = _no_null_elems(arg)  # null element → library raises → null
        if name == "sort":
            return F.when(gate, F.sort_array(arg)), adt
        agg = F.array_min(arg) if name == "min" else F.array_max(arg)
        return F.when(gate, agg), adt.elementType
    if name in ("sum", "avg"):
        arg, adt = args[0]
        if not isinstance(adt, T.ArrayType) or not isinstance(adt.elementType, T.NumericType):
            refuse(f"needs array-number, got {adt.simpleString()}")
        edt = adt.elementType
        zero = F.lit(0).cast(edt)

        def add(acc, e):
            return acc + e

        total = F.aggregate(arg, zero, add)
        if name == "sum":  # sum([]) is 0 in the library; aggregate gives 0 too
            return F.when(_no_null_elems(arg), total), edt
        return (
            F.when(_no_null_elems(arg) & (F.size(arg) > 0), total / F.size(arg)),
            T.DoubleType(),
        )
    if name in ("abs", "ceil", "floor"):
        arg, adt = args[0]
        if not isinstance(adt, T.NumericType):
            refuse(f"needs a number, got {adt.simpleString()}")
        if name == "abs":
            return F.abs(arg), adt
        # library ceil/floor return integers; Spark's return LONG
        return (F.ceil(arg) if name == "ceil" else F.floor(arg)).cast("long"), T.LongType()
    if name in ("keys", "values"):
        arg, adt = args[0]
        if not isinstance(adt, T.MapType):
            refuse(f"needs an object, got {adt.simpleString()}")
        # KEY-SORTED, both functions: the JMESPath spec leaves object
        # iteration order unspecified (the library happens to use dict
        # insertion order), and Spark gives no cross-engine guarantee on
        # map entry order at all — hypothesis caught map_keys() returning
        # ['k3','k1'] for an insertion-sorted python dict. Sorting by key
        # is spec-conformant, deterministic under any partitioning, and
        # keeps keys()/values() mutually consistent (values ride the same
        # key order, not the engine's internal entry order).
        if name == "keys":
            return F.array_sort(F.map_keys(arg)), T.ArrayType(adt.keyType)
        return _sorted_map_values(arg), T.ArrayType(adt.valueType)
    if name == "not_null":
        live = [(c, d) for c, d in args if not isinstance(d, T.NullType)]
        if not live:
            return F.lit(None), T.NullType()
        dts = {d.simpleString() for _, d in live}
        if len(dts) > 1:
            refuse(f"mixed argument types {sorted(dts)} cannot share one column type")
        return F.coalesce(*[c for c, _ in live]), live[0][1]
    if name == "type":
        arg, adt = args[0]
        if isinstance(adt, T.NullType):
            return F.lit("null"), T.StringType()
        b = _bucket(adt)
        static = {"bool": "boolean", "num": "number", "str": "string"}.get(b) if isinstance(b, str) else None
        if static is None:
            static = "array" if isinstance(adt, T.ArrayType) else "object"
        return F.when(arg.isNull(), F.lit("null")).otherwise(F.lit(static)), T.StringType()
    if name == "reverse":
        arg, adt = args[0]
        if not isinstance(adt, (T.ArrayType, T.StringType)):
            refuse(f"needs an array or string, got {adt.simpleString()}")
        return F.reverse(arg), adt
    if name == "join":
        (glue, gdt), (arr, adt) = args
        if not isinstance(gdt, T.StringType):
            refuse(f"needs a string glue, got {gdt.simpleString()}")
        if not isinstance(adt, T.ArrayType) or not isinstance(adt.elementType, T.StringType):
            refuse(f"needs array-string, got {adt.simpleString()}")
        # array_join's python wrapper needs a str delimiter and silently
        # SKIPS null elements; fold with concat instead — null element or
        # null glue → library raises → null result
        def step(acc, e):
            return F.when(acc.isNull(), e).otherwise(F.concat(acc, glue, e))

        folded = F.aggregate(arr, F.lit(None).cast("string"), step)
        return (
            F.when(_no_null_elems(arr) & glue.isNotNull(), F.coalesce(folded, F.lit(""))),
            T.StringType(),
        )
    refuse("unreachable: parse_checked whitelists functions")  # pragma: no cover


def _truthy_ev(node, cur, dtype: T.DataType) -> Column:
    """Evaluate a node for its JMESPath TRUTHINESS only (a total boolean,
    never null). For `&&`/`||`/`!` this sidesteps the shared-column-type
    requirement of value evaluation: the library's `a && b` returns `b if
    truthy(a) else a`, whose truthiness is exactly `truthy(a) AND
    truthy(b)` (dually for `||`), so heterogeneous operand types — legal
    in JMESPath, impossible in one Spark column — evaluate fine wherever
    only truthiness is consumed (filter comparators, `!`). Found by the
    hypothesis property test: `items[?(id) && (id == \\`0\\`)].id`."""
    t = node["type"]
    if t == "and_expression":
        return _truthy_ev(node["children"][0], cur, dtype) & _truthy_ev(
            node["children"][1], cur, dtype
        )
    if t == "or_expression":
        return _truthy_ev(node["children"][0], cur, dtype) | _truthy_ev(
            node["children"][1], cur, dtype
        )
    if t == "not_expression":
        return ~_truthy_ev(node["children"][0], cur, dtype)
    c, d = _ev(node, cur, dtype)
    return jp_truthy(c, d)


def _ev(node, cur, dtype: T.DataType) -> tuple[Column, T.DataType]:
    """Translate one AST node given the current value (Column + DataType).
    At the row root, ``cur`` is None and ``dtype`` is the row StructType."""
    t = node["type"]
    if t in ("current", "identity"):
        return cur, dtype
    if t == "literal":
        v = node["value"]
        return F.lit(v), _lit_dtype(v)
    if t == "field":
        name = node["value"]
        if isinstance(dtype, T.StructType):
            if name not in dtype.fieldNames():
                # JMESPath: missing key → null
                return F.lit(None), T.NullType()
            fdt = dtype[name].dataType
            col = F.col(name) if cur is None else cur[name]
            return col, fdt
        if isinstance(dtype, T.MapType) and cur is not None:
            return cur[F.lit(name)], dtype.valueType
        # field access on a non-object → null (JMESPath semantics)
        return F.lit(None), T.NullType()
    if t in ("subexpression", "pipe", "index_expression"):
        c, d = cur, dtype
        for child in node["children"]:
            c, d = _ev(child, c, d)
        return c, d
    # JMESPath type-mismatch semantics (library parity, pinned by the
    # round-6 property test): projecting / flattening / filtering a value
    # that is statically NOT a list (or `.*` over a non-object) evaluates
    # to null — the library returns None and enclosing projections drop it.
    # The compile is schema-driven, so the null is a static constant.
    if t == "value_projection":
        left, ldt = _ev(node["children"][0], cur, dtype)
        if not isinstance(ldt, T.MapType):
            return F.lit(None), T.NullType()
        # key-sorted for determinism — same contract as values(), see above
        vals = _sorted_map_values(left)
        return _apply_rhs(vals, ldt.valueType, node["children"][1])
    if t == "projection":
        left, ldt = _ev(node["children"][0], cur, dtype)
        if not isinstance(ldt, T.ArrayType):
            return F.lit(None), T.NullType()
        return _apply_rhs(left, ldt.elementType, node["children"][1])
    if t == "flatten":
        left, ldt = _ev(node["children"][0], cur, dtype)
        if not isinstance(ldt, T.ArrayType):
            return F.lit(None), T.NullType()
        if isinstance(ldt.elementType, T.ArrayType):
            return F.flatten(left), ldt.elementType
        # JMESPath flatten keeps non-list elements as-is
        return left, ldt
    if t == "index":
        # a[i]: out-of-range (either sign) → null; index on a non-list →
        # null (library parity). F.get is 0-based and null-on-invalid —
        # element_at would throw under ANSI mode for out-of-range indexes.
        if not isinstance(dtype, T.ArrayType):
            return F.lit(None), T.NullType()
        i = node["value"]
        idx = F.lit(i) if i >= 0 else F.size(cur) + F.lit(i)
        return F.get(cur, idx), dtype.elementType
    if t == "slice":
        # python-slice clamping (start/stop are compile-time ints or None;
        # step restricted to 1 by parse_checked). Slice of a non-list →
        # null; null array propagates null through size() and slice().
        if not isinstance(dtype, T.ArrayType):
            return F.lit(None), T.NullType()
        start, stop, _step = node["children"]
        n = F.size(cur)

        def clamp(v, default):
            if v is None:
                return default
            if v < 0:
                return F.greatest(n + F.lit(v), F.lit(0))
            return F.least(F.lit(v), n)

        st = clamp(start, F.lit(0))
        en = clamp(stop, n)
        return F.slice(cur, st + F.lit(1), F.greatest(en - st, F.lit(0))), dtype
    if t == "and_expression":
        # value-returning with JMESPath truthiness: falsy lhs short-circuits
        # to ITS value (not a boolean) — `a && b` is `b if truthy(a) else a`
        lc, ldt = _ev(node["children"][0], cur, dtype)
        rc, rdt = _ev(node["children"][1], cur, dtype)
        if isinstance(ldt, T.NullType):
            return lc, ldt  # null && x → null (null is falsy)
        if isinstance(rdt, T.NullType):
            return F.when(jp_truthy(lc, ldt), F.lit(None)).otherwise(lc), ldt
        if ldt.simpleString() != rdt.simpleString():
            raise UnsupportedJmesPath(
                f"'&&' operands of different types ({ldt.simpleString()} vs "
                f"{rdt.simpleString()}) cannot share one column type"
            )
        return F.when(jp_truthy(lc, ldt), rc).otherwise(lc), ldt
    if t == "or_expression":
        lc, ldt = _ev(node["children"][0], cur, dtype)
        rc, rdt = _ev(node["children"][1], cur, dtype)
        if isinstance(ldt, T.NullType):
            return rc, rdt  # null || x → x
        if isinstance(rdt, T.NullType):
            return F.when(jp_truthy(lc, ldt), lc).otherwise(F.lit(None)), ldt
        if ldt.simpleString() != rdt.simpleString():
            raise UnsupportedJmesPath(
                f"'||' operands of different types ({ldt.simpleString()} vs "
                f"{rdt.simpleString()}) cannot share one column type"
            )
        return F.when(jp_truthy(lc, ldt), lc).otherwise(rc), ldt
    if t == "not_expression":
        # jp_truthy is total (never null), so !x is a clean boolean; the
        # truthiness-only path also admits heterogeneous &&/|| operands
        return ~_truthy_ev(node["children"][0], cur, dtype), T.BooleanType()
    if t == "filter_projection":
        left, ldt = _ev(node["children"][0], cur, dtype)
        if not isinstance(ldt, T.ArrayType):
            return F.lit(None), T.NullType()
        comparator = node["children"][2]
        et = ldt.elementType

        def keep(e):
            # the comparator is consumed ONLY through truthiness — the
            # truthiness-only path admits heterogeneous &&/|| operands
            return _truthy_ev(comparator, e, et)

        filtered = F.filter(left, keep)
        return _apply_rhs(filtered, et, node["children"][1])
    if t == "multi_select_list":
        pairs = [_ev(c, cur, dtype) for c in node["children"]]
        dts = {p[1].simpleString() for p in pairs}
        if len(dts) > 1:
            raise UnsupportedJmesPath(
                f"multi-select list with heterogeneous element types {sorted(dts)}"
            )
        return F.array(*[p[0] for p in pairs]), T.ArrayType(pairs[0][1])
    if t == "function_expression":
        args = [_ev(c, cur, dtype) for c in node["children"]]
        return _fn(node["value"], args)
    if t == "comparator":
        # type-aware compile mirroring jmespath.visitor exactly (pinned by
        # the round-6 property test against the library):
        # - equality: mismatched types are never equal (incl. the 0/1-vs-
        #   bool special case) EXCEPT null == null, which is True;
        # - ordering: defined for number-number and string-string (the
        #   library compares strings natively); any other operand type
        #   yields null (falsy in filters); number-vs-string raises in the
        #   library at runtime — refused here at compile time instead.
        lc, ldt = _ev(node["children"][0], cur, dtype)
        rc, rdt = _ev(node["children"][1], cur, dtype)
        op = node["value"]
        lb, rb = _bucket(ldt), _bucket(rdt)
        if op in ("eq", "ne"):
            eq = _jp_eq(lc, ldt, rc, rdt)
            return (eq if op == "eq" else ~eq), T.BooleanType()
        if (lb == rb == "num") or (lb == rb == "str"):
            cmps = {"lt": lc < rc, "lte": lc <= rc, "gt": lc > rc, "gte": lc >= rc}
            return cmps[op], T.BooleanType()
        if {"num", "str"} == {lb, rb}:
            raise UnsupportedJmesPath(
                f"ordering comparator {op!r} between a number and a string — "
                "the jmespath library raises TypeError on this at runtime; "
                "fix the expression's operand types"
            )
        return F.lit(None).cast("boolean"), T.BooleanType()
    raise UnsupportedJmesPath(f"unsupported JMESPath node {t!r}")  # pragma: no cover


def jmespath_to_column(expr: str, df: DataFrame) -> tuple[Column, T.DataType]:
    """Compile a JMESPath expression string to a per-row Catalyst Column
    over ``df``'s schema. Raises UnsupportedJmesPath outside the subset."""
    ast = parse_checked(expr)
    return _ev(ast, None, T.StructType(df.schema.fields))


def compile_jmespath_rule(df: DataFrame, manifest_id: str, rule):
    """Build the CompiledRule for a ``jmespath`` row rule.

    Reference semantics (validator.py:67-88): evaluate ``left`` per
    document; if the result is falsy the check PASSES; otherwise compare
    against ``right`` (literal) or ``right_expr`` (second expression) with
    gt/gte/eq/lt/lte/contains — ordering ops compare as integers
    (``int(r) > int(v)``)."""
    from schema_enforcer_spark.compiler import CompiledRule, _sql_lit, rule_message

    lhs, ldt = jmespath_to_column(rule.params["left"], df)
    right_expr = rule.get("right_expr")
    if right_expr is not None:
        rhs, rdt = jmespath_to_column(right_expr, df)
    else:
        rv = rule.params["right"]
        rhs, rdt = F.lit(rv), _lit_dtype(rv)
    op = rule.params["operator"]
    if op in ("gt", "gte", "lt", "lte"):
        li, ri = lhs.cast("long"), rhs.cast("long")
        cmp = {"gt": li > ri, "gte": li >= ri, "lt": li < ri, "lte": li <= ri}[op]
    elif op == "eq":
        cmp = lhs.eqNullSafe(rhs)
    elif op == "contains":
        if isinstance(ldt, T.ArrayType):
            cmp = F.array_contains(lhs, rhs)
        elif isinstance(ldt, T.StringType):
            cmp = lhs.contains(rhs)
        else:
            raise UnsupportedJmesPath(
                f"'contains' needs an array or string LHS, got {ldt.simpleString()}"
            )
    else:  # unreachable: manifest meta-validation restricts the enum
        raise ValueError(f"unknown jmespath operator {op!r}")
    # falsy LHS ⇒ PASS (reference `if lhs:` gate)
    pred = F.when(~truthy(lhs, ldt), F.lit(True)).otherwise(F.coalesce(cmp, F.lit(False)))
    msg = rule_message(rule, _sql_lit(f"jmespath check failed: {rule.params['left']} {op}"))
    fv = lhs.cast("string") if isinstance(ldt, (T.NumericType, T.StringType, T.BooleanType)) else F.to_json(lhs)
    return CompiledRule(rule_id=rule.rule_id(manifest_id), column=None, predicate=pred, message=msg, failing_value=fv)
