"""ValidationEngine — evaluates a compiled manifest over a DataFrame.

Execution shape (SURVEY.md §4.2, all public DataFrame API — no custom
Catalyst rules needed):

1. **Single-pass row-rule projection**: one ``select`` that evaluates every
   row rule at once and emits ``array<struct>`` of violations, then
   ``explode``s the compacted array. N rules, ONE scan, whole-stage codegen.
   This is the distributed analogue of ``iter_errors`` emitting *all*
   errors per document (/root/reference/schema_enforcer/schemas/jsonschema.py:64-70)
   without the reference's per-schema re-walk loop
   (/root/reference/schema_enforcer/instances/file.py:193-199).
2. **Table-grain rules** (uniqueness, referential, ordering, aggregate)
   each compile to a groupBy / join / window plan — shuffles only on their
   keys; referential uses a broadcast-able distinct key set.
3. **Verdicts**: per-instance (partition) PASS/FAIL via one aggregation
   over the union of the input's instances and the violations, so clean
   partitions still get a PASS row (default-PASS semantics, A4 —
   /root/reference/schema_enforcer/schemas/validator.py:39-44).

One validation path: :func:`validate_many` checks an input against every
engine in one row-rule scan, and ``ValidationEngine.validate`` is its
one-engine call; the row explode (:func:`_row_violation_rows`) is the one
place the InferFiltersFromGenerate defense lives. Every evaluator builds a
lazy plan and starts no Spark job (drift's histogram and KS/PSI are one
global aggregate and SQL over its counts), so every plan memo goes through
:class:`_PlanMemo` (bounded, identity-pinned).

One violation shape. The row schema (``VIOLATION_COLUMNS``) mirrors the
reference's ValidationResult (/root/reference/schema_enforcer/validation.py:11-32),
the one type every validator's errors go through, and each part of it is
built in one place: table evaluators project their rows through
``ValidationEngine._violation_rows``, every violation struct is a
:func:`_violation`, the table-grain rows of strict_columns and drift are
``_table_violations`` projections, every ``schema_id`` is ``Rule.rule_id`` and
every custom-message override is ``compiler.rule_message``. The four
entry-array kinds share one loop (``_entry_violation_arrays``), in a fixed
kind order.

Plans from SQL text. The row projection, the entry arrays, the fused window
pass, every violation row and the verdicts are SQL text (``F.expr``,
``selectExpr``) whose literals and identifiers go through
``compiler._sql_lit`` and ``compiler._sql_ident``: a pyspark call costs ~16
py4j commands whatever its size, so one validate of the 15-rule transcripts
manifest sends 135 of them instead of 5,043 (``tests/test_round_trips.py``).
Driver-held rows (strict_columns' extra columns, the table verdict row, an
empty violation set) become frames through Arrow (:func:`local_frame`).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from schema_enforcer_spark.compiler import (
    _Q, CompiledRule, _case, _concat, _dtype_in, _dtype_of, _failed, _lambda_var, _sql_ident, _sql_lit, compile_check,
    compile_row_rules, has_column_path, py_repr, rule_message,
)
from schema_enforcer_spark.manifest import FUSED_WINDOW, SCHEMA_PASS, SHARED_PATHS, Manifest, Rule, drift_baseline_errors

VIOLATION_COLUMNS = [
    "schema_id",
    "result",
    "instance_name",
    "instance_location",
    "instance_type",
    "absolute_path",
    "failing_value",
    "message",
]

_VIOLATION_SCHEMA_DDL = (
    "schema_id string, result string, instance_name string, instance_location string, "
    "instance_type string, absolute_path array<string>, failing_value string, message string"
)


def arrow_table(rows: list, schema: T.StructType):
    """Driver-held *rows* (tuples or Rows in the field order of *schema*)
    as one pyarrow table with Spark's Arrow form of *schema* (TIMESTAMP
    as UTC-adjusted microseconds)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    return pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(columns, arrow)], schema=arrow)


def local_frame(spark, rows: list, schema: T.StructType | str) -> DataFrame:
    """Driver-held *rows* as a DataFrame of *schema* (a StructType or DDL),
    through Arrow: Spark plans a LocalTableScan. ``createDataFrame(list)``
    would plan a pickled-list RDD, converted by Python worker tasks."""
    schema = T.DataType.fromDDL(schema) if isinstance(schema, str) else schema
    return spark.createDataFrame(arrow_table(rows, schema), schema)


def _strings(cols: list[str]) -> list[str]:
    """The columns cast to string (SQL): key paths and key strings of
    violations."""
    return [f"CAST({_sql_ident(c)} AS STRING)" for c in cols]


def _key_string(cols: list[str]) -> str:
    """The '|'-joined key of a violation (SQL)."""
    return f"concat_ws('|', {', '.join(_strings(cols))})"


def _unique_message(rule: Rule, cols: list[str], n: str) -> str:
    """The unique rule's message, shared by the standalone and fused paths
    so fusing never changes a unique rule's output."""
    return rule_message(rule, _concat(
        "'('", _key_string(cols), "') appears '", f"CAST({n} AS STRING)",
        _sql_lit(f" times; ({', '.join(cols)}) must be unique"),
    ))


def _struct(fields: list[tuple[str, str]]) -> str:
    """named_struct over (field name, SQL) pairs."""
    return f"named_struct({', '.join(f'{_sql_lit(n)}, {v}' for n, v in fields)})"


def _violation(schema_id: str, path: str, failing: str, message: str, tag: tuple | list = ()) -> str:
    """One violation as a struct (SQL): the rule's four fields, plus the
    engine's *tag* — (field, SQL) pairs for instance_name,
    instance_location, instance_type and the internal ``_mid`` manifest id
    — on the elements of the row-violation array. Untagged structs are the
    elements :meth:`ValidationEngine.row_fail_count` sizes."""
    return _struct([
        ("schema_id", schema_id), ("absolute_path", path), ("failing_value", failing), ("message", message), *tag,
    ])


def _or_empty(column: str, violations: str) -> str:
    """*violations*, or an EMPTY violation array when *column* is NULL —
    concat() with a NULL would otherwise null out every other rule's
    violations for the row."""
    return f"CASE WHEN {column} IS NULL THEN array() ELSE {violations} END"


def _column(x: str | Column) -> Column:
    return x if isinstance(x, Column) else F.expr(x)


class _PlanMemo:
    """Bounded memo for driver-side plan assembly, keyed on object identity.

    Building a plan costs driver↔JVM round trips and Catalyst analysis,
    and depends only on its inputs' identities, so a repeat call over the
    same objects (bench trials, a report's several consumers) reuses the
    built DataFrame or Column. Plans only: the memoized value is lazy,
    every action still computes from the input, and nothing is cached.

    A hit needs the same *tag* and every pinned object ``is``-identical; the
    entry holds its pins, so no id() is reused while it lives. At most
    ``SIZE`` entries, the oldest evicted first."""

    SIZE = 8

    def __init__(self) -> None:
        self._store: dict[tuple, tuple] = {}

    def __len__(self) -> int:
        return len(self._store)

    def get(self, tag: tuple, pins: tuple, build):
        key = (tag, tuple(map(id, pins)))
        hit = self._store.get(key)
        if hit is not None and all(a is b for a, b in zip(hit[0], pins)):
            return hit[1]
        out = build()
        if len(self._store) >= self.SIZE:
            self._store.pop(next(iter(self._store)))
        self._store[key] = (pins, out)
        return out


def _ref_pins(ref_tables: dict[str, DataFrame]) -> tuple[tuple, tuple]:
    """(sorted ref-table names, the tables in that order): the memo tag and
    pins a plan over *ref_tables* is keyed on."""
    names = tuple(sorted(ref_tables))
    return names, tuple(ref_tables[k] for k in names)


@dataclass
class ValidationReport:
    violations: DataFrame   # one row per (instance, rule, offending value)
    verdicts: DataFrame     # one row per instance: PASS/FAIL + n_violations
    # the one persisted frame: validate_many's manifest-tagged union, of
    # which `violations` is a projection. Release it through unpersist() —
    # unpersisting the projection would NOT release it (Dataset.unpersist
    # is per-plan, not per-lineage)
    cached: DataFrame | None = None

    def passes(self) -> bool:
        """Exit-code semantics: any FAIL ⇒ False
        (/root/reference/schema_enforcer/cli.py:104-107)."""
        return self.violations.limit(1).count() == 0

    def unpersist(self) -> None:
        """Release the cached violations (validate_many persists them so the
        verdict aggregation doesn't recompute every rule)."""
        if self.cached is not None:
            try:
                self.cached.unpersist()
            except Exception:  # noqa: BLE001 - session gone
                pass

    def rule_summary(self) -> DataFrame:
        """Per-rule observability: (schema_id, n_violations, n_instances) —
        which constraints fire and how widely, straight off the persisted
        violation set (no rule re-evaluation)."""
        return (
            self.violations.groupBy("schema_id")
            .agg(
                F.count(F.lit(1)).alias("n_violations"),
                F.countDistinct("instance_name").alias("n_instances"),
            )
            .orderBy(F.col("n_violations").desc(), "schema_id")
        )


def _comparison(op: str, left: Column, right: Column) -> Column:
    # Operator set mirrors JmesPathModelValidation
    # (/root/reference/schema_enforcer/schemas/validator.py:70-86).
    if op == "gt":
        return left > right
    if op == "gte":
        return left >= right
    if op == "eq":
        return left == right
    if op == "lt":
        return left < right
    if op == "lte":
        return left <= right
    if op == "contains":
        return F.array_contains(left, right)
    raise ValueError(f"unknown comparison operator {op!r}")


def _agg_side(spec) -> Column:
    """Compile one side of an aggregate rule to an agg Column.

    Spec forms: a number/literal; or {"fn": count|count_distinct|sum|min|max|avg,
    "column": c, "filter": "<sql bool expr>", "scale": x} — the declarative
    analogue of the reference's compiled-JMESPath aggregates
    (/root/reference/tests/fixtures/test_validators/validators/check_interfaces.py:15-23).
    "scale" multiplies the aggregate, which is what makes RATIO constraints
    (the Deequ completeness / distinctness checks) declarative:
    null-rate <= 2%  ==  left {fn: count, filter: "c IS NULL"} lte
    right {fn: count, scale: 0.02}; both sides still ride ONE agg()."""
    if not isinstance(spec, dict):
        return F.lit(spec)
    fn = spec.get("fn", "count")
    col = F.col(spec["column"]) if spec.get("column") else F.lit(1)
    if flt := spec.get("filter"):
        col = F.when(F.expr(flt), col)
    if fn == "count":
        agg = F.count(col)
    elif fn == "count_distinct":
        agg = F.count_distinct(col)
    elif fn == "sum":
        agg = F.sum(col)
    elif fn == "min":
        agg = F.min(col)
    elif fn == "max":
        agg = F.max(col)
    elif fn == "avg":
        agg = F.avg(col)
    else:
        raise ValueError(f"unknown aggregate fn {fn!r}")
    if (scale := spec.get("scale")) is not None:
        agg = agg * F.lit(scale)
    return agg


class ValidationEngine:
    """Compile once on the driver, run as few Spark jobs as possible.

    Parameters
    ----------
    manifest : compiled rule set (``load_manifest`` output).
    key_columns : columns identifying a row for ``absolute_path``
        (default ``["conv_id", "turn_idx"]`` per input_hint).
    instance_expr : SQL expression string for the instance (partition) an
        offending row belongs to. Defaults to the ``partition_id`` column if
        present, else ``pmod(hash(conv_id), 32)`` — the Parquet-mode stand-in
        for Iceberg ``bucket(N, conv_id)`` partitioning (SURVEY.md §1.3).
    """

    def __init__(
        self,
        manifest: Manifest,
        key_columns: list[str] | None = None,
        instance_expr: str | None = None,
        num_buckets: int = 32,
        drift_baselines: dict[str, dict] | None = None,
        instance_type: str = "PARTITION",
    ):
        self.manifest = manifest
        self.key_columns = key_columns or ["conv_id", "turn_idx"]
        self.instance_expr = instance_expr
        self.num_buckets = num_buckets
        # violation-row instance grain label: "PARTITION" for table inputs,
        # "HOST" for the Ansible-inventory source (reference validation.py
        # prints [HOST] lines for inventory-validated instances)
        self.instance_type = instance_type
        # stored drift baselines (rule id → compute_histogram dict) — the
        # --write-baseline/--baseline lifecycle; inline rule baselines win
        self.drift_baselines = drift_baselines or {}
        # prepared-plan memos (see _PlanMemo): row-violation arrays, and
        # the violations()/verdicts()/validate_many() plans
        self._row_arr_memo = _PlanMemo()
        self._plan_memo = _PlanMemo()

    # -- helpers -----------------------------------------------------------

    def _instance_sql(self, df: DataFrame) -> str:
        """The instance (partition) a row belongs to, as SQL text."""
        if self.instance_expr:
            # the caller's SQL, parenthesized on lines of its own so a
            # trailing `--` comment ends before the generated text resumes
            return f"CAST((\n{self.instance_expr}\n) AS STRING)"
        if "partition_id" in df.columns:
            return "CAST(`partition_id` AS STRING)"
        anchor = self.key_columns[0]
        if anchor in df.columns:
            return f"CAST(pmod(hash({_sql_ident(anchor)}), {_sql_lit(self.num_buckets)}) AS STRING)"
        return "'0'"

    def _instance_col(self, df: DataFrame) -> Column:
        return F.expr(self._instance_sql(df))

    def _path(self, columns: list[str], leaf: str | None, *tail: str) -> str:
        """absolute_path (SQL): the key columns among *columns* as strings,
        then each level of the dotted *leaf*, then *tail* (SQL)."""
        elems = _strings([k for k in self.key_columns if k in columns])
        if leaf:
            # a dotted path is a struct traversal: one path element per level
            elems.extend(_sql_lit(p) for p in leaf.split("."))
        elems.extend(tail)
        # Number→string coercion is required for violation-row parity
        # (coerce_numbers_to_str, /root/reference/schema_enforcer/validation.py:19).
        return f"array({', '.join(elems)})" if elems else "CAST(array() AS ARRAY<STRING>)"

    def _violation_fields(self, schema_id: str, instance: str, path: str, failing: str, message: str) -> list:
        """VIOLATION_COLUMNS as (name, SQL) pairs: the caller's schema_id,
        instance, absolute_path, failing_value and message, plus ``result``
        FAIL, the manifest's table as instance_location and the engine's
        instance_type."""
        return [
            ("schema_id", schema_id), ("result", "'FAIL'"), ("instance_name", instance),
            ("instance_location", _sql_lit(self.manifest.table)), ("instance_type", _sql_lit(self.instance_type)),
            ("absolute_path", path), ("failing_value", failing), ("message", message),
        ]

    def _violation_rows(
        self, frame: DataFrame, schema_id: str, instance: str, path: str, failing: str, message: str
    ) -> DataFrame:
        """*frame* projected to VIOLATION_COLUMNS (every argument SQL text)
        — every table evaluator's rows take their shape here."""
        return frame.selectExpr(
            *[f"{v} AS {n}" for n, v in self._violation_fields(schema_id, instance, path, failing, message)]
        )

    def _table_violations(self, frame: DataFrame, rid: str, path: str, failing: str, message: str) -> DataFrame:
        """Violations of the input's schema or distribution as a whole
        (strict_columns, drift): *frame* projected like
        :meth:`_violation_rows`, on the synthetic 'table' instance at grain
        TABLE."""
        fields = dict(self._violation_fields(_sql_lit(rid), "'table'", path, failing, message), instance_type="'TABLE'")
        return frame.selectExpr(*[f"{v} AS {n}" for n, v in fields.items()])

    # -- row rules ---------------------------------------------------------

    def _compile_conditionals(self, df: DataFrame) -> list[CompiledRule]:
        out = []
        def _branch(df, spec, label):
            """Compile one then/else branch spec → (inner_pred, msg,
            column_name, column), all SQL."""
            tc_name = spec["column"]
            tc = _sql_ident(tc_name)
            rep = py_repr(tc, _dtype_of(df, tc_name))
            if spec.get("required"):
                inner, msg = f"({tc} IS NOT NULL)", _sql_lit(f"'{tc_name}' is a required property")
            elif spec.get("is_null"):
                inner, msg = f"({tc} IS NULL)", _concat(rep, _sql_lit(" is not of type 'null'"))
            elif "pattern" in spec:
                inner = f"({tc} IS NULL OR {tc} RLIKE {_sql_lit(spec['pattern'])})"
                msg = _concat(rep, _sql_lit(f" does not match {spec['pattern']!r}"))
            elif "equals" in spec:
                inner = f"({tc} <=> {_sql_lit(spec['equals'])})"
                msg = _concat(rep, _sql_lit(f" is not equal to {spec['equals']!r}"))
            else:
                raise ValueError(f"conditional '{label}' needs required/is_null/pattern/equals: {spec}")
            return inner, msg, tc_name, tc

        for rule in self.manifest.table_rules:
            if rule.kind != "conditional":
                continue
            when, then = rule.params["when"], rule.params["then"]
            wc = _sql_ident(when["column"])
            if "equals" in when:
                cond = f"({wc} <=> {_sql_lit(when['equals'])})"
            elif "in" in when:
                cond = f"({wc} IN ({', '.join(map(_sql_lit, when['in']))}))" if when["in"] else "false"
            elif when.get("is_null"):
                cond = f"({wc} IS NULL)"
            else:
                raise ValueError(f"conditional 'when' needs equals/in/is_null: {when}")
            inner, msg, tc_name, tc = _branch(df, then, "then")
            # Draft-7 if/then/else: `otherwise` is the else-schema — applies
            # exactly when the `when` condition does NOT hold. message and
            # failing_value reflect whichever branch fired; absolute_path is
            # rule-static (the then-branch column) because the violation
            # projection builds paths at compile time.
            if other := rule.params.get("otherwise"):
                e_inner, e_msg, e_name, e_col = _branch(df, other, "otherwise")
                pred = _case([(cond, inner)], e_inner)
                msg = _case([(cond, msg)], e_msg)
                failing = _case([(cond, f"CAST({tc} AS STRING)")], f"CAST({e_col} AS STRING)")
                col_name = tc_name if tc_name == e_name else f"{tc_name}|{e_name}"
            else:
                pred = f"(NOT {cond} OR {inner})"
                failing = f"CAST({tc} AS STRING)"
                col_name = tc_name
            out.append(
                CompiledRule(
                    rule_id=rule.rule_id(self.manifest.id, col_name),
                    column=tc_name,
                    predicate=pred,
                    message=rule_message(rule, msg),
                    failing_value=failing,
                )
            )
        return out

    # the entry-array kinds, in the fixed order their arrays join the row
    # projection: emitting them in manifest order would reorder the
    # violation array and move every plan
    _ENTRY_KINDS = ("items", "prefix_items", "pattern_properties", "property_names")

    def _entry_violation_arrays(self, df: DataFrame, tag: list) -> list[str]:
        """One violation array (SQL) per array-element / map-entry rule: a
        transform() over the column that rides the single-pass row
        projection — no explode-join, no second scan, no Python. A rule on a
        column the input lacks is skipped; a NULL column yields an empty
        array. Each kind's ``_<kind>_entries`` builds the array itself; its
        elements carry *tag*."""
        out: list[str] = []
        for kind in self._ENTRY_KINDS:
            for rule in self.manifest.row_rules:
                if rule.kind != kind:
                    continue
                col_name = rule.params["column"]
                if not has_column_path(df, col_name):
                    continue
                dtype = _dtype_of(df, col_name)
                want, noun = (T.ArrayType, "an array") if kind in ("items", "prefix_items") else (T.MapType, "a map")
                if not isinstance(dtype, want):
                    raise ValueError(f"{kind} rule column {col_name!r} is {dtype.simpleString()}, not {noun}")
                field = rule.get("field") if kind == "items" else None
                rid = _sql_lit(rule.rule_id(self.manifest.id, col_name + (f"/{field}" if field else "")))
                body = getattr(self, f"_{kind}_entries")

                def viol(path_tail, failing, message, override=True, rule=rule, col_name=col_name, rid=rid):
                    """One element's violation struct; the rule's own message
                    replaces *message* unless *override* is off."""
                    path = self._path(df.columns, None, _sql_lit(col_name), *path_tail)
                    return _violation(rid, path, failing, rule_message(rule, message) if override else message, tag)

                out.append(_or_empty(_sql_ident(col_name), body(rule, _sql_ident(col_name), dtype, viol, df.columns)))
        return out

    @staticmethod
    def _items_entries(rule: Rule, col: str, dtype: T.ArrayType, viol, taken) -> str:
        """items (P12/P5): each element, or its struct ``field``, against
        ``check``, with the element index in absolute_path
        (["dns_servers","0","address"] — reference parity,
        /root/reference/tests/test_jsonschema.py:84-91)."""
        field = rule.get("field")
        parts = field.split(".") if field else []
        target_dt = _dtype_in(dtype.elementType, field, []) if field else dtype.elementType
        check = rule.params["check"]
        label = (field or rule.params["column"]).split(".")[-1]
        # 'required' anchors at the element object (jsonschema names the
        # missing key, the path stops at the index)
        tail = [] if check == "required" else parts
        x, i = _lambda_var("x", taken), _lambda_var("i", taken)
        elem = ".".join([x, *map(_sql_ident, parts)])
        pred, msg = compile_check(elem, target_dt, check, rule.get, label, taken)
        v = viol([f"CAST({i} AS STRING)", *map(_sql_lit, tail)], f"CAST({elem} AS STRING)", msg)
        return f"array_compact(transform({col}, ({x}, {i}) -> {_case([(_failed(pred), v)])}))"

    @staticmethod
    def _prefix_items_entries(rule: Rule, col: str, dtype: T.ArrayType, viol, taken) -> str:
        """prefix_items (Draft-7 tuple items + additionalItems): element p
        against checks[p] (absent positions skip — Draft-7 validates only
        what exists), and the tail past the prefix either rejected wholesale
        (additional_items: false — jsonschema emits ONE aggregate error
        naming every extra, was/were pluralized) or checked per element
        (additional_items: {check}). element_at per position, no explode."""
        elem_dt = dtype.elementType
        checks = rule.params["checks"]
        add = rule.get("additional_items")
        n = len(checks)
        label = rule.params["column"].split(".")[-1]

        structs: list[str] = []
        for p, spec in enumerate(checks):
            elem = f"element_at({col}, {p + 1})"
            pred, msg = compile_check(elem, elem_dt, spec["kind"], spec.get, label, taken)
            v = viol([_sql_lit(str(p))], f"CAST({elem} AS STRING)", msg)
            structs.append(_case([(f"size({col}) > {p} AND {_failed(pred)}", v)]))
        arrays = [f"array_compact(array({', '.join(structs)}))"] if structs else []
        if add is False:
            y = _lambda_var("y", taken)
            extras = f"slice({col}, {n + 1}, greatest(size({col}) - {n}, 0))"
            reprs = f"array_join(transform({extras}, {y} -> {py_repr(y, elem_dt)}), ', ')"
            msg = _concat(
                "'Additional items are not allowed ('", reprs,
                _case([(f"size({col}) - {n} = 1", "' was unexpected)'")], "' were unexpected)'"),
            )
            # jsonschema anchors this error at the array itself, not an index
            arrays.append(f"array_compact(array({_case([(f'size({col}) > {n}', viol([], reprs, msg))])}))")
        elif isinstance(add, dict):
            x, i = _lambda_var("x", taken), _lambda_var("i", taken)
            pred, msg = compile_check(x, elem_dt, add["kind"], add.get, label, taken)
            v = viol([f"CAST({i} AS STRING)"], f"CAST({x} AS STRING)", msg)
            tail = _case([(f"{i} >= {n} AND {_failed(pred)}", v)])
            arrays.append(f"array_compact(transform({col}, ({x}, {i}) -> {tail}))")
        return arrays[0] if len(arrays) == 1 else _concat(*arrays)

    @staticmethod
    def _pattern_properties_entries(rule: Rule, col: str, dtype: T.MapType, viol, taken) -> str:
        """pattern_properties (Draft-7 patternProperties over a MAP column —
        the reference's interface-name maps, examples/ansible/schema/schemas/
        interfaces.yml:9-16): entries whose key matches ``pattern`` get
        ``check`` on the value (or its ``field``); with
        ``additional_properties: false``, keys matching nothing are rejected
        with jsonschema's exact additionalProperties message."""
        field = rule.get("field")
        parts = field.split(".") if field else []
        check = rule.get("check")
        target_dt = _dtype_in(dtype.valueType, field, []) if field else dtype.valueType
        label = (field or rule.params["column"]).split(".")[-1]
        tail = [] if check == "required" else parts
        # the rule's own `pattern` matches KEYS; a `pattern` value sub-check
        # reads the dedicated value_pattern param (manifest meta-validation
        # requires it)
        if check == "pattern":
            vp = rule.params["value_pattern"]
            getter = lambda k, d=None: vp if k == "pattern" else rule.get(k, d)  # noqa: E731
        else:
            getter = rule.get
        e = _lambda_var("e", taken)
        key = f"{e}.key"
        matched = f"{key} RLIKE {_sql_lit(rule.params['pattern'])}"
        branches = []
        if rule.get("additional_properties") is False:
            # jsonschema message parity (_validators.py
            # additionalProperties: "Additional properties are not
            # allowed ('%s' %s unexpected)")
            msg = _concat("'Additional properties are not allowed ('", _Q, key, _Q, "' was unexpected)'")
            branches.append((f"NOT {matched}", viol([key], key, msg, override=False)))
        if check is not None:
            val = ".".join([f"{e}.value", *map(_sql_ident, parts)])
            pred, msg = compile_check(val, target_dt, check, getter, label, taken)
            v = viol([key, *map(_sql_lit, tail)], f"CAST({val} AS STRING)", msg)
            branches.append((f"{matched} AND {_failed(pred)}", v))
        return f"array_compact(transform(map_entries({col}), {e} -> {_case(branches)}))"

    @staticmethod
    def _property_names_entries(rule: Rule, col: str, dtype: T.MapType, viol, taken) -> str:
        """property_names (Draft-7 propertyNames over a MAP column — the
        sub-schema validates each KEY string): the message straight from the
        compiled sub-check ("'ab' is too short" etc.). min/maxProperties is
        a `length` rule on the map (F.size counts entries)."""
        k = _lambda_var("k", taken)
        pred, msg = compile_check(k, T.StringType(), rule.params["check"], rule.get, rule.params["column"], taken)
        return f"array_compact(transform(map_keys({col}), {k} -> {_case([(_failed(pred), viol([k], k, msg))])}))"

    def _compiled(self, df: DataFrame) -> tuple[list[CompiledRule], list[CompiledRule]]:
        """Every compiled row rule, split into (all-SQL rules, rules with a
        Column part)."""
        text, cols = [], []
        for cr in compile_row_rules(df, self.manifest) + self._compile_conditionals(df):
            has_col = any(isinstance(x, Column) for x in (cr.predicate, cr.message, cr.failing_value))
            (cols if has_col else text).append(cr)
        return text, cols

    def row_fail_count(self, df: DataFrame) -> Column:
        """Number of row rules the row fails — the streaming-verdict
        building block (windowed sum of this = per-window fail count)."""
        text, cols = self._compiled(df)
        flags = [f"CAST({_failed(cr.predicate)} AS INT)" for cr in text]
        flags += [f"size({a})" for a in self._entry_violation_arrays(df, [])]
        out = F.expr(" + ".join(flags)) if flags else F.lit(0)
        for cr in cols:
            out = out + (~F.coalesce(_column(cr.predicate), F.lit(True))).cast("int")
        return out

    def _row_violation_array(self, df: DataFrame) -> Column | None:
        """Every row rule's violations for one row as ONE array of
        :func:`_violation` structs, each tagged with this engine's instance
        column, location, instance type and manifest id — the single-pass
        building block :func:`_row_violation_rows` explodes. None when the
        manifest has no row rules.

        Memoized per input-DataFrame identity: the Column depends only on
        the manifest and the input (never keyed by schema alone — compiled
        pieces may hold df-bound attribute references, which don't transfer
        to a different DataFrame of the same shape)."""
        return self._row_arr_memo.get((), (df,), lambda: self._row_violation_array_impl(df))

    def _row_violation_array_impl(self, df: DataFrame) -> Column | None:
        text, cols = self._compiled(df)
        tag = [
            ("instance_name", self._instance_sql(df)),
            ("instance_location", _sql_lit(self.manifest.table)),
            ("instance_type", _sql_lit(self.instance_type)),
            ("_mid", _sql_lit(self.manifest.id)),
        ]

        def fields(cr: CompiledRule) -> tuple:
            return _sql_lit(cr.rule_id), self._path(df.columns, cr.column), cr.failing_value, cr.message

        elems = [_case([(_failed(cr.predicate), _violation(*fields(cr), tag))]) for cr in text]
        arrays = [f"array_compact(array({', '.join(elems)}))"] if elems else []
        arrays += self._entry_violation_arrays(df, tag)
        out = [F.expr(arrays[0] if len(arrays) == 1 else _concat(*arrays))] if arrays else []
        if cols:
            # rules with a Column part (user SQL, JMESPath, the regex UDF)
            # build their structs as Columns and join the array after
            names = ("schema_id", "absolute_path", "failing_value", "message")
            out.append(F.array_compact(F.array(*[
                F.when(
                    ~F.coalesce(_column(cr.predicate), F.lit(True)),
                    F.struct(*[_column(v).alias(n) for n, v in [*zip(names, fields(cr)), *tag]]),
                )
                for cr in cols
            ])))
        if not out:
            return None
        return out[0] if len(out) == 1 else F.concat(*out)

    def row_violations(self, df: DataFrame) -> DataFrame | None:
        """Row-rule violations alone: the one-engine call of
        :func:`_row_violation_rows`."""
        rows = _row_violation_rows([self], df)
        return None if rows is None else rows.drop("_mid")

    # -- table rules -------------------------------------------------------

    def _unique_violations(self, df: DataFrame, rule: Rule, ref_tables: dict[str, DataFrame]) -> DataFrame:
        # Output contract (shared with the fused-window path so adding or
        # removing an unrelated ordering/contiguous rule never changes a
        # unique rule's violations): ONE row per duplicated key, message
        # "(<key>) appears N times; (<cols>) must be unique". instance_name
        # is min() over the group — F.first() would be nondeterministic when
        # a duplicated key spans instances.
        cols = rule.params["columns"]
        dups = (
            df.groupBy(*cols)
            .agg(F.expr("count(1) AS _n"), F.expr(f"min({self._instance_sql(df)}) AS instance_name"))
            .filter("_n > 1")
        )
        return self._violation_rows(
            dups, _sql_lit(rule.rule_id(self.manifest.id, "+".join(cols))), "instance_name",
            f"array({', '.join(_strings(cols))})", _key_string(cols), _unique_message(rule, cols, "_n"),
        )

    def _referential_violations(self, df: DataFrame, rule: Rule, ref_tables: dict[str, DataFrame]) -> DataFrame:
        # CheckPeers-style referential check via left-anti join
        # (/root/reference/tests/fixtures/test_validators/validators/check_peers.py:54-82
        # rebuilt as a distributed anti-join, SURVEY.md §2.3 J4).
        cols = rule.params["columns"]
        ref_name, ref_cols = rule.params["ref_table"], rule.params["ref_columns"]
        if ref_name not in ref_tables:
            raise KeyError(f"referential rule needs ref table {ref_name!r} in ref_tables")
        # normalize_keys: '-'↔'_' key normalization before the join (F1 —
        # the reference normalizes hostnames both ways before its peer
        # lookup, check_peers.py:44-51); without it referential rules on
        # messy string keys silently miss matches
        if rule.get("normalize_keys", False):
            from schema_enforcer_spark.functions.textops import normalize_key

            def _k(c):  # noqa: E306
                return normalize_key(F.col(c).cast("string"))
        else:
            def _k(c):  # noqa: E306
                return F.col(c)

        ref_keys = ref_tables[ref_name].select(
            *[_k(rc).alias(c) for rc, c in zip(ref_cols, cols)]
        ).dropDuplicates()
        # Distinct fact keys first: anti-join runs on |distinct keys|, not |rows|.
        # NULL foreign keys are not orphans (FK semantics: nullability is the
        # 'required' rule's job; a left-anti join would otherwise report every
        # NULL since NULL never matches). NULLs on the ref side are kept but
        # match nothing — deliberately NOT SQL NOT-IN's "one NULL poisons the
        # whole check" behavior.
        non_null = reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in cols])
        # min() instance, not dropDuplicates: a key spanning partitions must
        # attribute its violation deterministically (same reasoning as the
        # unique rule's min())
        orphan_keys = (
            df.filter(non_null)
            .groupBy(*[_k(c).alias(c) for c in cols])
            .agg(F.min(self._instance_col(df)).alias("instance_name"))
        )
        orphans = orphan_keys.join(F.broadcast(ref_keys) if rule.get("broadcast", True) else ref_keys, on=cols, how="left_anti")
        key_str = _key_string(cols)
        message = rule_message(
            rule, _concat(_Q, key_str, _sql_lit(f"' is not present in {ref_name}({', '.join(ref_cols)})"))
        )
        return self._violation_rows(
            orphans, _sql_lit(rule.rule_id(self.manifest.id, "+".join(cols))), "instance_name",
            f"array({', '.join(_strings(cols))})", key_str, message,
        )

    def _equals_table_violations(
        self, df: DataFrame, rule: Rule, ref_tables: dict[str, DataFrame], how: str = "full_outer"
    ) -> DataFrame:
        """The north-star per-row invariant (BASELINE.json input_hint:
        'per-turn text equality under stable turn ordering'): diff the
        input against a reference table on the key columns. Emits three
        violation shapes — a compared column's value differs, an input row
        has no reference counterpart, a reference row has no input
        counterpart. 'Stable turn ordering' is by construction — the
        comparison keys on (conv_id, turn_idx), never on file or partition
        order. No window; no unbounded collect.

        One plan: an equi-join shuffle on the keys, with the value
        comparison on the join projection. *how* is ``full_outer`` for the
        batch rule; the streaming twin (``stream_equals_table``) passes
        ``left_outer``, so it never emits the reference-only shape. Both
        sides must carry every key and compared column with the same
        dtype."""
        ref_name = rule.params["ref_table"]
        if ref_name not in ref_tables:
            raise KeyError(f"equals_table rule needs ref table {ref_name!r} in ref_tables")
        ref = ref_tables[ref_name]
        keys, comp = list(rule.params["columns"]), list(rule.params["compare"])
        for c in [*keys, *comp]:
            if c not in df.columns:
                raise ValueError(f"equals_table: input lacks column {c!r}")
            if c not in ref.columns:
                raise ValueError(f"equals_table: ref table {ref_name!r} lacks column {c!r}")
            # dtype alignment must hold: a string-vs-double compare column
            # would join/compare through implicit casts and render the ref
            # repr with the wrong quoting — fail loudly instead
            lt, rt = _dtype_of(df, c), _dtype_of(ref, c)
            if lt != rt:
                raise ValueError(
                    f"equals_table: column {c!r} dtype mismatch — input is {lt}, "
                    f"{ref_name} is {rt}; cast the tables to agree before validating"
                )
        left = df.select(*keys, *comp, self._instance_col(df).alias("_inst"), F.lit(1).alias("_l"))
        right = ref.select(*keys, *[F.col(c).alias(f"_r_{c}") for c in comp], F.lit(1).alias("_r"))
        j = left.join(right, on=keys, how=how)
        key_cols = ", ".join(_strings(keys))
        key_str = _key_string(keys)

        def viol(cond: str, path: str, failing: str, message: str) -> str:
            return _case([(cond, _struct([
                ("absolute_path", f"array({path})"), ("failing_value", failing),
                ("message", rule_message(rule, message)),
            ]))])

        structs = [
            viol("_r IS NULL", key_cols, key_str, _concat(_Q, key_str, _sql_lit(f"' is missing from {ref_name}"))),
            viol("_l IS NULL", key_cols, key_str, _concat(
                _Q, key_str, _sql_lit(f"' is missing from the input (present in {ref_name})"))),
        ]
        for c in comp:
            lc, rc = _sql_ident(c), _sql_ident(f"_r_{c}")
            # ref dtype equals the input dtype (checked above) — but source
            # the repr from the ref schema so the message stays honest if
            # the check is ever relaxed to compatible casts
            structs.append(viol(
                f"_l IS NOT NULL AND _r IS NOT NULL AND NOT {lc} <=> {rc}", f"{key_cols}, {_sql_lit(c)}",
                f"CAST({lc} AS STRING)",
                _concat(py_repr(lc, _dtype_of(df, c)), _sql_lit(f" does not equal {ref_name}.{c} "),
                        py_repr(rc, _dtype_of(ref, c))),
            ))
        # a reference-only row has no input instance: attribute it to its
        # key so the verdict grain still isolates the failure
        exploded = j.selectExpr(
            f"coalesce(_inst, {key_str}) AS instance_name", f"explode(array_compact(array({', '.join(structs)}))) AS v"
        )
        return self._violation_rows(
            exploded, _sql_lit(rule.rule_id(self.manifest.id, ref_name)), "instance_name",
            "v.absolute_path", "v.failing_value", "v.message",
        )

    def _cardinality_violations(self, df: DataFrame, rule: Rule, ref_tables: dict[str, DataFrame]) -> DataFrame:
        """Cross-table cardinality constraint (FK multiplicity): every
        non-null key of this table must match between min_count and
        max_count rows of ref_table. The reference validates one document
        at a time and cannot see cross-table multiplicity at all; in Spark
        it is the natural J4 extension — pre-aggregate the ref side on the
        key (map-side combine shrinks it to |distinct keys|), left-join the
        distinct fact keys (co-partitioned shuffle on the key, both sides),
        flag out-of-range counts. Nothing is broadcast or collected: the
        ref count table can be as large as the fact key set."""
        cols = rule.params["columns"]
        ref_name, ref_cols = rule.params["ref_table"], rule.params["ref_columns"]
        lo = rule.get("min_count")
        hi = rule.get("max_count")
        if ref_name not in ref_tables:
            raise KeyError(f"cardinality rule needs ref table {ref_name!r} in ref_tables")
        ref_counts = (
            ref_tables[ref_name]
            .filter(reduce(lambda a, b: a & b, [F.col(rc).isNotNull() for rc in ref_cols]))
            .groupBy(*[F.col(rc).alias(c) for rc, c in zip(ref_cols, cols)])
            .agg(F.count(F.lit(1)).alias("_rc"))
        )
        non_null = reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in cols])
        keys = (
            df.filter(non_null)
            .groupBy(*cols)
            .agg(F.min(self._instance_col(df)).alias("instance_name"))
        )
        joined = keys.join(ref_counts, on=cols, how="left").withColumn(
            "_rc", F.coalesce(F.col("_rc"), F.lit(0))
        )
        fail = F.lit(False)
        if lo is not None:
            fail = fail | (F.col("_rc") < lo)
        if hi is not None:
            fail = fail | (F.col("_rc") > hi)
        bounds = (
            f"between {lo} and {hi}" if lo is not None and hi is not None
            else (f"at least {lo}" if lo is not None else f"at most {hi}")
        )
        message = rule_message(rule, _concat(
            _Q, _key_string(cols), _sql_lit("' matches "), "CAST(_rc AS STRING)",
            _sql_lit(f" row(s) in {ref_name}({', '.join(ref_cols)}); expected {bounds}"),
        ))
        return self._violation_rows(
            joined.filter(fail), _sql_lit(rule.rule_id(self.manifest.id, "+".join(cols))), "instance_name",
            f"array({', '.join(_strings(cols))})", "CAST(_rc AS STRING)", message,
        )

    def _fd_violations(self, df: DataFrame, rule: Rule, ref_tables: dict[str, DataFrame]) -> DataFrame:
        """Functional-dependency constraint (X -> y): every distinct
        determinant tuple over ``columns`` must map to exactly ONE value of
        ``dependent``. NULL counts as a value on both sides (SQL GROUP BY
        semantics: a NULL determinant forms its own group; a NULL dependent
        is one more distinct value). The reference's per-document walker has
        no cross-row visibility, so this table-grain profiling constraint
        (the Deequ/Metanome FD check) exists only here.

        Plan shape (asserted in PLANS.md §26): Spark's two-phase distinct
        aggregation — exchange 1 is keyed (determinant, dependent) and runs
        AFTER a map-side partial dedup, so it shuffles distinct pairs, not
        rows; exchange 2 reduces per determinant over the already-
        deduplicated pairs (bounded by Σ|distinct deps per group|). Every
        per-group statistic (exact distinct dependent count, null flag,
        example min/max pair, stable instance name) rides the same
        aggregate. Output is one row per VIOLATING group, bounded by
        |distinct determinants| — nothing is collected or broadcast, so a
        100 TB fact table costs one map-side-combined shuffle of its
        deduplicated (determinant, dependent) projection."""
        cols = rule.params["columns"]
        dep = rule.params["dependent"]
        # same fail-loud clash check as _outlier_emit: a determinant named
        # like a staging alias would otherwise surface as a confusing
        # duplicate-column AnalysisException deep in the agg (ADVICE r6)
        if clash := {"_nd", "_hn", "_lo", "_hi", "instance_name"} & set(cols):
            raise ValueError(
                f"functional_dependency rule: determinant columns {sorted(clash)} "
                "collide with the FD staging columns — rename them before validating"
            )
        depc = F.col(dep)
        g = df.groupBy(*cols).agg(
            # exact per-group distinct (skips NULLs) + a did-we-see-NULL
            # flag: n_values = _nd + _hn counts NULL as one more value
            F.count_distinct(depc).alias("_nd"),
            F.max(F.when(depc.isNull(), 1).otherwise(0)).alias("_hn"),
            F.min(depc).alias("_lo"),
            F.max(depc).alias("_hi"),
            F.min(self._instance_col(df)).alias("instance_name"),
        )
        n_values = "(_nd + _hn)"
        # example conflicting pair: two non-null values when we have them,
        # else NULL vs the single non-null value (n_values > 1 guarantees
        # one of the two shapes)
        example = _case(
            [("_nd >= 2", _concat(_Q, "CAST(_lo AS STRING)", _sql_lit("' vs '"), "CAST(_hi AS STRING)", _Q))],
            _concat(_sql_lit("NULL vs '"), "CAST(_lo AS STRING)", _Q),
        )
        message = rule_message(rule, _concat(
            _Q, _key_string(cols), _sql_lit("' maps to "), f"CAST({n_values} AS STRING)",
            _sql_lit(f" distinct values of {dep} ("), example, "'); expected exactly 1'",
        ))
        return self._violation_rows(
            g.filter(f"{n_values} > 1"), _sql_lit(rule.rule_id(self.manifest.id, f"{'+'.join(cols)}->{dep}")),
            "instance_name", f"array({', '.join(_strings(cols))})", f"CAST({n_values} AS STRING)", message,
        )

    def _outlier_violations(self, df: DataFrame, rule: Rule, ref_tables: dict[str, DataFrame]) -> DataFrame:
        """Tukey-fence outlier flag (profiling-grade anomaly detection —
        the Deequ anomaly-check analogue; the reference's one-document
        walker cannot see distribution-grain constraints): rows whose
        numeric ``column`` falls outside [q1 - k*IQR, q3 + k*IQR], with
        the quartiles computed from the data itself.

        Scale path: ``approx_percentile`` (default) — a fixed-size
        mergeable sketch, one map-side-combined pass for the bounds.
        ``exact: true`` switches to the exact R-7 interpolated percentile
        (memory grows with |distinct column values|; bit-identical to
        DuckDB's quantile_cont, which is what makes the q27 oracle twin
        possible). Plan: TWO scans by design — a bounds pass and a flag
        pass are inherent to comparing every row against a global
        statistic — glued by a broadcast join of the single bounds row
        (the scalar-subquery shape); nothing is collected driver-side.
        With ``group_by`` the fence is computed PER GROUP (per-segment
        anomaly detection): the bounds side shrinks to |groups| rows via
        one map-side-combined aggregate and joins back on the group key —
        AQE broadcasts it when small, else the join co-partitions both
        sides on the key; still nothing driver-side."""
        bounds = self.outlier_bounds(df, rule)
        return self._outlier_emit(df, rule, bounds)

    def outlier_bounds(self, df: DataFrame, rule: Rule) -> DataFrame:
        """The bounds half of the outlier rule: a frame of (_lo, _hi)
        fences — one row, or |groups| rows with the ``group_by`` columns.
        Public because the streaming twin freezes fences computed here
        from a static reference table (a stream cannot take a global
        quantile)."""
        col = rule.params["column"]
        k = float(rule.get("k", 1.5))
        exact = bool(rule.get("exact", False))
        group = list(rule.get("group_by") or [])
        fn = "percentile" if exact else "approx_percentile"
        q = F.expr(f"{fn}(`{col}`, array(0.25D, 0.75D))")
        iqr = F.col("_q3") - F.col("_q1")
        fences = [
            (F.col("_q1") - F.lit(k) * iqr).alias("_lo"),
            (F.col("_q3") + F.lit(k) * iqr).alias("_hi"),
        ]
        if group:
            return (
                df.groupBy(*group)
                .agg(q.alias("_q"))
                .select(*group, F.col("_q")[0].alias("_q1"), F.col("_q")[1].alias("_q3"))
                .select(*group, *fences)
            )
        return (
            df.agg(q.alias("_q"))
            .select(F.col("_q")[0].alias("_q1"), F.col("_q")[1].alias("_q3"))
            .select(*fences)
        )

    def _outlier_emit(self, df: DataFrame, rule: Rule, bounds: DataFrame) -> DataFrame:
        """The flag half: join *bounds* back (broadcast for the 1-row
        global fence, key join for grouped) and project violation rows."""
        if clash := {"_lo", "_hi"} & set(df.columns):
            raise ValueError(
                f"outlier rule: input columns {sorted(clash)} collide with "
                "the fence staging columns — rename them before validating"
            )
        col = rule.params["column"]
        k = float(rule.get("k", 1.5))
        group = list(rule.get("group_by") or [])
        c = F.col(col)
        if group:
            joined = df.join(bounds, on=group, how="left")
        else:
            joined = df.join(F.broadcast(bounds))  # 1-row build side, no condition
        fail = c.isNotNull() & ((c < F.col("_lo")) | (c > F.col("_hi")))

        def _dec(x: str) -> str:
            # engine-portable float rendering: fixed DECIMAL(18,6) scale
            # (raw double→string differs across engines); values past the
            # decimal range fall back to the plain cast instead of an
            # ANSI overflow error
            return f"coalesce(CAST(TRY_CAST({x} AS DECIMAL(18,6)) AS STRING), CAST({x} AS STRING))"

        ident = _sql_ident(col)
        message = rule_message(rule, _concat(
            "'value '", _dec(ident), _sql_lit(f" of {col} is outside the IQR fence ["),
            _dec("_lo"), "', '", _dec("_hi"), _sql_lit(f"] (k={k:g})"),
        ))
        return self._violation_rows(
            joined.filter(fail), _sql_lit(rule.rule_id(self.manifest.id, col)), self._instance_sql(df),
            self._path(df.columns, col), _dec(ident), message,
        )

    def _rate_limit_violations(self, df: DataFrame, rule: Rule, ref_tables: dict[str, DataFrame]) -> DataFrame:
        """Sliding-window rate constraint (burst detection): within each
        partition_by group, the count of rows in the trailing
        ``window_seconds`` (inclusive of the current row's instant) must
        not exceed max_count. ONE exchange on the partition key — the same
        shuffle shape as the fused ordering/contiguity pass — then a RANGE
        frame count; a trailing event-time window is exactly the state a
        streaming rate limiter keeps, so the rule translates to the
        stateful streaming path unchanged. Window expressions cannot sit in
        a filter, so the count materializes in a projection first."""
        part = list(rule.params["partition_by"])
        order = rule.params["order_by"]
        oc = order if isinstance(order, str) else order[0]
        wsec = int(rule.params["window_seconds"])
        mx = int(rule.params["max_count"])
        w = (
            Window.partitionBy(*part)
            .orderBy(F.col(oc).cast("long"))
            .rangeBetween(-(wsec - 1), 0)
        )
        staged = df.select(
            *[F.col(c) for c in part],
            F.col(oc),
            self._instance_col(df).alias("instance_name"),
            F.count(F.lit(1)).over(w).alias("_c"),
        )
        message = rule_message(rule, _concat(
            _Q, _key_string(part), _sql_lit("' saw "), "CAST(_c AS STRING)",
            _sql_lit(f" rows within {wsec}s; at most {mx} allowed"),
        ))
        return self._violation_rows(
            staged.filter(F.col("_c") > mx), _sql_lit(rule.rule_id(self.manifest.id, "+".join(part))),
            "instance_name", f"array({', '.join(_strings([*part, oc]))})", "CAST(_c AS STRING)", message,
        )

    def _fused_window_violations(self, df: DataFrame, rules: list[Rule]) -> DataFrame:
        """ALL ordering/contiguous/unique/sequence rules that share a
        partition-key prefix evaluate in ONE pass over ONE exchange:

        - ordering → lag, contiguous → row_number, both over
          ``partitionBy(part)``;
        - sequence → lag + row_number over ``partitionBy(part)
          orderBy(order_by)`` (allowed-transition pairs are null-safe
          boolean algebra on the lag — fused in round 3 so a manifest with
          ordering + sequence no longer pays a second exchange);
        - unique(cols) where cols[:-1] == part → duplicate ⇔ the last key
          column equals its ``lag`` under the SAME (part × order) window the
          other rules use, with the group size from a ties frame
          (``rangeBetween(0,0)``) on that window. Zero extra exchanges or
          sorts. (A ``partitionBy(cols)`` count-window would add neither
          exchange nor sort but pays WindowExec per-group buffer setup on
          |table| nearly-unique keys — measured ~7× slower than even the
          standalone groupBy.) Output is normalized to the standalone
          contract: one violation per duplicated key, "appears N times".

        Violations are emitted as an array → inline, the same single-scan
        trick as the row-rule projection. The plan is two ``selectExpr``
        calls: the window columns, then the violation structs."""
        part = rules[0].params["partition_by"] if rules[0].kind != "unique" else list(rules[0].params["columns"][:1])
        for r in rules:
            if r.kind != "unique":
                part = r.params["partition_by"]
                break

        def over(keys: list[str], order: list[str], frame: str = "") -> str:
            by = f"PARTITION BY {', '.join(map(_sql_ident, keys))} " if keys else ""
            return f"OVER ({by}ORDER BY {', '.join(f'{_sql_ident(o)} ASC' for o in order)}{frame})"

        aux: list[str] = []
        viols: list[tuple[str, list]] = []  # (failing condition, violation fields)
        unique_cols_all: list[str] = []
        fields = self._violation_fields
        for i, rule in enumerate(rules):
            if rule.kind == "unique":
                # Same contract as _unique_violations: ONE row per duplicated
                # key (emitted at the group's first occurrence under the
                # window sort) with the identical "appears N times" message,
                # so fusing a unique rule into a window group never changes
                # its output. Note the emitted instance_name is the first
                # occurrence's — identical to the standalone min() whenever
                # the instance derives from the key prefix (the fuse
                # precondition cols[:-1] == partition key makes that the
                # norm).
                cols = rule.params["columns"]
                unique_cols_all.extend(cols)
                wu = over(cols[:-1], cols[-1:])
                last = _sql_ident(cols[-1])
                aux += [
                    f"lag({last}) {wu} AS _dup_{i}",
                    # row_number disambiguates "no previous row" from
                    # "previous value is NULL": NULLs sort first, so a
                    # duplicated-NULL group's first row has lag=NULL too and
                    # a null-safe compare alone would never mark a
                    # first-of-group row
                    f"row_number() {wu} AS _rn_{i}",
                    # group size via a ties frame (rangeBetween(0,0) counts
                    # rows with the SAME order value) — rides the identical
                    # window spec, so no extra exchange, sort, or WindowExec
                    # group
                    f"count(1) {over(cols[:-1], cols[-1:], ' RANGE BETWEEN CURRENT ROW AND CURRENT ROW')} AS _cnt_{i}",
                ]
                first_of_dup_group = f"_cnt_{i} > 1 AND (_rn_{i} = 1 OR NOT {last} <=> _dup_{i})"
                viols.append((first_of_dup_group, fields(
                    _sql_lit(rule.rule_id(self.manifest.id, "+".join(cols))), "instance_name",
                    f"array({', '.join(_strings(cols))})", _key_string(cols), _unique_message(rule, cols, f"_cnt_{i}"),
                )))
                continue
            col_name = rule.params["column"]
            col = _sql_ident(col_name)
            sid = _sql_lit(rule.rule_id(self.manifest.id, col_name))
            if rule.kind == "sequence":
                # allowed-transition lag rides the group's exchange like
                # ordering; row_number distinguishes the allowed_start
                # check. Allowed-transition pairs are null-safe boolean
                # algebra on the lag.
                w = over(part, rule.params["order_by"])
                aux += [f"lag({col}) {w} AS _sprev_{i}", f"row_number() {w} AS _srn_{i}"]
                prev = f"_sprev_{i}"
                ok_trans = " OR ".join(
                    f"({prev} <=> {_sql_lit(a)} AND {col} <=> {_sql_lit(b)})"
                    for a, b in rule.params["allowed_transitions"]
                )
                start = rule.get("allowed_start")
                ok_start = " OR ".join(f"{col} <=> {_sql_lit(v)}" for v in start) if start is not None else "true"
                is_first = f"_srn_{i} = 1"
                rep, prev_rep = f"coalesce(CAST({col} AS STRING), 'None')", f"coalesce(CAST({prev} AS STRING), 'None')"
                msg = _case(
                    [(is_first, _concat(_Q, rep, _sql_lit(f"' is not an allowed start value for '{col_name}'")))],
                    _concat(_Q, rep, _sql_lit("' cannot follow '"), prev_rep, _sql_lit(f"' in '{col_name}'")),
                )
                bad = _case([(is_first, f"NOT ({ok_start})")], f"NOT ({ok_trans})")
                path = f"array({', '.join(_strings([*part, *rule.params['order_by']]))}, {_sql_lit(col_name)})"
                viols.append((bad, fields(sid, "instance_name", path, f"CAST({col} AS STRING)", rule_message(rule, msg))))
                continue
            if rule.kind == "ordering":
                ref = f"_prev_{i}"
                aux.append(f"lag({col}) {over(part, rule.params['order_by'])} AS {ref}")
                strictly = rule.get("strictly", True)
                bad = f"{col} <= {ref}" if strictly else f"{col} < {ref}"
                msg = _concat(
                    _sql_lit(f"'{col_name}' value "), f"CAST({col} AS STRING)",
                    _sql_lit(f" is not {'strictly increasing' if strictly else 'non-decreasing'} (previous "),
                    f"CAST({ref} AS STRING)", "')'",
                )
            else:  # contiguous
                ref = f"_exp_{i}"
                aux.append(f"(row_number() {over(part, [col_name])} - 1) AS {ref}")
                bad = f"{col} != {ref}"
                msg = _concat(
                    _sql_lit(f"'{col_name}' value "), f"CAST({col} AS STRING)", "' breaks contiguity (expected '",
                    f"CAST({ref} AS STRING)", "')'",
                )
            viols.append((f"coalesce({bad}, false)", fields(
                sid, "instance_name", self._path(df.columns, col_name), f"CAST({col} AS STRING)", rule_message(rule, msg),
            )))
        orders = [o for r in rules if r.kind in ("ordering", "sequence") for o in r.params["order_by"] if o in df.columns]
        needed = list(dict.fromkeys([*part, *[r.params["column"] for r in rules if r.kind != "unique"], *unique_cols_all,
                                     *[k for k in self.key_columns if k in df.columns], *orders]))
        base = df.selectExpr(*map(_sql_ident, needed), f"{self._instance_sql(df)} AS instance_name", *aux)
        structs = ", ".join(_case([(cond, _struct(f))]) for cond, f in viols)
        return base.selectExpr(f"inline(array_compact(array({structs})))")

    def _salted_group(self, df: DataFrame, rule: Rule, group: list[str], specs: list) -> DataFrame:
        """Two-phase salted aggregation for hot-key skew (north_rule):
        phase 1 partial-aggregates on (group, salt) — a hot conversation's
        rows split across `salt` reducers — phase 2 merges the tiny
        (|groups| × salt) partials. Decomposable fns only; the salt is
        deterministic (hash of key columns), never rand()."""
        salt_n = int(rule.params["salt"])
        salt_cols = [c for c in self.key_columns if c in df.columns and c not in group] or [df.columns[0]]
        salted = df.withColumn("_salt", F.pmod(F.xxhash64(*salt_cols), F.lit(salt_n))).withColumn(
            "_inst_src", self._instance_col(df)
        )
        partials, finals = [F.min("_inst_src").alias("_inst")], [F.min("_inst").alias("_inst")]
        for alias, spec in specs:
            fn = spec.get("fn", "count") if isinstance(spec, dict) else None
            if fn == "count_distinct":
                raise ValueError("salt is not supported with count_distinct (non-decomposable); use approx via hll instead")
            if fn == "avg":
                # decompose avg = sum/count
                partials.append(_agg_side({**spec, "fn": "sum"}).alias(f"{alias}_s"))
                partials.append(_agg_side({**spec, "fn": "count"}).alias(f"{alias}_c"))
                finals.append((F.sum(f"{alias}_s") / F.sum(f"{alias}_c")).alias(alias))
            else:
                partials.append(_agg_side(spec).alias(alias) if isinstance(spec, dict) else F.first(F.lit(spec)).alias(alias))
                merge = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max, None: F.first}[fn]
                finals.append(merge(alias).alias(alias))
        return salted.groupBy(*group, "_salt").agg(*partials).groupBy(*group).agg(*finals)

    def _aggregate_violations(self, df: DataFrame, rule: Rule, ref_tables: dict[str, DataFrame]) -> DataFrame:
        group = rule.get("group_by", ["conv_id"])
        right_spec = rule.params["right"]
        # Both sides compile into ONE agg() — no second scan (SURVEY.md §4.2 #4,
        # rhs-as-expression parity with check_interfaces_ipv4.py:30-38).
        if rule.get("salt"):
            specs = [("_left", rule.params["left"])]
            if isinstance(right_spec, dict):
                specs.append(("_right", right_spec))
            grouped = self._salted_group(df, rule, group, specs)
        else:
            left = _agg_side(rule.params["left"]).alias("_left")
            aggs = [left] if not isinstance(right_spec, dict) else [left, _agg_side(right_spec).alias("_right")]
            # carry the instance through the aggregation so violation rows
            # land on the same instance names the verdicts group the input by
            # (recomputing from hash(group[0]) would ignore an explicit
            # partition_id column)
            aggs.append(F.min(self._instance_col(df)).alias("_inst"))
            grouped = df.groupBy(*group).agg(*aggs)
        right = F.col("_right") if isinstance(right_spec, dict) else F.lit(right_spec)
        failing = grouped.filter(~F.coalesce(_comparison(rule.params["operator"], F.col("_left"), right), F.lit(False)))
        # coalesce the interpolated sides: a NULL aggregate (e.g. sum over an
        # empty filter) must not null-propagate through concat and erase the
        # whole diagnostic
        left_str = "coalesce(CAST(_left AS STRING), 'NULL')"
        right_sql = "_right" if isinstance(right_spec, dict) else _sql_lit(right_spec)
        message = rule_message(rule, _concat(
            "'aggregate check failed: left='", left_str, _sql_lit(f" {rule.params['operator']} right="),
            f"coalesce(CAST({right_sql} AS STRING), 'NULL')", "' is false'",
        ))
        return self._violation_rows(
            failing, _sql_lit(rule.rule_id(self.manifest.id, "+".join(group))), "_inst",
            f"array({', '.join(_strings(group))})", left_str, message,
        )

    def _drift_violations(self, df: DataFrame, rule: Rule, ref_tables: dict[str, DataFrame]) -> DataFrame:
        """A8: KS or PSI of the histogram of the rule's column (a SQL
        expression, e.g. ``length(text)``) against its baseline histogram;
        one violation row iff the statistic exceeds the threshold. The
        baseline is the rule's inline ``baseline``, else the stored one of
        the rule id (the --write-baseline/--baseline lifecycle); with
        neither, or a malformed one, the plan build raises.

        One lazy plan: the histogram is one global aggregate over the input
        (:func:`stats.histogram_sql`) and the statistic is SQL over its
        bins + 2 counts, so nothing row-sized reaches the driver and no job
        runs at plan build. The statistic is rendered as Python's
        ``f"{x:.6f}"`` would: ``format_number`` rounds the double's exact
        binary value half-even."""
        from schema_enforcer_spark.stats import drift_statistic_sql, histogram_sql

        expr, metric = rule.params["column"], rule.params["metric"]
        rid = rule.rule_id(self.manifest.id, expr)
        base = rule.get("baseline") or self.drift_baselines.get(rid)
        if base is None:
            raise RuntimeError(f"drift rule {rid!r} has no baseline: inline one in the manifest or run the CLI "
                               "with --checkpoint + --write-baseline first, then validate with --baseline")
        if errors := drift_baseline_errors(base):
            raise ValueError(f"drift rule {rid!r}: {'; '.join(errors)}")
        threshold = float(rule.params["threshold"])
        hist = df.agg(F.expr(f"{histogram_sql(expr, base['lo'], base['hi'], base['bins'])} AS _h"))
        # the aggregate's one column is `_h`, so the statistic's lambda
        # variables shadow nothing
        stat = f"{drift_statistic_sql(metric, base['counts'], '_h')} AS _stat"
        drifted = hist.selectExpr(stat).filter(f"_stat > {_sql_lit(threshold)}")
        shown = "format_number(_stat, '0.000000')"
        message = rule_message(rule, _concat(
            _sql_lit(f"distribution drift on {expr}: {metric}="), shown, _sql_lit(f" exceeds threshold {threshold}"),
        ))
        return self._table_violations(drifted, rid, f"array({_sql_lit(expr)})", shown, message)

    def _strict_violations(self, df: DataFrame, rule: Rule | None) -> DataFrame | None:
        # additionalProperties:false — compile-time set diff over the SCHEMA,
        # never the data (parquet/Iceberg schemas are table metadata), at any
        # depth: a rule with `column:` targets a struct column (or
        # array<struct> — the reference injects additionalProperties one
        # level into items too, /root/reference/schema_enforcer/schemas/
        # jsonschema.py:103-134; message parity tests/test_jsonschema.py:98-105).
        declared = set(self.manifest.columns)
        path_prefix: list[str] = []
        actual = set(df.columns) - {"partition_id"}
        if rule is not None and rule.get("column"):
            target = rule.params["column"]
            dt = _dtype_of(df, target)
            if isinstance(dt, T.ArrayType):
                dt = dt.elementType
                path_prefix = [*target.split("."), "items"]
            else:
                path_prefix = target.split(".")
            if not isinstance(dt, T.StructType):
                raise ValueError(f"strict_columns column {target!r} is {dt.simpleString()}, not a struct")
            declared = set(rule.params.get("columns") or ())
            if not declared:
                raise ValueError(
                    f"strict_columns on {target!r} needs declared 'columns' — an empty "
                    "declaration would silently check nothing"
                )
            actual = {f_.name for f_ in dt.fields}
        elif rule is not None and rule.get("columns"):
            declared = set(rule.params["columns"])
        if not declared:
            # strict mode with nothing declared would silently check nothing —
            # the same misconfiguration the struct branch rejects above
            raise ValueError(
                "strict mode needs a declared column set (manifest 'columns' or the "
                "rule's 'columns') — an empty declaration would silently check nothing"
            )
        extras = sorted(actual - declared)
        if not extras:
            return None
        rows = [([*path_prefix, c], c, f"Additional properties are not allowed ('{c}' was unexpected)") for c in extras]
        rid = (rule or Rule("strict_columns")).rule_id(self.manifest.id)
        frame = local_frame(df.sparkSession, rows, "path array<string>, failing string, message string")
        return self._table_violations(frame, rid, "path", "failing", "message")

    # -- orchestration -----------------------------------------------------

    def violations(
        self,
        df: DataFrame,
        ref_tables: dict[str, DataFrame] | None = None,
        include_row_rules: bool = True,
    ) -> DataFrame:
        """Assemble the full violations frame. Construction is memoized per
        (input identity, ref-table identities, include_row_rules) through
        :class:`_PlanMemo`."""
        ref_tables = ref_tables or {}
        names, refs = _ref_pins(ref_tables)
        return self._plan_memo.get(
            ("violations", include_row_rules, names),
            (df, *refs),
            lambda: self._violations_impl(df, ref_tables, include_row_rules),
        )

    def _violations_impl(
        self,
        df: DataFrame,
        ref_tables: dict[str, DataFrame],
        include_row_rules: bool,
    ) -> DataFrame:
        parts: list[DataFrame] = []
        # include_row_rules=False: validate_many computes every engine's row
        # rules in ONE fused projection over a single scan; only table-grain
        # rules (their own exchanges anyway) stay per-engine here
        if include_row_rules and (rv := self.row_violations(df)) is not None:
            parts.append(rv)
        strict_rules: list[Rule | None] = [r for r in self.manifest.table_rules if r.rule_kind.evaluator == SCHEMA_PASS]
        if self.manifest.strict and not strict_rules:
            strict_rules = [None]
        for strict_rule in strict_rules:
            if (sv := self._strict_violations(df, strict_rule)) is not None:
                parts.append(sv)
        # fuse window rules by partition key: one shuffle per key, not per
        # rule; a unique rule whose columns extend a group's partition key
        # rides the same exchange (ClusteredDistribution satisfied) for free
        window_groups: dict[tuple, list[Rule]] = {}
        for rule in self.manifest.table_rules:
            if rule.rule_kind.evaluator == FUSED_WINDOW:
                window_groups.setdefault(tuple(rule.params["partition_by"]), []).append(rule)
        fused_uniques = set()
        for rule in self.manifest.table_rules:
            if rule.kind != "unique":
                continue
            cols = tuple(rule.params["columns"])
            for part_key, group in window_groups.items():
                # fuse only when the dup-lag rides the group's exact
                # (partition × sort-by-last-col) window
                if cols[:-1] == part_key:
                    group.append(rule)
                    fused_uniques.add(id(rule))
                    break
        for group in window_groups.values():
            parts.append(self._fused_window_violations(df, group))
        for rule in self.manifest.table_rules:
            evaluator = rule.rule_kind.evaluator
            if evaluator in SHARED_PATHS or id(rule) in fused_uniques:
                continue  # evaluated by the row projection, schema or window passes above
            fn = getattr(self, evaluator, None)
            if fn is None:
                # a registered kind with no evaluator would otherwise
                # validate NOTHING and report PASS — fail loudly instead
                # (this exact hole shipped for 'sequence' in round 2)
                raise NotImplementedError(f"table rule kind {rule.kind!r} has no evaluator")
            parts.append(fn(df, rule, ref_tables))
        if not parts:
            return local_frame(df.sparkSession, [], _VIOLATION_SCHEMA_DDL)
        return reduce(lambda a, b: a.unionByName(b), parts)

    def verdicts(self, df: DataFrame, violations: DataFrame) -> DataFrame:
        # construction-only memo: the verdict plan is lazy, so the exact
        # (df, violations) pair keys it
        return self._plan_memo.get(("verdicts",), (df, violations), lambda: _verdicts(
            [self], df, violations.selectExpr("*", f"{_sql_lit(self.manifest.id)} AS _mid")
        ))

    def _verdicts_impl(self, df: DataFrame, violations: DataFrame) -> DataFrame:
        """This engine's marked rows of the verdict aggregate
        (:func:`_verdicts`): its violations (marker 1) and, for a manifest
        WITH table-grain rules, a ('table', 'TABLE') row (marker NULL), so
        the table gets a verdict row even when clean — otherwise a recorded
        table FAIL could never be superseded by a PASS in checkpoint
        lineage."""
        mid = self.manifest.id
        rows = violations.filter(f"_mid = {_sql_lit(mid)}").selectExpr(
            "_mid", "instance_name", "instance_type AS grain", "1 AS _marker"
        )
        if self.manifest.strict or any(r.rule_kind.table_verdict for r in self.manifest.table_rules):
            marker = "_mid string, instance_name string, grain string, _marker int"
            rows = rows.unionByName(local_frame(df.sparkSession, [(mid, "table", "TABLE", None)], marker))
        return rows

    def validate(
        self,
        df: DataFrame,
        ref_tables: dict[str, DataFrame] | None = None,
        cache_violations: bool = True,
    ) -> ValidationReport:
        """Full report: the one-engine case of :func:`validate_many`."""
        return validate_many([self], df, ref_tables, cache_violations)


def _row_violation_rows(engines: list[ValidationEngine], df: DataFrame) -> DataFrame | None:
    """Every engine's row-rule violations from ONE projection and ONE
    explode over the concatenated tagged arrays: VIOLATION_COLUMNS plus the
    internal ``_mid`` manifest tag. None when no engine has row rules."""
    arrays = [a for e in engines if (a := e._row_violation_array(df)) is not None]
    if not arrays:
        return None
    return (
        df.select((arrays[0] if len(arrays) == 1 else F.concat(*arrays)).alias("_v"))
        # the OUTER explode + a post-generate null filter, NOT a plain
        # explode: with explode, InferFiltersFromGenerate injects a
        # `size(_v) > 0` filter that predicate pushdown then sinks BELOW the
        # projection, re-inlining the entire violation-array expression (and
        # every expensive input it references — json parses, array builds)
        # into a second full per-row evaluation (r7: q19's pushed filter
        # rebuilt its array ~20x per row). The outer form keeps empty arrays
        # (one NULL row each) so no filter is inferred; the null filter runs
        # on the generate OUTPUT — a cheap IsNotNull on a materialized
        # struct — and cannot be pushed below the Generate. Result multiset
        # is identical: _v is never NULL (every branch yields an array), so
        # outer only adds the null rows the filter removes.
        .selectExpr("explode_outer(_v) AS v")
        .filter("v IS NOT NULL")
        .selectExpr(
            *["'FAIL' AS result" if c == "result" else f"v.{c} AS {c}" for c in VIOLATION_COLUMNS], "v._mid AS _mid"
        )
    )


def _verdicts(engines: list[ValidationEngine], df: DataFrame, violations: DataFrame) -> DataFrame:
    """Every engine's per-instance PASS/FAIL over *violations* (tagged with
    the internal ``_mid`` manifest id).

    Engines that share an instance expression and grain share ONE
    ``groupBy(_mid, instance_name, grain)`` over a union: every input row's
    instance once per manifest (marker NULL) and every violation (marker
    1), so count(marker) is the violation count and a clean instance still
    gets its PASS row: one input scan, one partially aggregated exchange
    and no join. The violations bring their own instances, since
    table-grain rules (strict_columns, drift) attribute to instance
    'table', which no data row carries, and a verdict set built from the
    input alone would drop those FAILs and report a passing run. `grain`
    is part of the key so a real host/partition literally named 'table'
    (grain HOST/PARTITION) never collides with the table-grain row (grain
    TABLE), and groupBy keeps NULL names in one group, so a NULL
    instance's violations count in the NULL instance's verdict."""
    groups: dict[tuple[str, str], dict[str, ValidationEngine]] = {}
    for e in engines:
        groups.setdefault((e._instance_sql(df), e.instance_type), {}).setdefault(e.manifest.id, e)
    out = []
    for (inst, grain), group in groups.items():
        mids = ", ".join(map(_sql_lit, group))
        universe = df.selectExpr(
            f"{mids if len(group) == 1 else f'explode(array({mids}))'} AS _mid",
            f"{inst} AS instance_name", f"{_sql_lit(grain)} AS grain", "CAST(NULL AS INT) AS _marker",
        )
        marked = [universe, *[e._verdicts_impl(df, violations) for e in group.values()]]
        out.append(
            reduce(lambda a, b: a.unionByName(b), marked)
            .groupBy("_mid", "instance_name", "grain")
            .agg(F.expr("count(_marker) AS n_violations"))
            .selectExpr(
                "_mid AS schema_id", "instance_name", "grain",
                "CASE WHEN n_violations > 0 THEN 'FAIL' ELSE 'PASS' END AS result", "n_violations",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), out)


def _validate_plan(
    engines: list[ValidationEngine], df: DataFrame, ref_tables: dict[str, DataFrame]
) -> tuple[DataFrame, DataFrame]:
    """(manifest-tagged violations, verdicts) — the lazy plans behind
    :func:`validate_many`."""
    parts: list[DataFrame] = []
    if (rows := _row_violation_rows(engines, df)) is not None:
        parts.append(rows)
    for e in engines:
        # row-rule-only manifests contribute nothing here — skipping them
        # keeps empty-relation unions out of the fused plan
        if not e.manifest.table_rules and not e.manifest.strict:
            continue
        parts.append(
            e.violations(df, ref_tables, include_row_rules=False).selectExpr(
                "*", f"{_sql_lit(e.manifest.id)} AS _mid"
            )
        )
    if not parts:
        parts.append(local_frame(df.sparkSession, [], f"{_VIOLATION_SCHEMA_DDL}, _mid string"))
    all_v = reduce(lambda a, b: a.unionByName(b), parts)
    return all_v, _verdicts(engines, df, all_v)


def validate_many(
    engines: list[ValidationEngine],
    df: DataFrame,
    ref_tables: dict[str, DataFrame] | None = None,
    cache_violations: bool = True,
) -> ValidationReport:
    """Validate one input against one or MANY manifests in ONE scan for all
    row rules — the only validation path (``ValidationEngine.validate`` is
    the one-engine call).

    A per-engine loop (one violations plan per manifest) would scan the
    input once per manifest — at 100 TB with M bound manifests that is M
    full-table reads for work that is all row-local. Here every engine
    contributes its tagged row-violation array
    (:meth:`ValidationEngine._row_violation_array`) to a SINGLE projection;
    one ``explode`` over the concatenated arrays emits every manifest's
    violation rows from one pass (:func:`_row_violation_rows`) — the same
    fusion the CLI's ``--quarantine`` flag uses for its validity flag
    (``row_fail_count`` summed across engines). Table-grain rules
    (unique/window/aggregate/referential/drift) keep their own per-engine
    exchanges — they aggregate on different keys, so a shared scan buys
    nothing Spark wouldn't shuffle anyway.

    Verdicts stay per-manifest: the fused violations are persisted once
    (``cache_violations``, spill-safe MEMORY_AND_DISK — violation sets are
    tiny relative to the input, and without it every consumer recomputes
    every rule) and grouped by the internal ``_mid`` manifest tag (rule ids
    alone can't attribute a violation — a rule may carry a user-supplied id
    that doesn't embed the manifest id), in one aggregate per instance
    expression and grain (:func:`_verdicts`). The returned report's ``cached``
    handle is the tagged parent frame; ``unpersist()`` releases it. Plan
    assembly is memoized on the first engine (:class:`_PlanMemo`); persist
    still happens per call.

    Reference analogue: one data file is validated against every matching
    schema in a single pass over the file's contents
    (/root/reference/schema_enforcer/instances/file.py:178-201, one
    ``schema.validate`` per matched schema over the same loaded content).
    """
    ref_tables = ref_tables or {}
    names, refs = _ref_pins(ref_tables)
    all_v, verdicts = engines[0]._plan_memo.get(
        ("validate_many", names),
        (df, *engines, *refs),
        lambda: _validate_plan(engines, df, ref_tables),
    )
    if cache_violations:
        from pyspark.storagelevel import StorageLevel

        all_v = all_v.persist(StorageLevel.MEMORY_AND_DISK)
    return ValidationReport(
        violations=all_v.drop("_mid"),
        verdicts=verdicts,
        cached=all_v if cache_violations else None,
    )
