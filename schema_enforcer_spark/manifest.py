"""Constraint-manifest model + loader (the reference's "schema" analogue).

A manifest is the declarative rule set the engine compiles to Catalyst
expressions — the role JSONSchema documents play in the reference
(/root/reference/schema_enforcer/schemas/jsonschema.py:18-34: ``$id``-keyed,
loaded from YAML/JSON). Like the reference, the manifest is itself validated
against a meta-schema before any data work, failing fast
(/root/reference/schema_enforcer/schemas/manager.py:75-77 →
InvalidJSONSchema, exceptions.py:23-38).

Rule kinds cover the reference's Draft-7 surface (SURVEY.md §2.2 P5-P13)
plus the table-grain rules the north star mandates (U1 uniqueness, J4
referential, W1 ordering, A1/A2 aggregate thresholds, A8 drift).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from typing import Any

import jsonschema
import yaml

from schema_enforcer_spark.formats import SUPPORTED_FORMATS


class InvalidManifest(Exception):
    """Manifest failed meta-validation — raised before any Spark job
    (mirrors the reference's InvalidJSONSchema fail-fast,
    /root/reference/schema_enforcer/exceptions.py:23-38)."""

    def __init__(self, errors: list[str]):
        self.errors = errors
        super().__init__("\n".join(errors))


ROW, TABLE = "row", "table"

# Shared evaluation paths a kind declares instead of an evaluator of its own.
ROW_PROJECTION = "row projection"  # compiled onto the single-pass row projection
ENTRY_ARRAYS = "entry arrays"      # per-element/per-entry violation arrays on that projection
FUSED_WINDOW = "fused window"      # one window pass per partition key
SCHEMA_PASS = "schema pass"        # set difference over the input schema; reads no data
SHARED_PATHS = frozenset({ROW_PROJECTION, ENTRY_ARRAYS, FUSED_WINDOW, SCHEMA_PASS})


@dataclass(frozen=True)
class RuleKind:
    """Everything the loader and the engine know about one rule kind.
    Adding a kind is adding one record to ``RULE_KIND_TABLE`` (plus its
    evaluator)."""

    name: str
    grain: str                 # ROW (Manifest.row_rules) or TABLE (table_rules)
    required: tuple[str, ...]  # fields meta-validation demands
    # a shared path above, or the ValidationEngine method
    # ``(df, rule, ref_tables) -> violations DataFrame``
    evaluator: str
    # may be a sub-check of any_of/all_of/one_of/not, prefix_items,
    # contains, property_names and pattern_properties
    composable: bool = False
    # may be the `check` of an items rule (compiler.compile_check handles it)
    element: bool = False
    # the evaluator runs Spark jobs while the plan is built, so the engine's
    # plan memo must never reuse its output
    eager: bool = False
    # a missing column fails every row as a missing required property
    missing_fails: bool = False
    # violations land on the synthetic 'table' instance, so the verdicts
    # always carry a 'table' row
    table_verdict: bool = False


_SCALAR = {"composable": True, "element": True}

RULE_KIND_TABLE: dict[str, RuleKind] = {k.name: k for k in (
    # -- row grain: one projection over the rows, no shuffle -----------------
    # Draft-7 keywords P5-P13 (SURVEY.md §2.2)
    RuleKind("type", ROW, ("column", "type"), ROW_PROJECTION, **_SCALAR),
    RuleKind("required", ROW, ("column",), ROW_PROJECTION, **_SCALAR, missing_fails=True),
    RuleKind("format", ROW, ("column", "format"), ROW_PROJECTION, **_SCALAR),
    RuleKind("pattern", ROW, ("column", "pattern"), ROW_PROJECTION, **_SCALAR),
    RuleKind("enum", ROW, ("column", "values"), ROW_PROJECTION, **_SCALAR),
    # minimum/maximum/exclusive_*; needs at least one bound
    RuleKind("range", ROW, ("column",), ROW_PROJECTION, **_SCALAR),
    # min_length/max_length; needs at least one bound
    RuleKind("length", ROW, ("column",), ROW_PROJECTION, **_SCALAR),
    RuleKind("multiple_of", ROW, ("column", "multiple_of"), ROW_PROJECTION, **_SCALAR),
    # array column: elements distinct within the cell
    RuleKind("unique_items", ROW, ("column",), ROW_PROJECTION, **_SCALAR),
    # convenience: required + minLength 1
    RuleKind("not_empty", ROW, ("column",), ROW_PROJECTION, **_SCALAR, missing_fails=True),
    # Draft-6 const: value must equal the literal
    RuleKind("const", ROW, ("column", "value"), ROW_PROJECTION, **_SCALAR),
    # Draft-7 anyOf/allOf/oneOf/not over scalar sub-checks in `checks`
    RuleKind("any_of", ROW, ("column", "checks"), ROW_PROJECTION, element=True),
    RuleKind("all_of", ROW, ("column", "checks"), ROW_PROJECTION, element=True),
    RuleKind("one_of", ROW, ("column", "checks"), ROW_PROJECTION, element=True),
    RuleKind("not", ROW, ("column", "checks"), ROW_PROJECTION, element=True),
    # Draft-6 contains: array holds >=1 element passing `check`
    RuleKind("contains", ROW, ("column", "check"), ROW_PROJECTION, element=True),
    # Draft-2019 dependentRequired: column present => `requires` present
    RuleKind("dependent_required", ROW, ("column", "requires"), ROW_PROJECTION, element=True),
    # Draft-7 minProperties/maxProperties over a MAP column (jsonschema
    # "does not have enough properties" / "has too many properties")
    RuleKind("property_count", ROW, ("column",), ROW_PROJECTION, element=True),
    # X2 literal-string parity: the reference's JmesPathModelValidation
    # expressions verbatim (validator.py:65-88) — `left` compared per row
    # against `right` or `right_expr`, compiled to one Catalyst HOF
    # expression; unsupported constructs are rejected at load time
    RuleKind("jmespath", ROW, ("left", "operator"), ROW_PROJECTION),
    # X2 Spark-native twin of the reference's custom validators
    # (validator.py:90-117): a declarative SQL boolean over the row (`expr`);
    # a NULL predicate passes; `column` optionally names the value rendered
    RuleKind("expression", ROW, ("expr",), ROW_PROJECTION),
    # P12/P5 nested: per-element `check` on an array column (optionally a
    # struct `field` of each element), the element index in absolute_path
    # (["dns_servers","0","address"], tests/test_jsonschema.py:84-91)
    RuleKind("items", ROW, ("column", "check"), ENTRY_ARRAYS),
    # Draft-7 tuple items + additionalItems: element p checked against
    # checks[p]; additional_items false rejects extras with jsonschema's
    # aggregate message, a check object validates every element past them
    RuleKind("prefix_items", ROW, ("column", "checks"), ENTRY_ARRAYS),
    # Draft-7 propertyNames over a MAP column: every key satisfies `check`
    RuleKind("property_names", ROW, ("column", "check"), ENTRY_ARRAYS),
    # Draft-7 patternProperties over a MAP column: entries whose key matches
    # `pattern` get `check` on the value (or value `field`); with
    # additional_properties: false, non-matching keys are violations (the
    # reference's interface-name maps, examples/ansible/schema/schemas/
    # interfaces.yml:9-16)
    RuleKind("pattern_properties", ROW, ("column", "pattern"), ENTRY_ARRAYS),
    # -- table grain: groupBy / join / window plans, shuffles on their keys ---
    # U1: (columns...) unique across the table
    RuleKind("unique", TABLE, ("columns",), "_unique_violations"),
    # J4: columns must exist in a reference table
    RuleKind("referential", TABLE, ("columns", "ref_table", "ref_columns"), "_referential_violations"),
    # W1: order_by strictly monotonic per partition_by
    RuleKind("ordering", TABLE, ("column", "partition_by", "order_by"), FUSED_WINDOW),
    # W1: column must equal 0..n-1 per partition_by
    RuleKind("contiguous", TABLE, ("column", "partition_by"), FUSED_WINDOW),
    # W1 extension: allowed value transitions per partition (user→assistant)
    RuleKind(
        "sequence", TABLE, ("column", "partition_by", "order_by", "allowed_transitions"), FUSED_WINDOW
    ),
    # A1/A2: left <op> right per group
    RuleKind("aggregate", TABLE, ("left", "operator", "right"), "_aggregate_violations"),
    # P12: additionalProperties false at table grain
    RuleKind("strict_columns", TABLE, (), SCHEMA_PASS, table_verdict=True),
    # tool non-null iff role='tool' style implications (Draft-7
    # if/then/else); table grain, but rides the row projection
    RuleKind("conditional", TABLE, ("when", "then"), ROW_PROJECTION),
    # A8: KS/PSI vs a baseline histogram; the baseline may instead come from
    # a stored baseline file, so inline baseline or lo+hi bounds are checked
    # separately
    RuleKind(
        "drift", TABLE, ("column", "metric", "threshold"), "_drift_violations",
        eager=True, table_verdict=True,
    ),
    # J4 extension: FK multiplicity — key matches [min_count, max_count]
    # rows of ref_table
    RuleKind("cardinality", TABLE, ("columns", "ref_table", "ref_columns"), "_cardinality_violations"),
    # W1 extension: trailing event-time window count cap per partition key
    RuleKind(
        "rate_limit", TABLE, ("partition_by", "order_by", "window_seconds", "max_count"),
        "_rate_limit_violations",
    ),
    # profiling-grade anomaly flag: rows whose numeric column falls outside
    # the Tukey IQR fence [q1 - k*IQR, q3 + k*IQR]; bounds from the data
    # (approx_percentile by default, `exact: true` for R-7 exact quantiles)
    RuleKind("outlier", TABLE, ("column",), "_outlier_violations"),
    # profiling-grade FD: determinant `columns` map to exactly one value of
    # `dependent` (NULL counts as a value); one violation per offending group
    RuleKind("functional_dependency", TABLE, ("columns", "dependent"), "_fd_violations"),
    # full diff vs a reference table on the key columns: value mismatches
    # per compared column and rows missing on either side, one full-outer join
    RuleKind("equals_table", TABLE, ("columns", "ref_table", "compare"), "_equals_table_violations"),
)}

ROW_RULE_KINDS = frozenset(k.name for k in RULE_KIND_TABLE.values() if k.grain == ROW)
TABLE_RULE_KINDS = frozenset(k.name for k in RULE_KIND_TABLE.values() if k.grain == TABLE)
RULE_KINDS = ROW_RULE_KINDS | TABLE_RULE_KINDS

_COMPARISON_OPS = {"gt", "gte", "eq", "lt", "lte", "contains"}  # validator.py:70-86 parity

# Meta-schema for manifests — plays the role of the reference's Draft-7
# meta-schema check (/root/reference/schema_enforcer/schemas/jsonschema.py:136-172).
MANIFEST_META_SCHEMA: dict[str, Any] = {
    "type": "object",
    "required": ["id", "rules"],
    "properties": {
        "id": {"type": "string", "minLength": 1},
        "table": {"type": "string"},
        "columns": {"type": "array", "items": {"type": "string"}},
        "strict": {"type": "boolean"},
        "include": {"type": "array", "items": {"type": "string"}},
        "applies_to": {"type": "array", "items": {"type": "string"}},
        "rules": {
            "type": "array",
            "minItems": 1,
            "items": {
                "type": "object",
                "required": ["kind"],
                "properties": {
                    "kind": {"enum": sorted(RULE_KINDS)},
                    "column": {"type": "string"},
                    "columns": {"type": "array", "items": {"type": "string"}},
                    "type": {"enum": ["string", "integer", "number", "boolean", "timestamp", "null", "array", "object"]},
                    "values": {"type": "array"},
                    "pattern": {"type": "string"},
                    "format": {"enum": SUPPORTED_FORMATS},
                    "minimum": {"type": "number"},
                    "maximum": {"type": "number"},
                    "exclusive_minimum": {"type": "number"},
                    "exclusive_maximum": {"type": "number"},
                    "min_length": {"type": "integer"},
                    "max_length": {"type": "integer"},
                    "multiple_of": {"type": "number"},
                    "ref_table": {"type": "string"},
                    "ref_columns": {"type": "array", "items": {"type": "string"}},
                    # equals_table: the value columns that must match the
                    # reference row under the join keys
                    "compare": {"type": "array", "minItems": 1, "items": {"type": "string"}},
                    # functional_dependency: the column the determinant
                    # `columns` must map to exactly one value of
                    "dependent": {"type": "string", "minLength": 1},
                    # outlier: Tukey fence multiplier + exact-quantile flag
                    "k": {"type": "number", "minimum": 0},
                    "exact": {"type": "boolean"},
                    # enum: append a levenshtein-closest repair hint to the
                    # violation message (off by default — the bare message
                    # is the jsonschema-parity surface)
                    "suggest": {"type": "boolean"},
                    "broadcast": {"type": "boolean"},
                    "normalize_keys": {"type": "boolean"},
                    "partition_by": {"type": "array", "items": {"type": "string"}},
                    "order_by": {"type": "array", "items": {"type": "string"}},
                    "strictly": {"type": "boolean"},
                    "group_by": {"type": "array", "items": {"type": "string"}},
                    "salt": {"type": "integer", "minimum": 2},
                    "left": {},
                    "operator": {"enum": sorted(_COMPARISON_OPS)},
                    "right": {},
                    # expression rule: a single SQL boolean over the row
                    "expr": {"type": "string", "minLength": 1},
                    "when": {"type": "object"},
                    "then": {"type": "object"},
                    "otherwise": {"type": "object"},
                    "checks": {
                        "type": "array",
                        "minItems": 1,
                        "items": {"type": "object", "required": ["kind"]},
                    },
                    "allowed_transitions": {
                        "type": "array",
                        "minItems": 1,
                        "items": {"type": "array", "minItems": 2, "maxItems": 2},
                    },
                    "allowed_start": {"type": "array"},
                    "metric": {"enum": ["ks", "psi"]},
                    "threshold": {"type": "number"},
                    "baseline": {},
                    "lo": {"type": "number"},
                    "hi": {"type": "number"},
                    "bins": {"type": "integer"},
                    "message": {"type": "string"},
                    "id": {"type": "string"},
                    "field": {"type": "string"},
                    "check": {"type": "string"},
                    "value": {},
                    "requires": {"type": "array", "minItems": 1, "items": {"type": "string"}},
                    "min_count": {"type": "integer", "minimum": 0},
                    "max_count": {"type": "integer", "minimum": 0},
                    "min_properties": {"type": "integer", "minimum": 0},
                    "max_properties": {"type": "integer", "minimum": 0},
                    "window_seconds": {"type": "integer", "minimum": 1},
                    "additional_properties": {"type": "boolean"},
                    # prefix_items tail policy: false (reject extras) or a
                    # sub-check object applied to every element past the
                    # prefix; true = Draft-7 default (anything allowed)
                    "additional_items": {"type": ["boolean", "object"]},
                    "value_pattern": {"type": "string"},
                    "right_expr": {"type": "string"},
                },
                "additionalProperties": False,
            },
        },
    },
    "additionalProperties": False,
}

@dataclass(frozen=True)
class Rule:
    kind: str
    params: dict[str, Any] = field(default_factory=dict)

    def __getattr__(self, name: str) -> Any:  # convenience: rule.column etc.
        try:
            return self.params[name]
        except KeyError:
            raise AttributeError(name) from None

    def get(self, name: str, default: Any = None) -> Any:
        return self.params.get(name, default)

    def rule_id(self, manifest_id: str, suffix: str = "") -> str:
        """The ``schema_id`` of this rule's violations: its own ``id``, else
        ``{manifest_id}/{kind}``, plus ``/{suffix}`` when one is given."""
        return self.get("id") or f"{manifest_id}/{self.kind}" + (f"/{suffix}" if suffix else "")

    def message_or(self, default: Any) -> Any:
        """The rule's own ``message`` when it sets a non-empty one, else
        *default*."""
        return self.get("message") or default

    @property
    def is_row_rule(self) -> bool:
        return self.kind in ROW_RULE_KINDS

    @property
    def rule_kind(self) -> RuleKind:
        """This rule's kind record. A kind no record declares gets a
        table-grain record with no evaluator, so the engine fails loudly on
        it instead of skipping it."""
        return RULE_KIND_TABLE.get(self.kind) or RuleKind(self.kind, TABLE, (), "")


@dataclass(frozen=True)
class Manifest:
    """Compiled-ready rule set; ``id`` plays the role of JSONSchema ``$id``."""

    id: str
    rules: tuple[Rule, ...]
    table: str = "transcripts"
    columns: tuple[str, ...] = ()      # declared column set (for strict mode)
    strict: bool = False
    # J3 decorator-mapping analogue: tables this manifest explicitly applies
    # to (the reference marks validators with the data they bind to,
    # /root/reference/schema_enforcer/instances/file.py:122-145); consulted
    # by ManifestRegistry.bind alongside automap/static/declared.
    applies_to: tuple[str, ...] = ()

    @property
    def row_rules(self) -> list[Rule]:
        return [r for r in self.rules if r.is_row_rule]

    @property
    def table_rules(self) -> list[Rule]:
        return [r for r in self.rules if not r.is_row_rule]

    def rule_set_hash(self) -> str:
        """Stable content hash — checkpoint lineage key component, so a
        changed manifest invalidates prior per-partition verdicts."""
        blob = json.dumps(
            {
                "id": self.id,
                "table": self.table,
                "columns": list(self.columns),
                "strict": self.strict,
                "applies_to": list(self.applies_to),
                "rules": [{"kind": r.kind, **r.params} for r in self.rules],
            },
            sort_keys=True,
            default=str,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


_RANGE_BOUNDS = {"minimum", "maximum", "exclusive_minimum", "exclusive_maximum"}

# Kinds whose `check` field is one sub-check run on each array element, map
# key or map entry — inside a Spark lambda, which cannot call a Python UDF
_CHECK_LAMBDAS = {
    "items": ("an array-element", "array"),
    "contains": ("an array-element", "array"),
    "property_names": ("a map-key", "map"),
    "pattern_properties": ("a map-entry", "map"),
}


def _bound_errors(head: str, kind: Any, spec: dict[str, Any]) -> list[str]:
    """range/length checks need at least one bound; *head* names the check."""
    if kind == "range" and not (_RANGE_BOUNDS & spec.keys()):
        return [f"{head} needs at least one bound"]
    if kind == "length" and not ({"min_length", "max_length"} & spec.keys()):
        return [f"{head} needs min_length or max_length"]
    return []


def _sub_checks(kind: str, rule: dict[str, Any]):
    """Every sub-check *rule* carries, as (site, sub-kind, params, lambda,
    rejection message). A site named by the kind alone is the rule's own
    `check` field and reads the rule's params; the other sites are spec
    objects in `checks` or `additional_items`."""
    if kind in _CHECK_LAMBDAS:
        # a missing check is already a required-field error; items and
        # contains also report it as a non-scalar kind
        if rule.get("check") is not None or kind in ("items", "contains"):
            yield kind, rule.get("check"), rule, _CHECK_LAMBDAS[kind], None
    elif kind in ("prefix_items", "any_of", "all_of", "one_of", "not"):
        lam = _CHECK_LAMBDAS["items"] if kind == "prefix_items" else None
        for j, spec in enumerate(rule["checks"] if isinstance(rule.get("checks"), list) else ()):
            if isinstance(spec, dict):
                yield f"{kind} checks/{j}", spec.get("kind"), spec, lam, None
        if kind == "prefix_items" and isinstance(add := rule.get("additional_items"), dict):
            yield "prefix_items additional_items", add.get("kind"), add, lam, (
                "prefix_items additional_items must be false, true, or a scalar row-rule "
                f"check object, got kind {add.get('kind')!r}"
            )


def _sub_check_errors(at: str, site: str, sub: Any, spec: dict[str, Any], lam, bad: str | None) -> list[str]:
    """One sub-check: an allowed sub-kind, its required fields, its bounds,
    and no Python-UDF format inside a lambda."""
    inline = site in _CHECK_LAMBDAS
    kind = RULE_KIND_TABLE.get(sub) if isinstance(sub, str) else None
    if kind is None or not (kind.element if site == "items" else kind.composable):
        what = f"{site} 'check'" if inline else site
        return [f"{at}: " + (bad or f"{what} must be a scalar row-rule kind, got {sub!r}")]
    named = f"{site} check" if inline else f"{site} kind"
    # the sub-check inherits the rule's column
    errors = [f"{at}: {named} {sub!r} requires field {r!r}" for r in kind.required if r != "column" and r not in spec]
    errors += _bound_errors(f"{at}: {sub} rule" if inline else f"{at}: {site} {sub}", sub, spec)
    if lam and sub == "format" and spec.get("format") == "regex":
        errors.append(
            f"{at}: format 'regex' is a Python-UDF check and cannot run inside {lam[0]} "
            f"lambda; explode the {lam[1]} and use a plain format rule instead"
        )
    return errors


def _cross_field_errors(at: str, kind: str, rule: dict[str, Any]) -> list[str]:
    """Kind-specific constraints between a rule's fields."""
    errors: list[str] = []
    if kind == "jmespath":
        if not isinstance(rule.get("left"), str):
            errors.append(f"{at}: jmespath 'left' must be a JMESPath string")
        if ("right" in rule) == ("right_expr" in rule):
            errors.append(
                f"{at}: jmespath rule needs exactly one of 'right' "
                "(literal) or 'right_expr' (second JMESPath expression)"
            )
        # parse + subset-check the expression strings now — an
        # unsupported construct must fail at manifest compile, not
        # mid-job (reference parity: validators are imported/compiled
        # before any data is read, validator.py:170-190)
        from schema_enforcer_spark.jmespath_compat import UnsupportedJmesPath, parse_checked

        for fld in ("left", "right_expr"):
            if isinstance(rule.get(fld), str):
                try:
                    parse_checked(rule[fld])
                except UnsupportedJmesPath as exc:
                    errors.append(f"{at}: {fld}: {exc}")
    elif kind == "expression":
        # full parse/resolution happens at compile time against the
        # input schema (needs a session); here reject the shapes that
        # can never compile
        ex = rule.get("expr")
        if not isinstance(ex, str) or not ex.strip():
            errors.append(f"{at}: expression 'expr' must be a non-empty SQL string")
        elif ";" in ex:
            errors.append(
                f"{at}: expression 'expr' must be a single SQL boolean "
                "expression, not a statement list"
            )
    elif kind == "pattern_properties":
        if rule.get("check") is None and rule.get("additional_properties") is not False:
            errors.append(
                f"{at}: pattern_properties needs 'check' (validate matching "
                "values) and/or 'additional_properties: false' (reject "
                "non-matching keys) — with neither it checks nothing"
            )
        # `pattern` is this rule's KEY-matching regex; a value sub-check
        # would silently reuse it, validating values against the key regex
        # — require the dedicated param
        if rule.get("check") == "pattern" and "value_pattern" not in rule:
            errors.append(
                f"{at}: pattern_properties check 'pattern' needs "
                "'value_pattern' (the rule's own 'pattern' matches KEYS; "
                "reusing it for values is almost never intended)"
            )
    elif kind == "drift" and "baseline" not in rule and not ({"lo", "hi"} <= rule.keys()):
        errors.append(
            f"{at}: drift rule needs an inline 'baseline' histogram or "
            "'lo'+'hi' bucket bounds (for the stored-baseline flow)"
        )
    elif kind == "cardinality" and not ({"min_count", "max_count"} & rule.keys()):
        errors.append(f"{at}: cardinality rule needs min_count and/or max_count")
    elif kind == "functional_dependency" and rule.get("dependent") in (rule.get("columns") or []):
        errors.append(
            f"{at}: functional_dependency dependent column "
            f"{rule.get('dependent')!r} is part of the determinant — the "
            "rule would hold trivially and check nothing"
        )
    elif kind == "property_count":
        bounds = {k: rule.get(k) for k in ("min_properties", "max_properties") if k in rule}
        if not bounds:
            errors.append(f"{at}: property_count rule needs min_properties and/or max_properties")
        for k, v in bounds.items():
            if not isinstance(v, int) or isinstance(v, bool) or v < 0:
                errors.append(f"{at}: property_count {k} must be a non-negative integer")
        if (
            isinstance(bounds.get("min_properties"), int)
            and isinstance(bounds.get("max_properties"), int)
            and bounds["min_properties"] > bounds["max_properties"]
        ):
            errors.append(f"{at}: property_count min_properties > max_properties can never pass")
    elif kind == "strict_columns" and rule.get("column") and not rule.get("columns"):
        errors.append(
            f"{at}: strict_columns on a struct column needs the declared "
            "'columns' field set (an empty declaration would silently check nothing)"
        )
    return errors


def validate_manifest_dict(raw: dict[str, Any]) -> list[str]:
    """Meta-validate; returns error strings (empty = valid)."""
    validator = jsonschema.Draft7Validator(MANIFEST_META_SCHEMA)
    errors = [
        f"{'/'.join(str(p) for p in e.absolute_path) or '<root>'}: {e.message}"
        for e in validator.iter_errors(raw)
    ]
    rules = raw.get("rules", [])
    if not isinstance(rules, list):
        return errors
    for i, rule in enumerate(rules):
        # a non-dict rule or a non-string / unknown kind is already reported
        # by the meta-schema above (dict.get on an unhashable kind would
        # raise instead of collecting errors — fuzz find)
        kind = rule.get("kind") if isinstance(rule, dict) else None
        spec = RULE_KIND_TABLE.get(kind) if isinstance(kind, str) else None
        if spec is None:
            continue
        at = f"rules/{i}"
        errors += [f"{at}: kind {kind!r} requires field {req!r}" for req in spec.required if req not in rule]
        errors += _bound_errors(f"{at}: {kind} rule", kind, rule)
        for site, sub, params, lam, bad in _sub_checks(kind, rule):
            errors += _sub_check_errors(at, site, sub, params, lam, bad)
        errors += _cross_field_errors(at, kind, rule)
    return errors


def manifest_from_dict(raw: dict[str, Any]) -> Manifest:
    errors = validate_manifest_dict(raw)
    if errors:
        raise InvalidManifest(errors)
    rules = tuple(
        Rule(kind=r["kind"], params={k: v for k, v in r.items() if k != "kind"})
        for r in raw["rules"]
    )
    return Manifest(
        id=raw["id"],
        rules=rules,
        table=raw.get("table", "transcripts"),
        columns=tuple(raw.get("columns", ())),
        strict=bool(raw.get("strict", False)),
        applies_to=tuple(raw.get("applies_to", ())),
    )


def _inline_includes(
    raw: dict[str, Any],
    base_dir: str,
    seen: frozenset[str],
    inlined: set[str] | None = None,
) -> dict[str, Any]:
    """Schema composition — the $ref-inlining analogue (the reference eagerly
    replaces $refs at load time, /root/reference/schema_enforcer/schemas/
    manager.py:71-72 via jsonref). ``include:`` names fragment YAML files
    (relative to the including file) whose rules are prepended and whose
    declared columns are unioned; fragments may include further fragments.
    Cycles (the fragment is an ANCESTOR of itself: `seen`) fail fast;
    diamonds (A includes B and C, both include common.yml: `inlined`, shared
    across the whole pass) inline the shared fragment ONCE — inlining it per
    path would duplicate its rules and double every violation count.
    Meta-validation runs AFTER inlining, so a manifest may consist entirely
    of shared fragments."""
    import os

    if inlined is None:
        inlined = set()
    fragments_rules: list[Any] = []
    columns = list(raw.get("columns", ()))
    for rel in raw.get("include") or []:
        p = rel if os.path.isabs(rel) else os.path.join(base_dir, rel)
        rp = os.path.realpath(p)
        if rp in seen:
            raise InvalidManifest([f"include cycle: {rel!r} already inlined"])
        if rp in inlined:
            continue  # diamond: already inlined elsewhere in this pass
        inlined.add(rp)
        try:
            with open(rp, encoding="utf-8") as fh:
                frag = yaml.safe_load(fh)
        except OSError as e:
            raise InvalidManifest([f"include {rel!r}: {e}"]) from None
        if not isinstance(frag, dict):
            raise InvalidManifest([f"include {rel!r}: fragment must be a mapping"])
        frag = _inline_includes(frag, os.path.dirname(rp), seen | {rp}, inlined)
        fragments_rules.extend(frag.get("rules", ()))
        for c in frag.get("columns", ()):
            if c not in columns:
                columns.append(c)
    out = dict(raw)
    out.pop("include", None)
    out["rules"] = fragments_rules + list(raw.get("rules", ()))
    if columns:
        out["columns"] = columns
    return out


MANIFEST_EXTENSIONS = ("yml", "yaml", "json")


def find_manifest_file(path: str, extensions: tuple[str, ...] = MANIFEST_EXTENSIONS) -> str:
    """Resolve a manifest path with extension probing — the reference's
    ``find_file`` first-hit semantics (/root/reference/schema_enforcer/
    utils.py:408-446): an exact path wins; otherwise probe
    ``<path>.{yml,yaml,json}`` in order and return the first that exists.
    Raises FileNotFoundError listing everything probed."""
    import os

    if os.path.isfile(path):
        return path
    probed = [path]
    for ext in extensions:
        cand = f"{path}.{ext}"
        probed.append(cand)
        if os.path.isfile(cand):
            return cand
    raise FileNotFoundError(f"no manifest found; probed {probed}")


def load_manifest(path: str) -> Manifest:
    """Load + meta-validate a YAML/JSON manifest file (driver-side; the
    analogue of the reference's schema-file load,
    /root/reference/schema_enforcer/utils.py:367-386), inlining any
    ``include:`` fragments first. A path without an extension is probed as
    ``<path>.{yml,yaml,json}`` first-hit (utils.py:408-446 parity), so
    ``--manifest manifests/base`` resolves by directory convention."""
    import os

    path = find_manifest_file(path)
    with open(path, encoding="utf-8") as fh:
        raw = yaml.safe_load(fh)
    if not isinstance(raw, dict):
        raise InvalidManifest([f"{path}: manifest must be a mapping, got {type(raw).__name__}"])
    raw = _inline_includes(raw, os.path.dirname(os.path.abspath(path)), frozenset({os.path.realpath(path)}))
    return manifest_from_dict(raw)
