"""Manifest inference: profile a table and draft a constraint manifest.

The reference ships manifests written by hand; at 100 TB the first
practical question is the inverse — "this dump just landed, what SHOULD
its manifest say?". ``infer_manifest`` answers it from data:

- pass 1 — ONE full scan, a single ``agg()`` with only map-side-combinable
  expressions (counts, native-type min/max, length bounds,
  approx_count_distinct): no shuffle beyond the final single-row reduce,
  so the scan cost is the floor cost of reading the table once.
- pass 2 — one more job over CANDIDATE columns only: exact
  ``collect_set`` for enum candidates (prefiltered by the HLL estimate,
  so the set size is bounded before anything is collected) and exact
  ``count_distinct`` for key candidates (prefiltered by
  approx_distinct ≈ n_rows). High-cardinality columns never reach a
  collect, which is what makes the pass safe at 10^12 rows.

Emitted rules (deterministic given the data — the HLL prefilters carry a
2x margin so the exact checks, not the estimates, decide the output):

- ``type`` for every supported column (string/integer/number/boolean/
  timestamp).
- ``required`` when the column has zero nulls (a draft should encode the
  strictest constraint the data already satisfies; relax by hand).
- ``enum`` when a string/integer/boolean column has ≤ ``enum_max``
  distinct non-null values (subsumes range/length, so those are skipped).
- ``range`` (min/max) for numeric columns without an enum.
- ``length`` (min/max) for string columns without an enum.
- ``unique`` (table grain) when a column is null-free and its exact
  distinct count equals the row count — a primary-key candidate.
- ``functional_dependency`` (table grain, opt-in via ``fds=True``) for
  every discovered single-column A -> B dependency (``infer_fds``:
  HLL-pruned candidate pairs, exact count-distinct confirmation).

Timestamps get no range rule: pinning time bounds in a draft manifest
guarantees false failures on the next day's data.

Reference analogue: the reference's closest feature is ``schema
--check``/``--dump`` introspection of hand-written schemas
(/root/reference/schema_enforcer/cli.py:98-135); inference inverts the
workflow for tables too large to eyeball.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F, types as T

# columns of these Spark types get a `type` rule; everything else (binary,
# array, map, struct) is profiled for nulls only — nested constraints are
# the manifest author's call (items / pattern_properties / property_names)
_TYPE_OF = (
    (T.StringType, "string"),
    (T.BooleanType, "boolean"),
    ((T.TimestampType, T.TimestampNTZType, T.DateType), "timestamp"),
    ((T.ByteType, T.ShortType, T.IntegerType, T.LongType), "integer"),
    ((T.FloatType, T.DoubleType, T.DecimalType), "number"),
)


def _json_type(dt: T.DataType) -> str | None:
    for spark_t, name in _TYPE_OF:
        if isinstance(dt, spark_t):
            return name
    return None


# shape-distinctive Draft-7 formats probed during inference, most specific
# first (the first all-match wins). Deliberately EXCLUDES the promiscuous
# formats — hostname matches any bare word, email is just '@', uri matches
# 'a:b', json-pointer matches '' — which would make every draft noisy.
_DISTINCTIVE_FORMATS = ("date-time", "date", "time", "ipv4", "ipv6")


def profile_for_inference(
    df: DataFrame,
    columns: list[str] | None = None,
    enum_max: int = 16,
    formats: bool = True,
) -> dict[str, dict[str, Any]]:
    """Two-job table profile keyed by column: n_rows, n_nulls, jtype,
    min/max (native, numerics only), len_min/len_max (strings), ``format``
    (first distinctive format every non-null value matches, if any),
    approx_distinct, and — for candidate columns only — ``enum_values``
    (exact, sorted) and ``n_distinct`` (exact). Format probing adds
    ~5 codegen regex aggregates per string column to the one full scan;
    pass ``formats=False`` to skip it."""
    from schema_enforcer_spark.compiler import _sql_ident
    from schema_enforcer_spark.formats import format_sql
    columns = columns or df.columns
    dtypes = {f.name: f.dataType for f in df.schema.fields if f.name in columns}

    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in columns:
        dt, col = dtypes[c], F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.approx_count_distinct(col).alias(f"{c}__approx"))
        if _json_type(dt) in ("integer", "number"):
            aggs += [F.min(col).alias(f"{c}__min"), F.max(col).alias(f"{c}__max")]
        if isinstance(dt, T.StringType):
            aggs += [
                F.min(F.length(col)).alias(f"{c}__lmin"),
                F.max(F.length(col)).alias(f"{c}__lmax"),
            ]
            if formats:
                # one boolean agg per distinctive format: min(pred) == 1 iff
                # every value matches (format_sql is true on NULL, so an
                # all-null column is excluded separately via n_nulls)
                aggs += [
                    F.expr(f"min(CAST({format_sql(_sql_ident(c), fmt)} AS BIGINT))").alias(f"{c}__fmt{i}")
                    for i, fmt in enumerate(_DISTINCTIVE_FORMATS)
                ]
    row1 = df.agg(*aggs).collect()[0]  # single row — bounded driver data
    n_rows = row1["__n_rows"]

    prof: dict[str, dict[str, Any]] = {}
    enum_cands, key_cands = [], []
    for c in columns:
        dt = dtypes[c]
        jtype = _json_type(dt)
        p: dict[str, Any] = {
            "jtype": jtype,
            "n_rows": n_rows,
            "n_nulls": row1[f"{c}__nulls"] or 0,
            "approx_distinct": row1[f"{c}__approx"],
            "min": row1.asDict().get(f"{c}__min"),
            "max": row1.asDict().get(f"{c}__max"),
            "len_min": row1.asDict().get(f"{c}__lmin"),
            "len_max": row1.asDict().get(f"{c}__lmax"),
            "format": None,
            "enum_values": None,
            "n_distinct": None,
        }
        if formats and jtype == "string" and p["n_nulls"] < n_rows:
            for i, fmt in enumerate(_DISTINCTIVE_FORMATS):
                if row1[f"{c}__fmt{i}"] == 1:
                    p["format"] = fmt
                    break
        prof[c] = p
        # 2x margin over the HLL default rsd (5%): the exact pass-2 check
        # decides membership; the estimate only bounds what gets collected
        if jtype in ("string", "integer", "boolean") and p["approx_distinct"] <= 2 * enum_max:
            enum_cands.append(c)
        if (
            jtype in ("string", "integer")
            and p["n_nulls"] == 0
            and n_rows > 0
            and p["approx_distinct"] >= 0.9 * n_rows
        ):
            key_cands.append(c)

    if enum_cands or key_cands:
        aggs2 = [
            F.array_sort(F.collect_set(F.col(c))).alias(f"{c}__set") for c in enum_cands
        ] + [F.count_distinct(F.col(c)).alias(f"{c}__exact") for c in key_cands]
        row2 = df.agg(*aggs2).collect()[0]
        for c in enum_cands:
            vals = row2[f"{c}__set"]
            if len(vals) <= enum_max:
                prof[c]["enum_values"] = list(vals)
            prof[c]["n_distinct"] = len(vals)
        for c in key_cands:
            prof[c]["n_distinct"] = row2[f"{c}__exact"]
    return prof


def infer_fds(
    df: DataFrame,
    columns: list[str] | None = None,
    rsd_margin: float = 0.25,
    max_determinant: int = 1,
) -> list[tuple[tuple[str, ...], str]]:
    """Discover single-column functional dependencies A -> B (the
    Metanome/Deequ-style profiling primitive), NULL-as-a-value semantics
    matching the ``functional_dependency`` rule. Two bounded jobs:

    - pass 1 — ONE scan: ``approx_count_distinct`` per candidate column and
      per UNORDERED pair (count_distinct(struct(a,b)) == with (b,a), so one
      sketch serves both directions), each over a never-null struct wrapper so NULL
      counts as a value. A -> B requires nd(A,B) == nd(A) exactly, so a
      pair survives only when the pair estimate is within
      ``(1 + rsd_margin)`` of the determinant estimate — the default 25%
      margin is 5x the HLL default rsd, keeping every true FD while
      discarding the quadratic bulk before anything exact runs.
    - pass 2 — exact ``count_distinct`` for the SURVIVING pairs and their
      determinants only; the FD holds iff the exact counts are equal.

    Trivial FDs never reach pass 2: near-unique determinants
    (approx >= 0.9 * n_rows determine everything — the `unique` rule is the
    right constraint there) and constant dependents (approx <= 1, determined
    by everything). C candidate columns cost C + C*(C-1)/2 fixed-size HLL
    sketches on the one scan — no shuffle, no collect beyond two single-row
    results, safe at 10^12 rows for manifest-width tables.

    ``max_determinant=2`` adds composite (a, b) -> c discovery with the
    Metanome-style MINIMALITY prune — a pair determinant is only tested for
    targets no single member already determines, and ~unique pairs are
    skipped — as two more bounded jobs of the same sketch-then-exact shape.
    Returns [(determinant_tuple, dependent), ...], level-1 first."""
    columns = columns or df.columns
    dtypes = {f.name: f.dataType for f in df.schema.fields if f.name in columns}
    cands = [c for c in columns if _json_type(dtypes[c]) is not None]
    if len(cands) < 2:
        return []

    def _w(*cs: str):  # null-safe wrapper: struct is never NULL
        return F.struct(*[F.col(c) for c in cs])

    def _abk(a: str, b: str) -> str:
        # canonical unordered-pair key: count_distinct(struct(a,b)) ==
        # count_distinct(struct(b,a)), so ONE sketch serves both ordered
        # directions — the dominant quadratic pass-1 cost was exactly 2x
        # what it needed to be (ADVICE r6)
        return f"{a}__{b}__ab" if a <= b else f"{b}__{a}__ab"

    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    aggs += [F.approx_count_distinct(_w(c)).alias(f"{c}__a") for c in cands]
    pairs = [(a, b) for a in cands for b in cands if a != b]
    upairs = [(a, b) for i, a in enumerate(cands) for b in cands[i + 1 :]]
    aggs += [
        F.approx_count_distinct(_w(a, b)).alias(_abk(a, b)) for a, b in upairs
    ]
    row1 = df.agg(*aggs).collect()[0]
    n_rows = row1["__n_rows"]
    if n_rows == 0:
        return []

    survivors = [
        (a, b)
        for a, b in pairs
        if row1[f"{a}__a"] < 0.9 * n_rows  # determinant not ~unique
        and row1[f"{b}__a"] > 1  # dependent not constant
        and row1[_abk(a, b)] <= (1 + rsd_margin) * row1[f"{a}__a"]
    ]
    singles: list[tuple[str, str]] = []
    if survivors:
        dets = sorted({a for a, _ in survivors})
        aggs2 = [F.count_distinct(_w(c)).alias(f"{c}__x") for c in dets]
        aggs2 += [
            F.count_distinct(_w(a, b)).alias(f"{a}__{b}__xab") for a, b in survivors
        ]
        row2 = df.agg(*aggs2).collect()[0]
        singles = sorted(
            (a, b) for a, b in survivors if row2[f"{a}__{b}__xab"] == row2[f"{a}__x"]
        )
    out: list[tuple[tuple[str, ...], str]] = [((a,), b) for a, b in singles]
    if max_determinant < 2:
        return out

    # level 2: (a, b) -> c, minimal only — skip any target a single member
    # already determines, ~unique pair determinants, constant targets
    single_rhs = {a: {b for x, b in singles if x == a} for a, _ in singles}
    det_pairs = [(a, b) for i, a in enumerate(cands) for b in cands[i + 1 :]]
    triples = [
        (a, b, c)
        for a, b in det_pairs
        if row1[_abk(a, b)] < 0.9 * n_rows  # pair not ~unique
        for c in cands
        if c not in (a, b)
        and row1[f"{c}__a"] > 1
        and c not in single_rhs.get(a, ())
        and c not in single_rhs.get(b, ())
    ]
    if not triples:
        return out
    aggs3 = [
        F.approx_count_distinct(_w(a, b, c)).alias(f"{a}__{b}__{c}__t")
        for a, b, c in triples
    ]
    row3 = df.agg(*aggs3).collect()[0]
    t_surv = [
        (a, b, c)
        for a, b, c in triples
        if row3[f"{a}__{b}__{c}__t"] <= (1 + rsd_margin) * row1[_abk(a, b)]
    ]
    if not t_surv:
        return out
    pair_dets = sorted({(a, b) for a, b, _ in t_surv})
    aggs4 = [F.count_distinct(_w(a, b)).alias(f"{a}__{b}__px") for a, b in pair_dets]
    aggs4 += [
        F.count_distinct(_w(a, b, c)).alias(f"{a}__{b}__{c}__tx") for a, b, c in t_surv
    ]
    row4 = df.agg(*aggs4).collect()[0]
    out += sorted(
        ((a, b), c)
        for a, b, c in t_surv
        if row4[f"{a}__{b}__{c}__tx"] == row4[f"{a}__{b}__px"]
    )
    return out


def infer_manifest(
    df: DataFrame,
    manifest_id: str,
    table: str | None = None,
    columns: list[str] | None = None,
    enum_max: int = 16,
    formats: bool = True,
    fds: bool = False,
) -> dict[str, Any]:
    """Draft a manifest dict (loadable via ``manifest_from_dict`` — it
    passes the same meta-validation as a hand-written one) from a two-job
    profile of *df*. The draft encodes the strictest constraints the data
    already satisfies; it is a starting point to edit, not an oracle.
    String rule precedence: enum (strictest) > format (shape-distinctive
    only) > length. ``fds=True`` adds functional-dependency discovery
    (two more bounded jobs, quadratic in column count — opt-in because a
    wide table pays C^2 HLL sketches on the extra scan)."""
    prof = profile_for_inference(df, columns=columns, enum_max=enum_max, formats=formats)
    rules: list[dict[str, Any]] = []
    for c, p in prof.items():
        if p["jtype"] is not None:
            rules.append({"kind": "type", "column": c, "type": p["jtype"]})
        if p["n_nulls"] == 0 and p["n_rows"] > 0:
            rules.append({"kind": "required", "column": c})
        if p["enum_values"] is not None and 0 < len(p["enum_values"]) <= enum_max:
            rules.append({"kind": "enum", "column": c, "values": p["enum_values"]})
        elif p["jtype"] in ("integer", "number") and p["min"] is not None:
            rules.append(
                {"kind": "range", "column": c, "minimum": p["min"], "maximum": p["max"]}
            )
        elif p["jtype"] == "string" and p["format"] is not None:
            rules.append({"kind": "format", "column": c, "format": p["format"]})
        elif p["jtype"] == "string" and p["len_min"] is not None:
            rules.append(
                {"kind": "length", "column": c, "min_length": p["len_min"], "max_length": p["len_max"]}
            )
        if (
            p["n_distinct"] is not None
            and p["n_nulls"] == 0
            and p["n_rows"] > 0
            and p["n_distinct"] == p["n_rows"]
        ):
            rules.append({"kind": "unique", "columns": [c]})
    if fds:
        unique_cols = {
            r["columns"][0] for r in rules if r["kind"] == "unique"
        }
        for det, b in infer_fds(df, columns=columns):
            # a unique determinant makes the FD vacuous; infer_fds already
            # gates on the approx estimate, this closes the exact-count gap
            if not set(det) & unique_cols:
                rules.append(
                    {"kind": "functional_dependency", "columns": list(det), "dependent": b}
                )
    out: dict[str, Any] = {"id": manifest_id, "rules": rules}
    if table:
        out["table"] = table
    return out


def write_inferred_manifest(
    df: DataFrame, manifest_id: str, yaml_path: str, **kw
) -> dict[str, Any]:
    """Infer, round-trip through meta-validation (an inferred draft must
    itself be a valid manifest), and write YAML."""
    from schema_enforcer_spark.manifest import manifest_from_dict
    from schema_enforcer_spark.selftest import dump_data_to_yaml

    draft = infer_manifest(df, manifest_id, **kw)
    manifest_from_dict(draft)  # raises on any meta-validation error
    dump_data_to_yaml(draft, yaml_path)
    return draft
