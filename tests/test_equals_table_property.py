"""Property test: equals_table vs a pure-Python full-outer multiset differ
on GENERATED tables — duplicate join keys, NULL keys/values, empty sides,
multi-column compare. The python model defines the rule's semantics
independently of any join plan:

- per key, every input row pairs with every reference row (full-outer
  equi-join multiplicity); a pair emits one violation per compared column
  whose values are not null-safe-equal;
- an input row with no reference counterpart emits `missing from
  reference`; a reference row with no input counterpart emits `missing
  from the input`.

Structure (absolute_path, failing_value, violation kind) is compared as a
multiset; exact message text is covered by the unit tests and the q46
oracle."""

from __future__ import annotations

from collections import Counter

import pytest

hypothesis = pytest.importorskip("hypothesis")

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from schema_enforcer_spark.engine import ValidationEngine  # noqa: E402
from schema_enforcer_spark.manifest import Manifest, Rule  # noqa: E402

KEYS = ["k", "i"]
COMP = ["s", "v"]
SCHEMA = "k string, i int, s string, v bigint"

_row = st.tuples(
    st.sampled_from(["a", "b", "c"]),          # small key pools force dups
    st.integers(0, 2),
    st.one_of(st.none(), st.sampled_from(["", "x", "y"])),
    st.one_of(st.none(), st.integers(-1, 1)),
)
_tbl = st.lists(_row, max_size=7)


def _model(rows, ref_rows):
    """The semantics, written without a join in sight."""
    from collections import defaultdict

    by_key_in, by_key_ref = defaultdict(list), defaultdict(list)
    for r in rows:
        by_key_in[r[:2]].append(r[2:])
    for r in ref_rows:
        by_key_ref[r[:2]].append(r[2:])
    out = Counter()
    for key in set(by_key_in) | set(by_key_ref):
        kpath = (str(key[0]), str(key[1]))
        ins, refs = by_key_in.get(key, []), by_key_ref.get(key, [])
        if not refs:
            for _ in ins:
                out[(kpath, "|".join(kpath), "miss_ref")] += 1
            continue
        if not ins:
            for _ in refs:
                out[(kpath, "|".join(kpath), "miss_in")] += 1
            continue
        for lv in ins:
            for rv in refs:
                for ci, c in enumerate(COMP):
                    if lv[ci] != rv[ci]:  # python == is null-safe here
                        out[
                            (
                                kpath + (c,),
                                "" if lv[ci] is None else str(lv[ci]),
                                "neq",
                            )
                        ] += 1
    return out


def _kind(msg):
    if "is missing from reference" in msg:
        return "miss_ref"
    if "is missing from the input" in msg:
        return "miss_in"
    return "neq"


def _run(spark, rows, ref_rows):
    m = Manifest(
        id="schemas/eq_prop",
        rules=(
            Rule(
                kind="equals_table",
                params={
                    "columns": KEYS,
                    "ref_table": "reference",
                    "compare": COMP,
                },
            ),
        ),
    )
    df = spark.createDataFrame(rows, SCHEMA)
    ref = spark.createDataFrame(ref_rows, SCHEMA)
    eng = ValidationEngine(m, key_columns=KEYS, instance_expr="k")
    return eng.violations(df, ref_tables={"reference": ref}).collect()


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=_tbl, ref_rows=_tbl)
def test_equals_table_matches_python_model(spark, rows, ref_rows):
    got = Counter(
        (
            tuple(v["absolute_path"]),
            # failing_value for neq is the input value; cast-null renders ''
            v["failing_value"] if v["failing_value"] is not None else "",
            _kind(v["message"]),
        )
        for v in _run(spark, rows, ref_rows)
    )
    assert got == _model(rows, ref_rows)
