"""Plan-assembly memo (engine._PlanMemo): repeating a validation over the
same inputs builds each plan once; a different input, ref table or engine
list rebuilds; a manifest with an eager rule kind is never memoized; every
store stays bounded."""

from __future__ import annotations

import pytest

from schema_enforcer_spark.engine import ValidationEngine, _PlanMemo, validate_many
from schema_enforcer_spark.manifest import manifest_from_dict

TABLE_RULES = {
    "id": "schemas/memo_table",
    "table": "transcripts",
    "rules": [
        {"kind": "enum", "column": "role", "values": ["system", "user", "assistant", "tool"]},
        {"kind": "unique", "columns": ["conv_id", "turn_idx"]},
        {"kind": "referential", "columns": ["conv_id"], "ref_table": "convs", "ref_columns": ["conv_id"]},
    ],
}
ROW_RULES = {
    "id": "schemas/memo_row",
    "table": "transcripts",
    "rules": [{"kind": "range", "column": "turn_idx", "minimum": 1}],
}


@pytest.fixture
def builds(monkeypatch):
    """Count plan builds: violations, verdicts and row-violation arrays."""
    counts = {"violations": 0, "verdicts": 0, "row_array": 0}
    for name, attr in (
        ("violations", "_violations_impl"),
        ("verdicts", "_verdicts_impl"),
        ("row_array", "_row_violation_array_impl"),
    ):
        orig = getattr(ValidationEngine, attr)

        def counted(self, *a, _orig=orig, _name=name, **kw):
            counts[_name] += 1
            return _orig(self, *a, **kw)

        monkeypatch.setattr(ValidationEngine, attr, counted)
    return counts


@pytest.fixture
def refs(conversations):
    return {"convs": conversations}


def _engine(spec=TABLE_RULES, **kw):
    return ValidationEngine(manifest_from_dict(spec), **kw)


def test_repeat_validate_builds_once(transcripts, refs, builds):
    eng = _engine()
    first = eng.validate(transcripts, refs, cache_violations=False)
    after_first = dict(builds)
    assert after_first["violations"] == 1 and after_first["verdicts"] == 1 and after_first["row_array"] == 1
    second = eng.validate(transcripts, refs, cache_violations=False)
    assert builds == after_first
    assert second.verdicts is first.verdicts
    assert second.violations.collect() == first.violations.collect()


def test_repeat_validate_many_builds_once(transcripts, refs, builds):
    engines = [_engine(), _engine(ROW_RULES)]
    first = validate_many(engines, transcripts, refs, cache_violations=False)
    after_first = dict(builds)
    assert after_first["verdicts"] == 2 and after_first["row_array"] == 2
    second = validate_many(engines, transcripts, refs, cache_violations=False)
    assert builds == after_first
    assert second.verdicts is first.verdicts


def test_repeat_violations_and_verdicts_build_once(transcripts, refs, builds):
    eng = _engine()
    v = eng.violations(transcripts, refs)
    assert eng.violations(transcripts, refs) is v
    assert builds["violations"] == 1
    d = eng.verdicts(transcripts, v)
    assert eng.verdicts(transcripts, v) is d
    assert builds["verdicts"] == 1


def test_different_inputs_rebuild(transcripts, conversations, refs, builds):
    eng, other = _engine(), _engine(ROW_RULES)
    eng.validate(transcripts, refs, cache_violations=False)
    base = dict(builds)
    # a different DataFrame over the same data
    eng.validate(transcripts.select("*"), refs, cache_violations=False)
    assert builds["violations"] == base["violations"] + 1
    assert builds["row_array"] == base["row_array"] + 1
    # a different ref table object under the same name
    eng.validate(transcripts, {"convs": conversations.select("*")}, cache_violations=False)
    assert builds["violations"] == base["violations"] + 2
    # a different engine list over the same df and refs: the fused plan is
    # rebuilt, the engine's own memoized pieces are reused
    before = dict(builds)
    validate_many([eng, other], transcripts, refs, cache_violations=False)
    assert builds["verdicts"] == before["verdicts"] + 2
    assert builds["violations"] == before["violations"]
    assert builds["row_array"] == before["row_array"] + 1  # only `other`'s


def test_eager_kinds_never_memoized(spark, transcripts, builds):
    from schema_enforcer_spark.stats import compute_histogram

    baseline = compute_histogram(transcripts, "turn_idx", 0.0, 20.0, 10)
    rule = {"kind": "drift", "column": "turn_idx", "metric": "psi", "threshold": 0.2, "baseline": baseline}
    ref_tables = {}
    eng = _engine({"id": "schemas/memo_drift", "table": "transcripts", "rules": [rule]})
    eng.violations(transcripts, ref_tables)
    eng.violations(transcripts, ref_tables)
    assert builds["violations"] == 2
    eng.validate(transcripts, ref_tables, cache_violations=False)
    eng.validate(transcripts, ref_tables, cache_violations=False)
    assert builds["violations"] == 4
    assert builds["verdicts"] == 2
    assert len(eng._plan_memo) == 0


def test_equals_table_is_memoized(transcripts, builds):
    """equals_table builds a lazy plan (one full-outer join, no job at plan
    build), so a repeat over the same frames is a memo hit."""
    rule = {"kind": "equals_table", "columns": ["conv_id", "turn_idx"], "ref_table": "reference", "compare": ["text"]}
    ref_tables = {"reference": transcripts}
    eng = _engine({"id": "schemas/memo_equals", "table": "transcripts", "rules": [rule]})
    v = eng.violations(transcripts, ref_tables)
    assert eng.violations(transcripts, ref_tables) is v
    assert builds["violations"] == 1
    first = eng.validate(transcripts, ref_tables, cache_violations=False)
    after_first = dict(builds)
    second = eng.validate(transcripts, ref_tables, cache_violations=False)
    assert builds == after_first
    assert second.verdicts is first.verdicts
    assert second.violations.count() == 0


def test_stores_stay_bounded(transcripts, refs):
    eng = _engine()
    frames = [transcripts.filter(f"turn_idx != {i}") for i in range(_PlanMemo.SIZE + 3)]
    for f in frames:
        eng.validate(f, refs, cache_violations=False)
        eng.verdicts(f, eng.violations(f, refs))
    assert len(eng._plan_memo) <= _PlanMemo.SIZE
    assert len(eng._row_arr_memo) <= _PlanMemo.SIZE


def test_plan_memo_contract():
    """No Spark: identity pins, oldest-first eviction, eager manifests."""
    built = []

    def build(v):
        def _b():
            built.append(v)
            return v

        return _b

    memo = _PlanMemo()
    a, b = object(), object()
    assert memo.get(("t",), (a,), build(1)) == 1
    assert memo.get(("t",), (a,), build(2)) == 1  # hit
    assert memo.get(("u",), (a,), build(3)) == 3  # another tag
    assert memo.get(("t",), (b,), build(4)) == 4  # another pinned object
    assert memo.get(("t",), (a, b), build(5)) == 5  # another pin tuple
    assert built == [1, 3, 4, 5]

    pins = [object() for _ in range(_PlanMemo.SIZE)]
    for i, p in enumerate(pins):
        memo.get((), (p,), build(i))
    assert len(memo) == _PlanMemo.SIZE
    # the oldest entries went first: ("t", a) is gone, the newest survive
    assert memo.get(("t",), (a,), build("again")) == "again"
    assert memo.get((), (pins[-1],), build("miss")) == _PlanMemo.SIZE - 1

    eager = manifest_from_dict({
        "id": "schemas/memo_eager", "table": "t",
        "rules": [{"kind": "drift", "column": "v", "metric": "psi", "threshold": 0.2, "lo": 0, "hi": 1}],
    })
    n = len(memo)
    assert memo.get(("e",), (a,), build("x"), (eager,)) == "x"
    assert memo.get(("e",), (a,), build("y"), (eager,)) == "y"
    assert len(memo) == n
