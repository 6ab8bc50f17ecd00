"""Stats layer: exact column stats, HLL sketch persistence/merge,
histograms, the SQL KS/PSI against a Python reference, and the drift
manifest rule end-to-end."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from schema_enforcer_spark import stats
from schema_enforcer_spark.engine import ValidationEngine
from schema_enforcer_spark.manifest import Manifest, Rule, manifest_from_dict
from schema_enforcer_spark.synth import gen_transcripts


# -- the Python reference the SQL statistics are checked against ------------


def _normalize(counts: list[int], eps: float = 1e-6) -> list[float]:
    total = sum(counts)
    if total == 0:
        return [eps] * len(counts)
    return [max(c / total, eps) for c in counts]


def ks_statistic(p_counts: list[int], q_counts: list[int]) -> float:
    """Two-sample KS on binned data: max |CDF_p - CDF_q|."""
    p, q = _normalize(p_counts), _normalize(q_counts)
    sp = sq = 0.0
    best = 0.0
    for a, b in zip(p, q):
        sp += a
        sq += b
        best = max(best, abs(sp - sq))
    return best


def psi(p_counts: list[int], q_counts: list[int]) -> float:
    """Population Stability Index: sum((p-q) * ln(p/q)) over bins."""
    p, q = _normalize(p_counts), _normalize(q_counts)
    return sum((a - b) * math.log(a / b) for a, b in zip(p, q))


def _counts(n: int):
    return st.one_of(st.just([0] * n), st.lists(st.integers(0, 10**6), min_size=n, max_size=n))


_PAIRS = st.lists(
    st.integers(3, 34).flatmap(lambda n: st.tuples(_counts(n), _counts(n), st.floats(0.0, 2.0))),
    min_size=1, max_size=16,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pairs=_PAIRS)
def test_sql_drift_statistics_match_reference(spark, pairs):
    """KS bit for bit; PSI to 1e-15 relative (``ln`` and ``math.log`` may
    differ in the last place), with the same `> threshold` decision."""
    exprs = []
    for i, (base, cur, _) in enumerate(pairs):
        cur_sql = f"array({', '.join(f'{c}L' for c in cur)})"
        for metric in ("ks", "psi"):
            exprs.append(f"{stats.drift_statistic_sql(metric, base, cur_sql)} AS {metric}{i}")
    row = spark.range(1).selectExpr(*exprs).collect()[0]
    for i, (base, cur, threshold) in enumerate(pairs):
        assert row[f"ks{i}"] == ks_statistic(base, cur)
        want = psi(base, cur)
        assert row[f"psi{i}"] == pytest.approx(want, rel=1e-15, abs=0.0)
        assert (row[f"psi{i}"] > threshold) == (want > threshold)


def test_exact_stats_native_type_order(spark):
    df = spark.createDataFrame([(9,), (99,), (149,)], "v int")
    row = stats.exact_column_stats(df, ["v"]).collect()[0]
    assert row["min"] == "9" and row["max"] == "149"  # numeric, not lexicographic


def test_histogram_and_ks_psi(spark, transcripts):
    hist = stats.compute_histogram(transcripts, "length(text)", lo=0.0, hi=400.0, bins=16)
    lengths = [r[0] for r in transcripts.selectExpr("length(text)").collect()]
    want = [0] * 18
    for x in lengths:
        want[0 if x < 0 else 17 if x >= 400 else int(x // 25) + 1] += 1
    assert hist["counts"] == want
    assert ks_statistic(hist["counts"], hist["counts"]) == 0.0
    assert psi(hist["counts"], hist["counts"]) == pytest.approx(0.0)
    shifted = [0, 0] + hist["counts"][:-2]
    assert ks_statistic(hist["counts"], shifted) > 0.05
    assert psi(hist["counts"], shifted) > 0.05


def _drift_manifest(baseline=None, **rule) -> Manifest:
    spec = {"kind": "drift", "column": "v", "metric": "ks", "threshold": 0.0, **rule}
    if baseline is not None:
        spec["baseline"] = baseline
    return manifest_from_dict({"id": "schemas/drift_sql", "table": "t", "rules": [spec]})


def test_drift_message_renders_ties_as_python(spark):
    """KS is exactly 1/128 here: the message rounds it half-even, as
    Python's f"{x:.6f}" does (Java's %.6f gives 0.007813)."""
    df = spark.range(128).selectExpr(
        "CASE WHEN id < 32 THEN -1.0D WHEN id < 63 THEN 0.5D WHEN id < 96 THEN 1.5D ELSE 5.0D END AS v"
    )
    base = {"lo": 0.0, "hi": 2.0, "bins": 2, "counts": [32, 32, 32, 32]}
    assert ks_statistic(base["counts"], [32, 31, 33, 32]) == 1 / 128
    rows = ValidationEngine(_drift_manifest(base)).violations(df).collect()
    assert [r.asDict() for r in rows] == [{
        "schema_id": "schemas/drift_sql/drift/v", "result": "FAIL", "instance_name": "table",
        "instance_location": "t", "instance_type": "TABLE", "absolute_path": ["v"], "failing_value": "0.007812",
        "message": "distribution drift on v: ks=0.007812 exceeds threshold 0.0",
    }]


def test_drift_plan_build_starts_no_job(spark, transcripts):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    base = {"lo": 0.0, "hi": 20.0, "bins": 10, "counts": [0] * 12}
    eng = ValidationEngine(_drift_manifest(base, column="turn_idx", metric="psi"))
    eng.violations(transcripts)
    eng.validate(transcripts, cache_violations=False)
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_malformed_stored_baseline_names_the_rule(spark, transcripts):
    m = _drift_manifest(lo=0, hi=10, bins=16)
    bad = {"schemas/drift_sql/drift/v": {"lo": 0, "hi": 10, "bins": 16, "counts": [5, 5, 5]}}
    with pytest.raises(ValueError, match=r"drift rule 'schemas/drift_sql/drift/v': baseline counts must be"):
        ValidationEngine(m, drift_baselines=bad).violations(transcripts)


def test_drift_rule_end_to_end(spark, transcripts):
    baseline = stats.compute_histogram(transcripts, "length(text)", lo=0.0, hi=400.0, bins=16)
    rule = lambda thr: Manifest(  # noqa: E731
        id="schemas/drift",
        rules=(
            Rule(
                kind="drift",
                params={"column": "length(text)", "metric": "psi", "threshold": thr, "baseline": baseline},
            ),
        ),
    )
    # same data vs own baseline: no drift
    assert ValidationEngine(rule(0.1)).violations(transcripts).count() == 0
    # different generator seed shifts word mix only slightly; shift lengths hard:
    drifted = gen_transcripts(spark, n_convs=30, seed=42).withColumn(
        "text", F.concat(F.col("text"), F.lit(" " * 60), F.col("text"))
    )
    viols = ValidationEngine(rule(0.1)).violations(drifted).collect()
    assert len(viols) == 1
    assert "distribution drift on length(text)" in viols[0]["message"]
    assert viols[0]["schema_id"].endswith("/drift/length(text)")


def test_drift_ks_metric(spark, transcripts):
    baseline = stats.compute_histogram(transcripts, "unix_timestamp(ts)", lo=1.7e9, hi=1.8e9, bins=8)
    m = Manifest(
        id="schemas/drift_ks",
        rules=(
            Rule(
                kind="drift",
                params={"column": "unix_timestamp(ts)", "metric": "ks", "threshold": 0.05, "baseline": baseline},
            ),
        ),
    )
    assert ValidationEngine(m).violations(transcripts).count() == 0


def test_q64_hll_within_epsilon_of_exact(spark):
    """q64 (q20 before the r6 renumber) is an oracle-replicable assertion (exact distinct + boolean
    within-2%-of-exact); every column must report within_tolerance AND the
    exact counts must agree with q08's n_distinct."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    rows = {r["col_name"]: r for r in entry.q64_stats_hll(spark, sf).collect()}
    exact = {
        r["col_name"]: int(r["n_distinct"])
        for r in entry.q08_column_stats_events(spark, sf).collect()
        if r["col_name"] in rows
    }
    assert rows, "q64 returned no rows"
    for col, r in rows.items():
        assert r["within_tolerance"], f"{col}: HLL estimate outside 2% of exact {r['n_exact']}"
        assert r["n_exact"] == exact[col], f"{col}: n_exact {r['n_exact']} != q08 {exact[col]}"


def test_drift_on_ts_gaps(spark, transcripts):
    """North-star parity: KS/PSI drift on per-conversation ts GAPS — the gap
    materializes as a column (window lag), then the ordinary drift rule
    applies; stretched inter-turn times must fire, identical data must not."""
    from pyspark.sql.window import Window

    def with_ts_gaps(df):
        t = F.unix_timestamp("ts")
        return df.withColumn("ts_gap", t - F.lag(t).over(Window.partitionBy("conv_id").orderBy("turn_idx")))

    gapped = with_ts_gaps(transcripts)
    baseline = stats.compute_histogram(gapped, "ts_gap", lo=0.0, hi=600.0, bins=12)
    m = Manifest(
        id="schemas/drift_gap",
        rules=(
            Rule(
                kind="drift",
                params={"column": "ts_gap", "metric": "psi", "threshold": 0.1, "baseline": baseline},
            ),
        ),
    )
    assert ValidationEngine(m).violations(gapped).count() == 0
    # stretch inter-turn gaps 4x: ts' = ts + 3 * (ts - first_ts) per conv
    w = Window.partitionBy("conv_id")
    stretched = transcripts.withColumn(
        "ts",
        (
            F.unix_timestamp("ts")
            + 3 * (F.unix_timestamp("ts") - F.min(F.unix_timestamp("ts")).over(w))
        ).cast("timestamp"),
    )
    viols = ValidationEngine(m).violations(with_ts_gaps(stretched)).collect()
    assert len(viols) == 1
    assert "distribution drift on ts_gap" in viols[0]["message"]


def test_incremental_partition_stats_merge(spark, tmp_path):
    """write_partition_stats in two waves + a re-append of wave 1 (a resumed
    FAILed partition) must merge to the full table's stats without double
    counting: latest-run_ns row wins per (partition, column)."""
    df = gen_transcripts(spark, n_convs=20, seed=7).withColumn(
        "part", F.pmod(F.hash("conv_id"), F.lit(8))
    )
    store = str(tmp_path / "ckpt" / "_column_stats")
    wave1 = df.filter("part < 4")
    wave2 = df.filter("part >= 4")
    stats.write_partition_stats(wave1, ["conv_id", "role", "tool"], store, F.col("part"), run_ns=1)
    stats.write_partition_stats(wave2, ["conv_id", "role", "tool"], store, F.col("part"), run_ns=2)
    # wave 1 re-validates (e.g. FAIL -> resume): identical stats, later stamp
    stats.write_partition_stats(wave1, ["conv_id", "role", "tool"], store, F.col("part"), run_ns=3)

    merged = {r["col_name"]: r for r in stats.merged_column_stats(spark, store).collect()}
    n_total = df.count()
    exact = df.agg(
        F.count_distinct("conv_id").alias("cid"),
        F.count_distinct("role").alias("role"),
        F.sum(F.col("tool").isNull().cast("long")).alias("tool_nulls"),
    ).collect()[0]
    n_parts = df.select("part").distinct().count()
    for c in ("conv_id", "role", "tool"):
        assert merged[c]["n_rows"] == n_total, c  # no double counting
        assert merged[c]["n_partitions"] == n_parts, c
    assert merged["tool"]["n_nulls"] == exact["tool_nulls"]
    # HLL within Spark's lgConfigK=12 tolerance of exact
    assert abs(merged["conv_id"]["approx_distinct"] - exact["cid"]) <= max(2, 0.05 * exact["cid"])
    assert merged["role"]["approx_distinct"] == exact["role"]  # tiny cardinality is exact
    # string min/max survive the merge (conv ids are zero-padded, so
    # lexicographic == logical here)
    assert merged["conv_id"]["min_display"].startswith("conv-")
