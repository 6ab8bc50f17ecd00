"""Stats layer: exact column stats, HLL sketch persistence/merge,
histograms, KS/PSI math, and the drift manifest rule end-to-end."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from schema_enforcer_spark import stats
from schema_enforcer_spark.engine import ValidationEngine
from schema_enforcer_spark.manifest import Manifest, Rule
from schema_enforcer_spark.synth import gen_transcripts


def test_exact_stats_native_type_order(spark):
    df = spark.createDataFrame([(9,), (99,), (149,)], "v int")
    row = stats.exact_column_stats(df, ["v"]).collect()[0]
    assert row["min"] == "9" and row["max"] == "149"  # numeric, not lexicographic


def test_histogram_and_ks_psi(spark, transcripts):
    hist = stats.compute_histogram(transcripts, "length(text)", lo=0.0, hi=400.0, bins=16)
    assert sum(hist["counts"]) == transcripts.count()
    assert stats.ks_statistic(hist["counts"], hist["counts"]) == 0.0
    assert stats.psi(hist["counts"], hist["counts"]) == pytest.approx(0.0)
    shifted = [0, 0] + hist["counts"][:-2]
    assert stats.ks_statistic(hist["counts"], shifted) > 0.05
    assert stats.psi(hist["counts"], shifted) > 0.05


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
