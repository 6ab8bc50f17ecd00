"""Checkpoint/resume: interrupted runs skip validated partitions; changed
manifests invalidate lineage (rule_set_hash key)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from schema_enforcer_spark.checkpoint import CheckpointManager
from schema_enforcer_spark.engine import ValidationEngine
from schema_enforcer_spark.manifest import Manifest, Rule


def _m(values):
    return Manifest(
        id="schemas/ckpt",
        rules=(Rule(kind="enum", params={"column": "role", "values": values}),),
    )


def test_resume_skips_validated_partitions(spark, transcripts):
    eng = ValidationEngine(_m(["system", "user", "assistant", "tool"]))
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/lineage"
        cm = CheckpointManager(spark, path)

        # simulate an interrupted run: validate only half the partitions
        insts = sorted(r[0] for r in transcripts.select(eng._instance_col(transcripts)).distinct().collect())
        half = insts[: len(insts) // 2]
        part_df = transcripts.withColumn("_i", eng._instance_col(transcripts))
        first_half = part_df.filter(F.col("_i").isin(half)).drop("_i")
        report = eng.validate(first_half)
        cm.record(first_half, eng, report)

        # resume: pending must be exactly the other half
        pend = cm.pending(transcripts, eng)
        pend_insts = {r[0] for r in pend.select(eng._instance_col(pend)).distinct().collect()}
        assert pend_insts == set(insts) - set(half)

        # full resumed run completes the table, second run is a no-op
        rep2, n2 = cm.run(transcripts, eng)
        assert rep2 is not None and n2 > 0
        rep3, n3 = cm.run(transcripts, eng)
        assert rep3 is None and n3 == 0

        # lineage covers every partition exactly once
        lin = cm.lineage().collect()
        assert {r["partition_id"] for r in lin} == set(insts)
        assert all(r["rule_set_hash"] == eng.manifest.rule_set_hash() for r in lin)


def test_changed_manifest_invalidates_lineage(spark, transcripts):
    with tempfile.TemporaryDirectory() as tmp:
        cm = CheckpointManager(spark, f"{tmp}/lineage")
        eng1 = ValidationEngine(_m(["system", "user", "assistant", "tool"]))
        rep, n = cm.run(transcripts, eng1)
        assert n > 0
        # same data, different rule set → everything pending again
        eng2 = ValidationEngine(_m(["system", "user"]))
        assert eng2.manifest.rule_set_hash() != eng1.manifest.rule_set_hash()
        pend = cm.pending(transcripts, eng2)
        assert pend.count() == transcripts.count()


def test_failed_partitions_revalidate_on_resume(spark, transcripts):
    """FAILed partitions are not 'complete': a resumed run with unchanged
    data re-validates them, fails again, and the CLI contract (exit 1 iff
    violations) holds instead of reporting nothing-pending success."""
    from schema_enforcer_spark.synth import inject

    df = inject(transcripts, "invalid_enum").cache()
    eng = ValidationEngine(_m(["system", "user", "assistant", "tool"]))
    with tempfile.TemporaryDirectory() as tmp:
        cm = CheckpointManager(spark, f"{tmp}/lineage")
        rep1, n1 = cm.run(df, eng)
        assert rep1 is not None and not rep1.passes()
        failed = {r["partition_id"] for r in cm.lineage().filter("verdict='FAIL'").collect()}
        assert failed, "fixture must produce at least one FAILed partition"

        # resume on the SAME data: exactly the failed partitions are pending
        pend_insts = {
            r[0] for r in cm.pending(df, eng).select(eng._instance_col(df)).distinct().collect()
        }
        assert pend_insts == failed
        rep2, n2 = cm.run(df, eng)
        assert rep2 is not None and n2 > 0 and not rep2.passes()


def test_verify_counts_revalidates_changed_partitions(spark, transcripts):
    eng = ValidationEngine(_m(["system", "user", "assistant", "tool"]))
    with tempfile.TemporaryDirectory() as tmp:
        cm = CheckpointManager(spark, f"{tmp}/lineage")
        rep, _ = cm.run(transcripts, eng)
        assert rep is not None and rep.passes()
        assert cm.pending(transcripts, eng, verify_counts=True).count() == 0

        # grow one conversation: its partition's row count changes → pending
        extra = transcripts.limit(1)
        grown = transcripts.unionByName(extra)
        pend = cm.pending(grown, eng, verify_counts=True)
        changed = {r[0] for r in extra.select(eng._instance_col(extra)).collect()}
        got = {r[0] for r in pend.select(eng._instance_col(pend)).distinct().collect()}
        assert got == changed


def test_table_grain_fail_forces_revalidation(spark, transcripts):
    """Regression: table-grain rules (strict_columns) attribute to instance
    'table', which no data row carries — a resume must not report
    nothing-pending success while the table-grain FAIL persists."""
    from schema_enforcer_spark.manifest import load_manifest
    import os

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    m = load_manifest(os.path.join(REPO, "manifests", "transcripts_strict.yml"))
    eng = ValidationEngine(m)
    bad = transcripts.withColumn("rogue_col", transcripts["turn_idx"])
    with tempfile.TemporaryDirectory() as tmp:
        cm = CheckpointManager(spark, f"{tmp}/lineage")
        rep1, _ = cm.run(bad, eng)
        assert rep1 is not None and not rep1.passes()
        # resume on the same bad data: the table FAIL forces full re-validation
        rep2, n2 = cm.run(bad, eng)
        assert rep2 is not None and n2 > 0 and not rep2.passes()


def test_table_grain_fail_clears_after_fix(spark, transcripts):
    """A table-grain FAIL must be supersedable: once the data is fixed and a
    clean run records the 'table' PASS verdict, resume goes back to
    nothing-pending instead of re-validating forever."""
    from schema_enforcer_spark.manifest import load_manifest
    import os

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    m = load_manifest(os.path.join(REPO, "manifests", "transcripts_strict.yml"))
    eng = ValidationEngine(m)
    bad = transcripts.withColumn("rogue_col", transcripts["turn_idx"])
    with tempfile.TemporaryDirectory() as tmp:
        cm = CheckpointManager(spark, f"{tmp}/lineage")
        rep1, _ = cm.run(bad, eng)
        assert rep1 is not None and not rep1.passes()
        # data fixed: clean run passes AND records the 'table' PASS
        rep2, n2 = cm.run(transcripts, eng)
        assert rep2 is not None and rep2.passes()
        assert cm.latest_verdicts(eng.manifest.rule_set_hash())["table"][0] == "PASS"
        rep3, n3 = cm.run(transcripts, eng)
        assert rep3 is None and n3 == 0, "fixed table-grain FAIL must clear"


def test_latest_verdict_wins_for_completion(spark, transcripts):
    """A partition whose NEWEST lineage verdict is FAIL is pending even if
    an older PASS row exists."""
    import time as _time

    from schema_enforcer_spark.synth import inject

    eng = ValidationEngine(_m(["system", "user", "assistant", "tool"]))
    with tempfile.TemporaryDirectory() as tmp:
        cm = CheckpointManager(spark, f"{tmp}/lineage")
        rep, _ = cm.run(transcripts, eng)  # all PASS recorded
        assert rep is not None and rep.passes()
        _time.sleep(1.1)  # distinct validated_at
        bad = inject(transcripts, "invalid_enum")
        # force a re-validation of everything with now-bad data
        rep2 = eng.validate(bad)
        cm.record(bad, eng, rep2)
        failed = {r["partition_id"] for r in cm.lineage().filter("verdict='FAIL'").collect()}
        pend_insts = {
            r[0] for r in cm.pending(bad, eng).select(eng._instance_col(bad)).distinct().collect()
        }
        assert failed and failed <= pend_insts, "newest-FAIL partitions must be pending"
