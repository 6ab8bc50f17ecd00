"""Plugin surface: vectorized mapInPandas/applyInPandas validators with the
reference's add_validation_error contract re-expressed over Arrow batches."""

from __future__ import annotations

import os
import textwrap

import pandas as pd
import pytest
from pyspark.sql import functions as F

from schema_enforcer_spark.plugins import PandasValidator, load_validators, run_validator
from schema_enforcer_spark.synth import inject


class ToolNameLen(PandasValidator):
    """Row-local cross-column rule: tool names on tool turns must be < 16 chars."""

    id = "plugins/tool_name_len"

    def validate(self, pdf: pd.DataFrame) -> pd.DataFrame:
        mask = (pdf["role"] == "tool") & pdf["tool"].notna() & (pdf["tool"].str.len() >= 16)
        return self.fail(pdf, mask, "tool", "tool name too long (>= 16 chars)")


class ConversationGapCheck(PandasValidator):
    """Stateful per-conversation rule: ts gap between consecutive turns must
    be under 1 hour — needs the whole group, hence applyInPandas."""

    id = "plugins/conv_gap"
    group_by = ["conv_id"]

    def validate(self, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        gaps = pdf["ts"].diff().dt.total_seconds()
        mask = gaps > 3600
        return self.fail(pdf, mask.fillna(False), "ts", "ts gap exceeds 1 hour")


def test_map_in_pandas_validator(spark, transcripts):
    df = transcripts.withColumn(
        "tool",
        F.when(
            (F.col("conv_id") == "conv-00000011") & (F.col("role") == "tool"),
            F.lit("averyveryverylongtoolname"),
        ).otherwise(F.col("tool")),
    )
    viols = run_validator(df, ToolNameLen()).collect()
    n_tool = df.filter("conv_id='conv-00000011' and role='tool'").count()
    assert len(viols) == n_tool
    assert all(v["schema_id"] == "plugins/tool_name_len" for v in viols)
    assert all(v["absolute_path"][0] == "conv-00000011" and v["absolute_path"][-1] == "tool" for v in viols)
    assert all(v["failing_value"] == "averyveryverylongtoolname" for v in viols)


def test_apply_in_pandas_validator(spark, transcripts):
    # synth gaps are 5-60s; push one turn 2h later (still ordered)
    df = transcripts.withColumn(
        "ts",
        F.when(
            (F.col("conv_id") == "conv-00000012") & (F.col("turn_idx") == 4),
            F.col("ts") + F.expr("INTERVAL 2 HOURS"),
        ).otherwise(F.col("ts")),
    )
    viols = run_validator(df, ConversationGapCheck()).collect()
    assert len(viols) == 1
    assert viols[0]["absolute_path"][:2] == ["conv-00000012", "4"]
    assert viols[0]["message"] == "ts gap exceeds 1 hour"
    # clean data passes
    assert run_validator(transcripts, ConversationGapCheck()).count() == 0


def test_run_validators_union(spark, transcripts):
    """Both plugin shapes (mapInPandas and grouped applyInPandas) return the
    engine's 8 violation columns in the engine's order, so their output
    unions by position with any violations frame."""
    for v in (ToolNameLen(), ConversationGapCheck()):
        out = run_validator(transcripts, v)
        assert out.count() == 0
        assert out.columns == [
            "schema_id", "result", "instance_name", "instance_location",
            "instance_type", "absolute_path", "failing_value", "message",
        ]


def test_load_validators_from_file(tmp_path):
    src = textwrap.dedent(
        """
        import pandas as pd
        from schema_enforcer_spark.plugins import PandasValidator

        class MyCheck(PandasValidator):
            def validate(self, pdf):
                return self.empty()
        """
    )
    p = tmp_path / "my_plugins.py"
    p.write_text(src)
    vs = load_validators(str(p))
    assert len(vs) == 1 and vs[0].schema_id == "MyCheck"


def test_duplicate_ids_rejected(tmp_path):
    src = textwrap.dedent(
        """
        from schema_enforcer_spark.plugins import PandasValidator

        class A(PandasValidator):
            id = "dup"
            def validate(self, pdf):
                return self.empty()

        class B(PandasValidator):
            id = "dup"
            def validate(self, pdf):
                return self.empty()
        """
    )
    p = tmp_path / "dup_plugins.py"
    p.write_text(src)
    with pytest.raises(ValueError, match="duplicate validator id"):
        load_validators(str(p))
