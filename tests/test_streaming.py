"""Structured Streaming validation: file-source stream → violations /
windowed verdicts / watermark dedup, driven with availableNow + memory sink."""

from __future__ import annotations

import os
import pytest
from pyspark.sql import functions as F

from schema_enforcer_spark.manifest import manifest_from_dict
from schema_enforcer_spark.streaming import stream_dedup, stream_row_violations, stream_verdicts
from schema_enforcer_spark.synth import gen_transcripts, inject

MANIFEST = manifest_from_dict(
    {
        "id": "schemas/stream_base",
        "table": "transcripts",
        "rules": [
            {"kind": "enum", "column": "role", "values": ["system", "user", "assistant", "tool"]},
            {"kind": "required", "column": "text"},
        ],
    }
)


@pytest.fixture(scope="module")
def stream_src(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "transcripts")
    df = inject(gen_transcripts(spark, n_convs=20, seed=42), "invalid_enum")
    df.write.mode("overwrite").parquet(path)
    return path, df.schema


def _run(stream_df, name, mode=None):
    # append for non-aggregating streams, complete for aggregations;
    # default keyed off the historical query names, override via mode=
    if mode is None:
        mode = "append" if name in ("viol", "dedup", "eqdiff") else "complete"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query failed to terminate (noDataMicroBatches regression?)"
    q.stop()  # defensive: never leak a live query into later tests
    return q


def test_stream_row_violations(spark, stream_src):
    path, schema = stream_src
    src = spark.readStream.schema(schema).parquet(path)
    assert src.isStreaming
    _run(stream_row_violations(src, MANIFEST), "viol")
    rows = spark.sql("select * from viol").collect()
    assert len(rows) == 1
    assert rows[0]["message"] == "'operator' is not one of ['system', 'user', 'assistant', 'tool']"


def test_stream_verdicts(spark, stream_src):
    path, schema = stream_src
    src = spark.readStream.schema(schema).parquet(path)
    q = (
        stream_verdicts(src, MANIFEST, window="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("verd")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query failed to terminate (noDataMicroBatches regression?)"
    q.stop()  # defensive: never leak a live query into later tests
    rows = spark.sql("select * from verd").collect()
    assert rows
    fails = [r for r in rows if r["result"] == "FAIL"]
    assert sum(r["n_violations"] for r in fails) == 1
    assert all(r["n_rows"] > 0 for r in rows)


def test_stream_dedup(spark, stream_src, tmp_path):
    path = str(tmp_path / "dups")
    df = inject(gen_transcripts(spark, n_convs=10, seed=42), "dup_turn")
    df.write.mode("overwrite").parquet(path)
    src = spark.readStream.schema(df.schema).parquet(path)
    _run(stream_dedup(src, ["conv_id", "turn_idx"]), "dedup")
    n = spark.sql("select count(*) c from dedup").collect()[0]["c"]
    assert n == df.count() - 1  # the duplicated turn collapsed


def test_stateful_contiguity(spark, tmp_path):
    """applyInPandasWithState: duplicates arriving in a LATER micro-batch
    are caught via per-conversation state (stateless windows can't)."""
    from schema_enforcer_spark.streaming.stateful import stream_stateful_contiguity

    base = gen_transcripts(spark, n_convs=8, seed=42)
    p1 = str(tmp_path / "b1")
    p2 = str(tmp_path / "b2")
    base.write.parquet(p1)
    # second batch: re-deliver one existing turn of conv 3
    base.filter("conv_id = 'conv-00000003' and turn_idx = 2").write.parquet(p2)

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    import shutil

    for f in os.listdir(p1):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(p1, f), os.path.join(src_dir, "a_" + f))

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    src = spark.readStream.schema(base.schema).option("maxFilesPerTrigger", "100").parquet(src_dir)

    def run_once():
        q = (
            stream_stateful_contiguity(src)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(120), "streaming query failed to terminate (noDataMicroBatches regression?)"
        q.stop()  # defensive: never leak a live query into later tests
        return spark.read.parquet(out_dir).collect()

    assert run_once() == []  # clean first batch

    # deliver the duplicate as a second availableNow run over the SAME
    # checkpoint — the conversation's state survives across runs
    for f in os.listdir(p2):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(p2, f), os.path.join(src_dir, "b_" + f))
    rows = run_once()
    assert len(rows) >= 1
    dup = [r for r in rows if r["kind"] == "duplicate_or_regressed"]
    assert dup and dup[0]["conv_id"] == "conv-00000003" and dup[0]["turn_idx"] == 2


def test_stateful_ts_regression_across_batches(spark, tmp_path):
    """W1 ordering for streams: a later micro-batch delivering an event time
    EARLIER than the conversation's already-seen max must emit a
    ts_regression violation (stateless windows only see within-batch)."""
    from schema_enforcer_spark.streaming.stateful import stream_stateful_contiguity

    base = gen_transcripts(spark, n_convs=4, seed=42)
    # batch 2: a NEW turn (no duplicate) for conv 2 with a ts far in the past
    late = (
        base.filter("conv_id = 'conv-00000002'")
        .groupBy("conv_id")
        .agg(F.max("turn_idx").alias("mx"))
        .join(base, "conv_id")
        .filter("turn_idx = 0")
        .select(
            "conv_id",
            (F.col("mx") + 1).cast("int").alias("turn_idx"),
            "role",
            "text",
            "tool",
            (F.col("ts") - F.expr("INTERVAL 365 DAYS")).alias("ts"),
            "partition_id",
        )
    )
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    import shutil

    def _copy(df, tag):
        p = str(tmp_path / tag)
        df.select(*base.columns).write.parquet(p)
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(p, f), os.path.join(src_dir, f"{tag}_{f}"))

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    src = spark.readStream.schema(base.schema).parquet(src_dir)

    def run_once():
        q = (
            stream_stateful_contiguity(src)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(120), "streaming query failed to terminate (noDataMicroBatches regression?)"
        q.stop()  # defensive: never leak a live query into later tests
        return spark.read.parquet(out_dir).collect()

    _copy(base, "b1")
    assert run_once() == []  # in-order first batch: nothing fires
    _copy(late, "b2")
    rows = run_once()
    reg = [r for r in rows if r["kind"] == "ts_regression"]
    assert len(reg) == 1 and reg[0]["conv_id"] == "conv-00000002"
    assert "earlier than" in reg[0]["message"]
    # the new turn_idx is contiguous, so no duplicate row fired
    assert not [r for r in rows if r["kind"] == "duplicate_or_regressed"]


def test_stream_session_stats(spark, stream_src):
    from schema_enforcer_spark.streaming import stream_session_stats

    path, schema = stream_src
    src = spark.readStream.schema(schema).parquet(path)
    q = (
        stream_session_stats(src, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query failed to terminate (noDataMicroBatches regression?)"
    q.stop()  # defensive: never leak a live query into later tests
    rows = spark.sql("select * from sess").collect()
    assert rows
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r["conv_id"], 0)
        by_conv[r["conv_id"]] += r["n_turns"]
        assert r["session_end"] > r["session_start"]
    # per-conv turn totals across sessions == table counts
    import pyspark.sql.functions as SF

    expected = {r["conv_id"]: r["n"] for r in spark.read.parquet(path).groupBy("conv_id").agg(SF.count(SF.lit(1)).alias("n")).collect()}
    assert by_conv == expected


def test_stream_rate_limit_across_batches(spark, tmp_path):
    """Streaming twin of the batch rate_limit rule: bursts must be detected
    across micro-batch boundaries (events 1-2 in batch one, the
    over-the-limit third event arriving in batch two)."""
    import shutil

    from schema_enforcer_spark.streaming.stateful import stream_rate_limit

    schema = "user_id long, ts_epoch long"
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)

    def _copy(rows, tag):
        p = str(tmp_path / tag)
        spark.createDataFrame(rows, schema).write.parquet(p)
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(p, f), os.path.join(src_dir, f"{tag}_{f}"))

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    src = spark.readStream.schema(schema).parquet(src_dir)

    def run_once():
        q = (
            # explicit long idle timeout: the default (2x window, min 60s) is
            # PROCESSING time and each availableNow run takes ~a minute on
            # this host — the state would be evicted between the two runs
            stream_rate_limit(
                src, "user_id", "ts_epoch", window_seconds=10, max_count=2,
                idle_timeout_ms=30 * 60 * 1000,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(120), "streaming query failed to terminate (noDataMicroBatches regression?)"
        q.stop()  # defensive: never leak a live query into later tests
        return spark.read.parquet(out_dir).collect()

    # batch 1: user 1 has two events (at the limit), user 2 a within-batch
    # burst of three — the third must fire already in batch one
    _copy([(1, 100), (1, 104), (2, 200), (2, 201), (2, 202)], "b1")
    rows = run_once()
    assert [(r["key"], r["ts_epoch"], r["n_recent"]) for r in rows] == [("2", 202, 3)]
    assert rows[0]["message"] == "'2' saw 3 rows within 10s; at most 2 allowed"
    # batch 2: user 1's third event lands inside the trailing window spanned
    # by batch 1's state (cross-batch burst); a much later event does not
    _copy([(1, 107), (1, 500)], "b2")
    rows = run_once()
    fired = sorted((r["key"], r["ts_epoch"], r["n_recent"]) for r in rows)
    assert fired == [("1", 107, 3), ("2", 202, 3)]


def test_stateful_contiguity_long_epoch_ts_with_nulls(spark, tmp_path):
    """An integer-epoch ts column with NULLs arrives in pandas as float64
    with NaN — the state fn must tolerate it (astype('int64') on NaN raises
    in pandas 2.x) and still catch cross-batch regressions on the non-null
    rows."""
    from schema_enforcer_spark.streaming.stateful import stream_stateful_contiguity

    schema = "conv_id string, turn_idx int, ts long"
    rows = [("c1", 0, 1000), ("c1", 1, None), ("c1", 2, 2000), ("c1", 3, 500)]
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    import shutil

    p = str(tmp_path / "b1")
    # one ordered file per batch: multi-file batches reach the state fn as
    # unordered chunks and within-batch idx order is the stateless path's job
    spark.createDataFrame(rows[:3], schema).coalesce(1).write.parquet(p)
    for f in os.listdir(p):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(p, f), os.path.join(src_dir, "a_" + f))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    src = spark.readStream.schema(schema).parquet(src_dir)

    def run_once():
        q = (
            stream_stateful_contiguity(src)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(120), "streaming query failed to terminate (noDataMicroBatches regression?)"
        q.stop()  # defensive: never leak a live query into later tests
        return spark.read.parquet(out_dir).collect()

    assert run_once() == []  # NaN row tolerated, no violations yet
    p2 = str(tmp_path / "b2")
    spark.createDataFrame(rows[3:], schema).coalesce(1).write.parquet(p2)
    for f in os.listdir(p2):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(p2, f), os.path.join(src_dir, "b_" + f))
    regs = [r for r in run_once() if r["kind"] == "ts_regression"]
    assert len(regs) == 1 and regs[0]["turn_idx"] == 3


def test_stream_drift_against_stored_baseline(spark, tmp_path):
    """A8 batch/stream parity: baseline written batch-side
    (write_drift_baselines → _drift_baselines.json), then a micro-batch
    matching the baseline emits NO drift violation while a shifted batch
    fires one — same store, same PSI math as the batch path."""
    import shutil

    from schema_enforcer_spark.manifest import manifest_from_dict
    from schema_enforcer_spark.stats import baseline_store_path, write_drift_baselines
    from schema_enforcer_spark.streaming import stream_drift

    m = manifest_from_dict(
        {
            "id": "schemas/stream_drift",
            "table": "events",
            "rules": [
                {
                    "kind": "drift",
                    "column": "v",
                    "metric": "psi",
                    "threshold": 0.2,
                    "lo": 0.0,
                    "hi": 100.0,
                    "bins": 10,
                }
            ],
        }
    )
    base = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.pmod(F.col("id"), 100)).cast("double").alias("v")
    )
    ckpt_root = str(tmp_path / "store")
    os.makedirs(ckpt_root)
    bp = baseline_store_path(ckpt_root)
    write_drift_baselines(spark, base, m, bp)

    # identical-distribution batch, then a hard-shifted batch
    same = base
    shifted = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.pmod(F.col("id"), 10) + 90.0).cast("double").alias("v")
    )
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    p1 = str(tmp_path / "b1")
    same.write.parquet(p1)
    for f in os.listdir(p1):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(p1, f), os.path.join(src_dir, "a_" + f))

    src = spark.readStream.schema(same.schema).option("maxFilesPerTrigger", "100").parquet(src_dir)
    fired: list[tuple[int, list]] = []

    def on_violations(batch_id, viols):
        fired.append((batch_id, viols.collect()))

    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            stream_drift(src, m, on_violations, baselines_path=bp, key_columns=["k"])
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream_drift failed to terminate"
        q.stop()

    run_once()
    assert fired == []  # identical distribution: silent

    p2 = str(tmp_path / "b2")
    shifted.write.parquet(p2)
    for f in os.listdir(p2):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(p2, f), os.path.join(src_dir, "b_" + f))
    run_once()
    assert len(fired) == 1
    rows = fired[0][1]
    assert rows and rows[0]["schema_id"] == "schemas/stream_drift/drift/v"
    assert "drift" in rows[0]["message"]
    assert rows[0]["instance_type"] == "TABLE"


def test_stream_quarantine_split(spark, stream_src, tmp_path):
    """Streaming --quarantine twin: the validity flag is a stateless
    projection; a file sink partitioned by row_valid produces the same
    true/false layout as the batch CLI sink, and the false side is exactly
    the injected enum-violating rows."""
    from schema_enforcer_spark.streaming import stream_quarantine

    path, schema = stream_src
    src = spark.readStream.schema(schema).parquet(path)
    out = str(tmp_path / "q")
    q = (
        stream_quarantine(src, MANIFEST)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .partitionBy("row_valid")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream_quarantine failed to terminate"
    q.stop()
    got = spark.read.parquet(out)
    total = spark.read.parquet(path).count()
    assert got.count() == total
    bad = got.filter("row_valid = false")
    assert bad.count() >= 1
    assert bad.filter("role = 'operator'").count() == bad.count()
    assert got.filter("row_valid = true and role = 'operator'").count() == 0


def test_stream_match_against_index(spark, tmp_path):
    """Streaming incremental dedup: micro-batches of arriving docs matched
    against the SAME stored MinHash index the batch path uses — results
    must equal the batch operator's on the identical batch/corpus split."""
    from schema_enforcer_spark.functions.dedup import build_minhash_index, match_against_index
    from schema_enforcer_spark.streaming import stream_match_against_index

    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "a completely different document about spark sql aggregation and shuffles",
        "language models need deduplicated training data at massive scale to work",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i * 10, t))
        rows.append((i * 10 + 1, t.replace("the ", "one ", 1).replace("a ", "an ", 1)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.filter("doc_id % 10 != 1")
    batch = docs.filter("doc_id % 10 = 1")
    index = build_minhash_index(corpus, num_hashes=64, bands=16)

    batch_path = str(tmp_path / "arriving")
    batch.write.mode("overwrite").parquet(batch_path)
    src = spark.readStream.schema(batch.schema).parquet(batch_path)

    got: set[tuple] = set()

    def on_matches(batch_id, matches):
        got.update((r["new_id"], r["corpus_id"], r["jaccard"]) for r in matches.collect())

    q = (
        stream_match_against_index(
            src, index, corpus, on_matches, threshold=0.7, num_hashes=64, bands=16
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream_match_against_index failed to terminate"
    q.stop()

    want = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in match_against_index(
            batch, index, corpus, threshold=0.7, num_hashes=64, bands=16
        ).collect()
    }
    assert want, "fixture must contain batch-vs-corpus near-dups"
    assert got == want


def test_stream_equals_table(spark, tmp_path):
    """Streaming north-star diff: arriving turns are stream-static
    left-outer joined against the stored reference; a tampered text and an
    input-only row emit the batch rule's exact violation rows at ingest,
    and reference-only rows (unprovable on a stream) emit nothing."""
    from schema_enforcer_spark.engine import ValidationEngine
    from schema_enforcer_spark.streaming import stream_equals_table

    rows = [
        ("a", 1, "x"),   # clean
        ("a", 2, "x"),   # mismatch vs ref 'y'
        ("c", 1, "z"),   # missing from reference
    ]
    ref_rows = [
        ("a", 1, "x"),
        ("a", 2, "y"),
        ("d", 1, "w"),   # missing from the input — batch-only shape
    ]
    schema = "conv_id string, turn_idx int, text string"
    inp = spark.createDataFrame(rows, schema)
    ref = spark.createDataFrame(ref_rows, schema)
    path = str(tmp_path / "eq_stream")
    inp.write.parquet(path)

    m = manifest_from_dict(
        {
            "id": "schemas/transcripts_eq_stream",
            "table": "transcripts",
            "rules": [
                {
                    "kind": "equals_table",
                    "columns": ["conv_id", "turn_idx"],
                    "ref_table": "reference",
                    "compare": ["text"],
                }
            ],
        }
    )
    src = spark.readStream.schema(inp.schema).parquet(path)
    out = stream_equals_table(src, m, {"reference": ref})
    assert out.isStreaming
    _run(out, "eqdiff")
    got = sorted(tuple(r) for r in spark.sql("select * from eqdiff").collect())

    # the batch rule on the same data, minus the stream-unprovable shape
    batch = ValidationEngine(m).violations(inp, ref_tables={"reference": ref})
    want = sorted(
        tuple(r)
        for r in batch.filter(~F.col("message").contains("is missing from the input")).collect()
    )
    assert got == want
    assert len(got) == 2
    msgs = [g[-1] for g in got]
    assert sum("does not equal reference.text" in m_ for m_ in msgs) == 1
    assert sum("is missing from reference" in m_ for m_ in msgs) == 1


_EQ_FULL = "conv_id string, turn_idx int, text string"


@pytest.mark.parametrize("side", ["batch", "stream"])
@pytest.mark.parametrize(
    "input_schema,ref_schema,error",
    [
        pytest.param("conv_id string, turn_idx int", _EQ_FULL,
                     "equals_table: input lacks column 'text'", id="missing_input_column"),
        pytest.param(_EQ_FULL, "conv_id string, turn_idx int",
                     "equals_table: ref table 'reference' lacks column 'text'", id="missing_ref_column"),
        pytest.param(_EQ_FULL, "conv_id string, turn_idx long, text string",
                     "equals_table: column 'turn_idx' dtype mismatch — input is IntegerType(), "
                     "reference is LongType(); cast the tables to agree before validating",
                     id="dtype_mismatch"),
    ],
)
def test_equals_table_misconfiguration_same_error(spark, tmp_path, side, input_schema, ref_schema, error):
    """The batch rule and its streaming twin run one check, so the same
    misconfiguration raises the same ValueError text on both paths."""
    from schema_enforcer_spark.engine import ValidationEngine
    from schema_enforcer_spark.streaming import stream_equals_table

    m = manifest_from_dict(
        {
            "id": "schemas/eq_check",
            "rules": [
                {"kind": "equals_table", "columns": ["conv_id", "turn_idx"], "ref_table": "reference",
                 "compare": ["text"]}
            ],
        }
    )
    inp = spark.createDataFrame([], input_schema)
    ref = spark.createDataFrame([], ref_schema)
    with pytest.raises(ValueError) as ei:
        if side == "batch":
            ValidationEngine(m).violations(inp, ref_tables={"reference": ref})
        else:
            path = str(tmp_path / "eq_check")
            inp.write.parquet(path)
            stream_equals_table(spark.readStream.schema(inp.schema).parquet(path), m, {"reference": ref})
    assert str(ei.value) == error


def test_stream_outlier_frozen_fences(spark, tmp_path):
    """Streaming outlier twin: fences frozen from a static reference slice
    (the batch bounds pass), each micro-batch emits the batch rule's exact
    violation rows via a stateless stream-static join."""
    from pyspark.sql import functions as F

    from schema_enforcer_spark.engine import ValidationEngine
    from schema_enforcer_spark.manifest import manifest_from_dict
    from schema_enforcer_spark.streaming import stream_outlier

    # reference slice: values 1..100 define the fence; the stream carries
    # two planted extremes
    ref = spark.createDataFrame(
        [(i, float(i % 100 + 1)) for i in range(200)], "id long, v double"
    )
    arriving = spark.createDataFrame(
        [(1000, 50.0), (1001, 9999.0), (1002, -9999.0)], "id long, v double"
    )
    src_path = str(tmp_path / "src")
    arriving.write.parquet(src_path)
    m = manifest_from_dict(
        {
            "id": "schemas/sout",
            "rules": [{"kind": "outlier", "column": "v", "k": 1.5, "exact": True}],
        }
    )
    kw = dict(key_columns=["id"], instance_expr="'t'")
    src = spark.readStream.schema(arriving.schema).parquet(src_path)
    out = str(tmp_path / "out")
    q = (
        stream_outlier(src, m, reference_df=ref, **kw)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream_outlier failed to terminate"
    q.stop()
    got = spark.read.parquet(out)
    assert sorted(r["failing_value"] for r in got.collect()) == [
        "-9999.000000",
        "9999.000000",
    ]
    # messages byte-identical to the batch rule evaluated with the same
    # frozen bounds over the same rows
    eng = ValidationEngine(m, **kw)
    batch = eng._outlier_emit(arriving, m.rules[1] if m.rules[0].kind != "outlier" else m.rules[0],
                              eng.outlier_bounds(ref, m.rules[0]))
    assert sorted(r["message"] for r in got.collect()) == sorted(
        r["message"] for r in batch.collect()
    )
    # no fence source -> loud error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="needs fences"):
        stream_outlier(src, m, **kw)
