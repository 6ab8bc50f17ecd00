"""Structured Streaming validation (SURVEY.md §2.10 — greenfield; the
reference is batch-only CLI).

The row-rule compiler emits plain Column expressions, so the single-pass
violation projection applies to a streaming DataFrame unchanged — Catalyst
doesn't care that the source is ``readStream``. What changes for streams:

- U1 uniqueness → ``dropDuplicatesWithinWatermark`` on the key (state
  bounded by the watermark instead of a global groupBy).
- verdicts → windowed aggregation over event time with a watermark (late
  data within the watermark still lands in its window).
- ordering/contiguity → ``stateful.stream_stateful_contiguity``
  (applyInPandasWithState): cross-batch duplicate/regressed turn indices
  AND cross-batch ts regressions (W1's ordering half); within-batch
  ordering is plain window comparisons after shuffle-by-conv, or the batch
  engine over closed (watermark-expired) partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schema_enforcer_spark.engine import ValidationEngine, local_frame
from schema_enforcer_spark.manifest import Manifest


def stream_row_violations(stream_df: DataFrame, manifest: Manifest, **engine_kw) -> DataFrame:
    """Row-rule violations on a streaming DataFrame — identical plan to the
    batch path (stateless projection + explode; no shuffle, no state)."""
    eng = ValidationEngine(manifest, **engine_kw)
    out = eng.row_violations(stream_df)
    if out is None:
        raise ValueError("manifest has no row rules")
    return out


def stream_verdicts(
    stream_df: DataFrame,
    manifest: Manifest,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    **engine_kw,
) -> DataFrame:
    """Per-(event-time-window × partition) FAIL counts with late-data
    handling: watermark bounds state; a window's verdict finalizes when the
    watermark passes. Default-PASS semantics need the partition universe,
    so streaming verdicts report fail counts per observed partition; PASS
    for silent partitions is a batch-side reconciliation."""
    eng = ValidationEngine(manifest, **engine_kw)
    marked = stream_df.withWatermark(ts_col, watermark)
    return (
        marked.select(
            F.col(ts_col),
            eng._instance_col(marked).alias("instance_name"),
            eng.row_fail_count(marked).alias("_nf"),
        )
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("instance_name"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_nf").alias("n_violations"),
        )
        .select(
            F.lit(manifest.id).alias("schema_id"),
            F.col("win.start").alias("window_start"),
            F.col("instance_name"),
            F.when(F.col("n_violations") > 0, F.lit("FAIL")).otherwise(F.lit("PASS")).alias("result"),
            "n_rows",
            "n_violations",
        )
    )


def stream_session_stats(
    stream_df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-conversation session windows (session closes after `gap` of
    silence): turn counts + role mix per session. The streaming analogue of
    q26's batch sessionization — state bounded by the watermark."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count_if(F.col("role") == "assistant").alias("n_assistant"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .select(
            "conv_id", F.col("sess.start").alias("session_start"), F.col("sess.end").alias("session_end"),
            "n_turns", "n_assistant", "first_turn", "last_turn",
        )
    )


def stream_dedup(
    stream_df: DataFrame,
    key_columns: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming U1: drop duplicate (conv_id, turn_idx) arrivals within the
    watermark — bounded state, exactly the hypertable-ingest dedup path."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_columns)


def stream_quarantine(stream_df: DataFrame, manifest: Manifest, **engine_kw) -> DataFrame:
    """Streaming twin of the CLI ``--quarantine`` sink: the SAME
    row_fail_count validity flag, as a stateless projection on the stream.
    Write it with ``.writeStream.partitionBy("row_valid").format("parquet")``
    for the identical row_valid=true/false layout the batch sink produces —
    no state, no watermark, no shuffle (validity is per-row), so it
    composes with any downstream stateful operator."""
    if "row_valid" in stream_df.columns:
        raise ValueError("input already has a 'row_valid' column")
    eng = ValidationEngine(manifest, **engine_kw)
    return stream_df.withColumn(
        "row_valid", eng.row_fail_count(stream_df) == F.lit(0)
    )


def stream_drift(
    stream_df: DataFrame,
    manifest: Manifest,
    on_violations,
    baselines: dict | None = None,
    baselines_path: str | None = None,
    **engine_kw,
):
    """Streaming twin of the A8 drift rule — completes batch/stream parity
    for the last batch-only rule family.

    Each micro-batch's distribution of every ``drift`` rule's column is
    compared against the SAME stored baselines the batch path uses
    (``--write-baseline`` → ``_drift_baselines.json``,
    stats.baseline_store_path), by the batch evaluator itself
    (``ValidationEngine._drift_violations``: one histogram aggregate per
    rule, KS/PSI over its ≤ bins+2 counts). The batch's drift plan runs
    once: its rows (at most one per rule) are collected, and a drifting
    batch's go to ``on_violations(batch_id, violations_df)`` as a frame of
    those rows; a batch matching the baseline emits nothing.

    Returns a started-ready ``DataStreamWriter`` (caller sets
    checkpointLocation/trigger and calls ``start()``), foreachBatch over
    the raw stream — no stateful operator is needed because the baseline
    is immutable within a run.
    """
    from functools import reduce

    from schema_enforcer_spark.stats import load_drift_baselines

    rules = [r for r in manifest.table_rules if r.kind == "drift"]
    if not rules:
        raise ValueError(f"manifest {manifest.id!r} has no drift rules to stream")

    resolved: dict | None = dict(baselines) if baselines else None

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal resolved
        if resolved is None:
            # late-bound so the baseline written batch-side just before
            # start() is picked up; loaded once, then reused every batch
            resolved = load_drift_baselines(batch_df.sparkSession, baselines_path)
        eng = ValidationEngine(manifest, drift_baselines=resolved, **engine_kw)
        viols = reduce(lambda a, b: a.unionByName(b), [eng._drift_violations(batch_df, r, {}) for r in rules])
        if rows := viols.collect():
            on_violations(batch_id, local_frame(batch_df.sparkSession, rows, viols.schema))

    if resolved is None and baselines_path is None:
        raise ValueError("stream_drift needs `baselines` or `baselines_path`")
    return stream_df.writeStream.foreachBatch(_process)


def stream_match_against_index(
    stream_df: DataFrame,
    index: DataFrame,
    corpus_df: DataFrame,
    on_matches,
    text_col: str = "text",
    id_col: str = "doc_id",
    **match_kw,
):
    """Streaming twin of incremental dedup (functions.dedup
    match_against_index): each micro-batch of NEWLY ARRIVING documents is
    banded and equi-joined against the SAME stored corpus index the batch
    path uses — near-dups are detected at ingest time and the corpus is
    hashed zero times per batch. ``on_matches(batch_id, matches_df)``
    receives the verified (new_id, corpus_id, jaccard) rows.

    foreachBatch rather than a stream-static join: the verify step is two
    further joins after the candidate join, and reusing the batch operator
    verbatim keeps the two paths one implementation. No state, no
    watermark — each batch is independent, exactly like the batch
    daily-crawl shape. Returns a started-ready ``DataStreamWriter``
    (caller sets checkpointLocation/trigger and calls ``start()``)."""
    from schema_enforcer_spark.functions.dedup import match_against_index

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        matches = match_against_index(
            batch_df, index, corpus_df, text_col=text_col, id_col=id_col, **match_kw
        )
        on_matches(batch_id, matches)

    return stream_df.writeStream.foreachBatch(_process)


def stream_equals_table(
    stream_df: DataFrame,
    manifest: Manifest,
    ref_tables: dict[str, DataFrame],
    **engine_kw,
) -> DataFrame:
    """Streaming twin of the ``equals_table`` diff (the north-star per-turn
    text-equality invariant): each arriving micro-batch is LEFT-OUTER
    stream-static joined against the stored reference table on the key
    columns and emits the SAME violation rows the batch rule produces —
    value mismatches and input rows with no reference counterpart — at
    ingest time, stateless (no watermark; each batch is independent).

    What a stream cannot emit: ``missing from the input`` rows. Absence is
    only provable once the stream is complete, so reference-only rows are
    a batch reconciliation concern (run the batch rule over the landed
    table); Spark enforces the same physics by rejecting full-outer
    stream-static joins.

    Reference analogue: schema-enforcer validates each file as it is
    encountered (/root/reference/schema_enforcer/cli.py:60-88, the
    validate command's per-file loop); this is that loop's unbounded form.
    """
    eq_rules = [r for r in manifest.rules if r.kind == "equals_table"]
    if len(eq_rules) != 1:
        raise ValueError(
            f"stream_equals_table needs exactly one equals_table rule in the "
            f"manifest, found {len(eq_rules)}"
        )
    rule = eq_rules[0]
    # the batch rule's plan and checks (ref table given, columns present,
    # dtypes agree) over a left-outer join; a lazy plan, so the static-side
    # check below still runs before any query starts
    out = ValidationEngine(manifest, **engine_kw)._equals_table_violations(stream_df, rule, ref_tables, "left_outer")
    if ref_tables[rule.params["ref_table"]].isStreaming:
        raise ValueError("the reference side must be a static table")
    return out


def stream_outlier(
    stream_df: DataFrame,
    manifest: Manifest,
    reference_df: DataFrame | None = None,
    bounds: dict[str, DataFrame] | None = None,
    **engine_kw,
) -> DataFrame:
    """Streaming twin of the ``outlier`` rule with FROZEN fences: a global
    (or per-group) quantile over an unbounded stream is not computable, so
    the Tukey bounds are fixed at stream setup — computed from
    *reference_df* (a validated static slice, e.g. yesterday's partition:
    the same engine bounds pass the batch rule runs) or passed directly as
    *bounds* ({rule id: bounds frame} from ``engine.outlier_bounds``).
    Each micro-batch then emits the batch rule's exact violation rows via
    a stateless stream-static join (broadcast 1-row fence, or a key join
    for grouped fences) — no state, no watermark, composes with any
    downstream operator. This mirrors the drift twin's design: batch
    computes the statistic, the stream enforces it (stream_drift above).

    Grouped-fence caveat: a group key that never appeared in the
    reference slice has NO fence (NULL bounds from the left join), so its
    rows pass silently — frozen fences cannot judge a distribution the
    reference never saw. Surface unseen groups with a separate
    referential rule against the reference's key set if they must be
    loud.
    """
    rules = [r for r in manifest.table_rules if r.kind == "outlier"]
    if not rules:
        raise ValueError(f"manifest {manifest.id!r} has no outlier rules to stream")
    if reference_df is None and bounds is None:
        raise ValueError(
            "stream_outlier needs fences: pass reference_df (a static slice "
            "to compute them from) or precomputed bounds"
        )
    if reference_df is not None and reference_df.isStreaming:
        raise ValueError("reference_df must be a static table")
    eng = ValidationEngine(manifest, **engine_kw)
    parts = []
    for rule in rules:
        b = (bounds or {}).get(rule.rule_id(manifest.id, rule.params["column"]))
        if b is None:
            b = eng.outlier_bounds(reference_df, rule)
        parts.append(eng._outlier_emit(stream_df, rule, b))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
