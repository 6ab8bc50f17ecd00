"""Plan audit: dump .explain('formatted') for the engine's core paths and
assert the plan properties the design claims (SURVEY.md §4.2). Writes
PLANS.md at the repo root.

Checked properties:
- row-rule pass: ONE scan, no Exchange, whole-stage codegen, column-pruned
  ReadSchema;
- fused window pass: exactly ONE Exchange for ordering+contiguity+unique;
- referential: BroadcastHashJoin LeftAnti (never a shuffled join for a
  dim-sized reference);
- filter pushdown: partition/row-group filters reach the parquet scan;
- per-evaluator exchange counts (standalone unique, aggregate plain and
  salted, rate_limit, and zero for the items, prefix_items and
  property_names entry arrays);
- checkpoint pending set: a literal filter over the input, with no join,
  no broadcast and no scan of the lineage path;
- verdicts: one aggregate over the union of the input's instances and the
  persisted violations, with no join and one Exchange; two manifests with
  the same instance expression and grain share that aggregate and its one
  input scan;
- lineage latest verdicts and merged column stats: each store is read as
  one partition, so each plans one file scan and no Exchange.
"""

from __future__ import annotations

import io
import os
import re
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# expression-duplication budgets: the computed-once md5 counts measured when
# the round-5 fixes landed, with zero headroom — ANY increase means a
# projection got re-inlined downstream (see _marker_count)
MD5_BUDGET_Q32 = 10  # measured r7: centers subtree + per-row noise term, below the barrier
MD5_BUDGET_Q40 = 2   # measured r7: one votes pipeline; md5 appears twice in ONE codegen
                     # projection (lo/hi halves of the same token hash — whole-stage
                     # subexpression elimination computes it once at runtime)


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _n_real_exchanges(plan: str) -> int:
    """Physical Exchange operators EXCLUDING the gated `_spread` rebalance
    (a RoundRobinPartitioning repartition that only fires on tiny
    single-file demo inputs and is a no-op at real scale — r7 added it to
    more queries, and the audit cares about the operator's own shuffles)."""
    n = len(re.findall(r"^\(\d+\) Exchange\s*$", plan, re.M))
    return n - len(re.findall(r"Arguments: RoundRobinPartitioning", plan))


# Tokens that differ between two runs over the same code: expression ids,
# exchange plan ids, fresh HOF lambda-variable suffixes, RDD ids and JVM
# object hashes. Masked in the written PLANS.md only (before the length
# cut, so the cut point is stable too); every assertion reads the raw plan.
_UNSTABLE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w)@[0-9a-f]{4,}\b"), r"\1@H"),
]


def _masked(plan: str) -> str:
    for pat, repl in _UNSTABLE:
        plan = pat.sub(repl, plan)
    return plan


def _marker_count(plan: str, marker: str) -> int:
    """Expression-duplication guard: projection collapse + predicate
    pushdown re-inline an expensive computed column into EVERY downstream
    reference, and HOF-bearing expressions get no common-subexpression
    elimination (CLAUDE.md round-5 notes — the q32 9-evals/row and simhash
    64x-votes bugs). Callers count a marker substring of the expensive
    expression in the formatted plan and fail above the computed-once
    budget, so the next withColumn refactor can't silently regress."""
    return plan.lower().count(marker.lower())


def _tree_above_cache(plan: str) -> list[str]:
    """Operator names of a formatted plan's tree, leaving out the cached plan
    below each InMemoryRelation: the operators a read of a persisted frame
    runs, not the ones that filled it."""
    tree = plan.split("\n\n", 1)[0].splitlines()[1:]
    ops, cut = [], None
    for ln in tree:
        m = re.match(r"^([ :+|-]*)(.+?) \(\d+\)$", ln)
        if not m:
            continue
        depth = len(m.group(1))
        if cut is not None and depth > cut:
            continue
        cut = depth if m.group(2) == "InMemoryRelation" else None
        ops.append(m.group(2).strip())
    return ops


def _size_conditions(plan: str) -> list[str]:
    """Filter conditions that test an array's size(). On a row-violation
    plan one means InferFiltersFromGenerate inferred `size(_v) > 0` from a
    plain explode, and pushdown re-inlined the whole violation array below
    the projection (a second full evaluation per row); the outer explode +
    null filter leaves only `isnotnull(v)`."""
    return [ln.strip() for ln in plan.splitlines() if ln.lstrip().startswith("Condition :") and "size(" in ln]


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from schema_enforcer_spark.checkpoint import CheckpointManager
    from schema_enforcer_spark.engine import ValidationEngine, ValidationReport
    from schema_enforcer_spark.manifest import Manifest, load_manifest
    from schema_enforcer_spark.synth import gen_transcripts, gen_conversations

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    path = "/tmp/plans_transcripts"
    if not os.path.exists(path):
        gen_transcripts(spark, n_convs=100, seed=42).write.mode("overwrite").parquet(path)
    tdf = spark.read.parquet(path)
    convs = gen_conversations(spark, 100)
    m = load_manifest(os.path.join(REPO, "manifests", "transcripts_base.yml"))
    eng = ValidationEngine(m)

    sections: list[tuple[str, str, list[str]]] = []
    problems: list[str] = []

    # 1. row-rule single pass
    row_m = Manifest(id=m.id, rules=tuple(r for r in m.rules if r.is_row_rule or r.kind == "conditional"), table=m.table, columns=m.columns)
    p1 = _formatted(ValidationEngine(row_m).violations(tdf))
    notes1 = []
    if "Exchange" in p1:
        problems.append("row-rule pass contains an Exchange (should be scan+project only)")
    else:
        notes1.append("OK: no Exchange — pure scan → project → explode")
    if p1.count("Scan parquet") == 1:
        notes1.append("OK: exactly one parquet scan for all 11 rules")
    if "WholeStageCodegen" in p1:
        notes1.append("OK: whole-stage codegen covers the projection")
    if bad1 := _size_conditions(p1):
        problems.append(f"row-rule pass filters on an array size (inferred from a plain explode): {bad1}")
    else:
        notes1.append("OK: no size() filter condition — the violation array is evaluated once per row")
    sections.append(("Row-rule single-pass projection (11 rules, one scan)", p1, notes1))

    # 2. fused window pass
    win_m = Manifest(id=m.id, rules=tuple(r for r in m.rules if r.kind in ("ordering", "contiguous", "unique")), table=m.table)
    p2 = _formatted(ValidationEngine(win_m).violations(tdf))
    # count physical Exchange operators (detail headers), not text mentions
    n_ex = len(re.findall(r"^\(\d+\) Exchange\s*$", p2, re.M))
    notes2 = []
    if n_ex == 1:
        notes2.append("OK: ONE Exchange for ordering + contiguity + uniqueness")
    else:
        problems.append(f"fused window pass has {n_ex} Exchanges (want 1)")
    sections.append(("Fused window pass (ordering + contiguity + uniqueness, one exchange)", p2, notes2))

    # 3. referential broadcast anti-join
    ref_m = load_manifest(os.path.join(REPO, "manifests", "transcripts_referential.yml"))
    p3 = _formatted(ValidationEngine(ref_m).violations(tdf, ref_tables={"conversations": convs}))
    notes3 = []
    if "BroadcastHashJoin" in p3 and "LeftAnti" in p3:
        notes3.append("OK: broadcast left-anti join against the reference key set")
    else:
        problems.append("referential rule is not a broadcast left-anti join")
    sections.append(("Referential integrity (broadcast left-anti)", p3, notes3))

    # 4. pushdown: filter on partition_id + conv_id reaches the scan
    p4 = _formatted(tdf.filter((F.col("partition_id") == 3) & (F.col("conv_id") == "conv-00000001")).select("conv_id", "turn_idx"))
    notes4 = []
    if "PushedFilters" in p4 and "EqualTo" in p4:
        notes4.append("OK: predicates pushed into the parquet scan (PushedFilters)")
    else:
        problems.append("predicate pushdown missing")
    if re.search(r"ReadSchema:[^\n]*conv_id[^\n]*turn_idx", p4):
        notes4.append("OK: ReadSchema pruned to selected columns")
    sections.append(("Predicate pushdown + column pruning", p4, notes4))

    # 5. as-of join: merge shape (union + ONE exchange + window), never a
    # nested-loop inequality join
    from schema_enforcer_spark.functions.joins import asof_join

    left = tdf.select("conv_id", F.col("ts").alias("t"), "turn_idx")
    right = convs.select("conv_id", F.col("started_at").alias("rt")) if "started_at" in convs.columns else tdf.select("conv_id", F.col("ts").alias("rt")).limit(50)
    p5 = _formatted(asof_join(left, right, on=["conv_id"], left_time="t", right_time="rt"))
    notes5 = []
    n_ex5 = len(re.findall(r"^\(\d+\) Exchange\s*$", p5, re.M))
    if "BroadcastNestedLoopJoin" in p5 or "CartesianProduct" in p5:
        problems.append("as-of join planned as a nested-loop/cartesian join")
    else:
        notes5.append("OK: as-of join is union + window, no nested-loop join")
    if n_ex5 <= 2:  # one for the window partitioning (+1 possible for a limit/rebalance of the demo right side)
        notes5.append(f"OK: as-of join uses {n_ex5} exchange(s) — merge shape, not a join explosion")
    else:
        problems.append(f"as-of join has {n_ex5} Exchanges (want <=2)")
    sections.append(("As-of join (merge-based: union + one window exchange)", p5, notes5))

    # 6. bucketed range join (q39): hash join on (_bucket, key), never BNLJ
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.01"
    p6 = _formatted(entry.q39_range_join(spark, sf))
    notes6 = []
    if "BroadcastNestedLoopJoin" in p6 or "CartesianProduct" in p6:
        problems.append("range join planned as nested-loop/cartesian")
    else:
        notes6.append("OK: no nested-loop/cartesian join")
    if re.search(r"(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin)", p6) and re.search(
        r"Left keys[^\n]*_bucket", p6
    ):
        notes6.append("OK: hash join keyed on _bucket (+ user_id)")
    else:
        problems.append("range join is not a hash join on _bucket")
    sections.append(("Bucketed range join (q39: containment as equi-join)", p6, notes6))

    # 7. contamination (q38): benchmark shingles BROADCAST, one shuffle on doc id
    p7 = _formatted(entry.q38_contamination(spark, sf))
    notes7 = []
    if "BroadcastHashJoin" in p7 and re.search(r"Left keys[^\n]*_sh", p7):
        notes7.append("OK: benchmark shingle set broadcast (BroadcastHashJoin on _sh)")
    else:
        problems.append("q38 benchmark join is not broadcast on _sh")
    if "CartesianProduct" in p7 or "BroadcastNestedLoopJoin" in p7:
        problems.append("q38 contains a nested-loop/cartesian join")
    else:
        notes7.append("OK: no nested-loop/cartesian join")
    sections.append(("Benchmark decontamination (q38: broadcast shingles, one corpus pass)", p7, notes7))

    # 8. connected-components round: the per-iteration joins (label
    # propagation across edges + pointer-jump self-join) must be hash joins
    # on the label key — never nested-loop — and labels-sized, not row-sized
    pairs = spark.range(1000).select(
        F.col("id").alias("a_id"), (F.col("id") + 1).alias("b_id")
    )
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .dropDuplicates()
    )
    labels = edges.select(F.col("src").alias("v")).dropDuplicates().withColumn("component", F.col("v"))
    msgs = (
        edges.join(labels.withColumnRenamed("v", "src"), "src")
        .select(F.col("dst").alias("v"), "component")
        .unionByName(labels)
    )
    prop = msgs.groupBy("v").agg(F.min("component").alias("component"))
    ptr = labels.select(F.col("v").alias("_pv"), F.col("component").alias("_pc"))
    jump = prop.join(ptr, prop["component"] == ptr["_pv"], "left").select(
        prop["v"],
        F.least(prop["component"], F.coalesce(ptr["_pc"], prop["component"])).alias("component"),
    )
    p8 = _formatted(jump)
    notes8 = []
    if "BroadcastNestedLoopJoin" in p8 or "CartesianProduct" in p8:
        problems.append("CC round join planned as nested-loop/cartesian")
    else:
        notes8.append("OK: CC propagation + pointer-jump are hash/sort-merge joins, no nested-loop")
    if re.search(r"(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin)", p8):
        notes8.append("OK: per-round label joins are equi-joins on the label key")
    sections.append(("Connected-components round (label propagation + pointer jump)", p8, notes8))

    # 9. boilerplate detection (q43): the frequent-gram set joins back as a
    # BROADCAST (Zipf head), never a shuffled join; no nested-loop anywhere
    p9 = _formatted(entry.q43_boilerplate_ngrams(spark, sf))
    notes9 = []
    if "BroadcastHashJoin" in p9 and re.search(r"Left keys[^\n]*gram", p9):
        notes9.append("OK: frequent-gram set broadcast (BroadcastHashJoin on gram)")
    else:
        problems.append("q43 frequent-gram join is not broadcast on gram")
    if "CartesianProduct" in p9 or "BroadcastNestedLoopJoin" in p9:
        problems.append("q43 contains a nested-loop/cartesian join")
    else:
        notes9.append("OK: no nested-loop/cartesian join")
    sections.append(("Boilerplate n-gram detection (q43: broadcast frequent head)", p9, notes9))

    # 10. document chunking (q44): scan → project → generate, ZERO shuffles
    # (ignore the demo-only _spread rebalance of tiny single-file input and
    # the final presentation orderBy — audit the raw operator instead)
    from schema_enforcer_spark.functions.sampling import chunk_documents, stratified_sample

    docs_raw = spark.read.parquet(f"{sf}/documents.parquet")
    p10 = _formatted(chunk_documents(docs_raw, chunk_tokens=64, overlap=16))
    notes10 = []
    n_ex10 = len(re.findall(r"^\(\d+\) Exchange\s*$", p10, re.M))
    if n_ex10 == 0:
        notes10.append("OK: zero Exchanges — chunking is scan → project → generate")
    else:
        problems.append(f"chunk_documents has {n_ex10} Exchanges (want 0)")
    if "Generate" in p10:
        notes10.append("OK: windows materialize via Generate (posexplode), not a join")
    sections.append(("Document chunking (q44: zero-shuffle generate)", p10, notes10))

    # 11. stratified sample: pure Filter over the scan, zero shuffles, and
    # the md5-bucket predicate stays inside whole-stage codegen
    p11 = _formatted(stratified_sample(docs_raw, "doc_id", "lang", {"en": 0.5}, default_rate=0.1))
    notes11 = []
    n_ex11 = len(re.findall(r"^\(\d+\) Exchange\s*$", p11, re.M))
    if n_ex11 == 0 and "Filter" in p11:
        notes11.append("OK: deterministic sampling is a codegen Filter, zero Exchanges")
    else:
        problems.append(f"stratified_sample plan unexpected ({n_ex11} Exchanges)")
    sections.append(("Stratified sampling (zero-shuffle deterministic filter)", p11, notes11))

    # 12. centroid stats (q47): ONE shuffle on (label, dim) with map-side
    # partial aggregation (HashAggregate before and after the Exchange)
    from schema_enforcer_spark.functions.similarity import centroid_stats

    emb_raw = spark.read.parquet(f"{sf}/embeddings.parquet")
    p12 = _formatted(centroid_stats(emb_raw))
    notes12 = []
    n_ex12 = len(re.findall(r"^\(\d+\) Exchange\s*$", p12, re.M))
    if n_ex12 == 1:
        notes12.append("OK: one Exchange on (label, dim)")
    else:
        problems.append(f"centroid_stats has {n_ex12} Exchanges (want 1)")
    if p12.count("HashAggregate") >= 2:
        notes12.append("OK: partial (map-side) + final aggregation around the Exchange")
    else:
        problems.append("centroid_stats lacks map-side partial aggregation")
    sections.append(("Embedding centroid stats (q47: one exchange, partial agg)", p12, notes12))

    # 13. round-3 table rules: sequence + rate_limit are ONE-exchange window
    # passes; cardinality is a pre-aggregated equi-join (never a nested loop)
    ev = spark.read.parquet(f"{sf}/events.parquet")
    p13 = _formatted(entry.q17_sequence_rule(spark, sf))
    notes13 = []
    n_ex13 = len(re.findall(r"^\(\d+\) Exchange\s*$", p13, re.M))
    if n_ex13 <= 2 and "Window" in p13:  # one for the lag window (+1 for the demo orderBy)
        notes13.append(f"OK: sequence rule is a window pass ({n_ex13} exchange(s) incl. presentation sort)")
    else:
        problems.append(f"sequence rule plan unexpected ({n_ex13} Exchanges)")
    sections.append(("Sequence rule (q52: lag window, one exchange)", p13, notes13))

    p14 = _formatted(entry.q48_cardinality_orders(spark, sf))
    notes14 = []
    if "BroadcastNestedLoopJoin" in p14 or "CartesianProduct" in p14:
        problems.append("cardinality rule planned as nested-loop/cartesian")
    else:
        notes14.append("OK: cardinality = pre-aggregated ref + equi-join, no nested loop")
    if p14.count("HashAggregate") >= 2:
        notes14.append("OK: ref side pre-aggregated (map-side combine) before the join")
    sections.append(("Cardinality rule (q48: FK multiplicity)", p14, notes14))

    # 15. simhash near-dups (q40): pairs expand BUCKET-LOCALLY (r7 —
    # groupBy(chunk, val, sub, subval) + collect_list + explode; the old
    # self-join evaluated the votes pipeline once per side because
    # ReuseExchange never deduplicated the identical subtrees). Assert: no
    # join of any kind, the pair groupBy is keyed on ALL FOUR key parts,
    # and the votes fold appears exactly once.
    p15 = _formatted(entry.q40_simhash_near_dups(spark, sf))
    notes15 = []
    if re.search(r"\(\d+\) \w*Join", p15):
        problems.append("q40 simhash pair generation contains a join (want bucket-local groupBy expansion)")
    else:
        notes15.append("OK: no join — pairs expand bucket-locally from the grouped id list")
    agg_keys15 = re.search(r"Keys \[\d+\]: \[[^\]]*chunk[^\]]*\]", p15)
    if agg_keys15 and all(k in agg_keys15.group(0) for k in ("chunk", "val", "sub", "subval")):
        notes15.append("OK: pair groupBy keyed on (chunk, val, sub, subval) — two-level bucket-local")
    else:
        problems.append("q40 pair groupBy is not keyed on the full two-level (chunk, val, sub, subval)")
    n_md5_15 = _marker_count(p15, "md5")
    if n_md5_15 <= MD5_BUDGET_Q40:
        notes15.append(f"OK: md5 (votes fold) appears {n_md5_15}x (budget {MD5_BUDGET_Q40}) — signature pipeline computed ONCE (no self-join)")
    else:
        problems.append(
            f"q40 votes-fold duplication: {n_md5_15} md5 occurrences (budget {MD5_BUDGET_Q40}) — "
            "the simhash signature got re-inlined per downstream reference"
        )
    sections.append(("SimHash near-dups (q40: bucket-local pair expansion, one votes pipeline)", p15, notes15))

    # 16. map-entry rules (q56 patternProperties): like the items rule, the
    # whole validation must stay one scan → one projection (transform over
    # map_entries) → explode — zero Exchange before the final sort
    p16 = _formatted(entry.q34_pattern_properties(spark, sf))
    notes16 = []
    n_ex16 = _n_real_exchanges(p16)
    if n_ex16 <= 1:  # only the orderBy's range partitioning (_spread rebalance excluded)
        notes16.append(f"OK: {n_ex16} non-rebalance Exchange(s) — map-entry validation rides the scan projection")
    else:
        problems.append(f"q56 pattern_properties has {n_ex16} non-rebalance Exchanges (want <=1: just the sort)")
    # count physical operators (detail headers), not tree-summary mentions
    if len(re.findall(r"^\(\d+\) Scan parquet", p16, re.M)) == 1:
        notes16.append("OK: exactly one parquet scan")
    else:
        problems.append("q56 pattern_properties scans the input more than once")
    sections.append(("patternProperties map-entry rule (q56: one scan, zero pre-sort exchanges)", p16, notes16))

    # 17. jmespath rule (q57): the compiled JMESPath HOF expression must
    # ride the row-rule projection — one scan, one Exchange (the groupBy
    # that builds the per-host documents), no Python UDF anywhere
    p17 = _formatted(entry.q10_jmespath_interfaces(spark, sf))
    notes17 = []
    n_ex17 = _n_real_exchanges(p17)
    if n_ex17 <= 1:
        notes17.append(f"OK: {n_ex17} Exchange(s) — only the document-building groupBy shuffles; the compiled JMESPath validation rides its output projection")
    else:
        problems.append(f"q57 jmespath has {n_ex17} non-rebalance Exchanges (want <=1: the document groupBy)")
    if "pythonUDF" in p17 or "BatchEvalPython" in p17 or "ArrowEvalPython" in p17:
        problems.append("q57 jmespath dropped to a Python UDF — the translation must stay JVM-side")
    else:
        notes17.append("OK: no Python UDF — JMESPath compiled to Catalyst HOFs")
    if len(re.findall(r"^\(\d+\) Scan parquet", p17, re.M)) == 1:
        notes17.append("OK: exactly one parquet scan")
    else:
        problems.append("q57 jmespath scans the input more than once")
    sections.append(("jmespath literal-expression rule (q10: Catalyst HOFs, one exchange)", p17, notes17))

    # 18. quarantine validity split (q58): the row_fail_count flag is one
    # codegen expression on the scan projection — no joins, and the only
    # exchange is the 2-key groupBy's partial-agg shuffle
    p18 = _formatted(entry.q14_quarantine_split(spark, sf))
    notes18 = []
    n_ex18 = _n_real_exchanges(p18)
    if "Join" in p18:
        problems.append("q58 quarantine split contains a join — the validity flag must ride the scan")
    else:
        notes18.append("OK: no joins — validity is a codegen expression over the scan")
    if n_ex18 > 1:
        problems.append(f"q58 quarantine split has {n_ex18} non-rebalance Exchanges (want 1: the 2-key groupBy)")
    else:
        notes18.append(f"OK: {n_ex18} non-rebalance Exchange(s) — map-side combine into a 2-value key")
    if "HashAggregate" not in p18:
        problems.append("q58 quarantine split lost its hash aggregate")
    else:
        notes18.append("OK: partial HashAggregate before the exchange (map-side combine)")
    sections.append(("quarantine validity split (q14: flag on the scan, one exchange)", p18, notes18))

    # 19. clustered-ANN synthetic embedding (q32): the md5 generator must
    # stay out of the probe-side per-row work — r7 shape: the CENTER term
    # (md5(cluster:dim), 32x64 distinct values) arrives via a broadcast
    # join of synth.cluster_centers_df, the per-row NOISE term is one
    # zip_with, and the repartition barrier materializes the summed
    # embedding before the plane dots — if the md5 marker count grows,
    # projection collapse has re-inlined the generator into the dots/cosine
    # (the round-5 9-evals/row bug)
    p19 = _formatted(entry.q32_ann_clustered(spark, sf))
    notes19 = []
    if "BroadcastHashJoin" in p19 and "_cluster" in p19:
        notes19.append("OK: center term arrives via broadcast join on _cluster (md5 per cluster, not per row)")
    else:
        problems.append("q32 centers are not broadcast-joined on _cluster")
    if "RoundRobinPartitioning" in p19:
        notes19.append("OK: repartition barrier present (embedding materialized before the 8 plane dots)")
    else:
        problems.append("q32 lost its materialization barrier (no round-robin Exchange in plan)")
    n_md5_19 = _marker_count(p19, "md5")
    if n_md5_19 <= MD5_BUDGET_Q32:
        notes19.append(f"OK: md5 appears {n_md5_19}x (budget {MD5_BUDGET_Q32}) — embedding computed once, not re-inlined per plane dot")
    else:
        problems.append(
            f"q32 md5 duplication: {n_md5_19} occurrences in the plan (budget {MD5_BUDGET_Q32}) — "
            "an expensive projection got re-inlined downstream"
        )
    sections.append(("clustered-ANN synthetic embedding (q32: broadcast centers + barrier)", p19, notes19))

    # 20. equals_table reference diff (q60): ONE full-outer equi-join on
    # the key — a hash/sort-merge join, never a nested-loop/cartesian; the
    # per-column comparison rides the join's output projection
    p20 = _formatted(entry.q46_equals_table(spark, sf))
    notes20 = []
    if "BroadcastNestedLoopJoin" in p20 or "CartesianProduct" in p20:
        problems.append("equals_table planned as a nested-loop/cartesian join")
    else:
        notes20.append("OK: no nested-loop/cartesian join")
    if re.search(r"(SortMergeJoin|ShuffledHashJoin)[^\n]*FullOuter", p20):
        notes20.append("OK: full-outer equi-join on the key (shuffled hash/sort-merge)")
    else:
        problems.append("equals_table is not a full-outer equi-join")
    if "Window" in p20:
        problems.append("equals_table plan contains a Window (comparison should ride the join projection)")
    else:
        notes20.append("OK: comparison + violation structs ride the join's output projection")
    sections.append(("equals_table reference diff (q46: one full-outer equi-join)", p20, notes20))

    # 21. fused multi-manifest row rules (validate_many): TWO manifests'
    # row rules in ONE scan — the per-engine path costs one scan per
    # manifest; at 100 TB with M bound manifests that is M full reads
    from schema_enforcer_spark.engine import validate_many
    from schema_enforcer_spark.manifest import manifest_from_dict

    quality = load_manifest(os.path.join(REPO, "manifests", "transcripts_quality.yml"))
    fused = validate_many(
        [ValidationEngine(row_m), ValidationEngine(quality)], tdf, cache_violations=False
    )
    p21 = _formatted(fused.violations)
    notes21 = []
    n_scan21 = len(re.findall(r"\(\d+\) Scan parquet", p21))
    if n_scan21 == 1:
        notes21.append("OK: ONE parquet scan carries both manifests' row rules")
    else:
        problems.append(f"fused multi-manifest pass scans the input {n_scan21}x (want 1)")
    if re.search(r"^\(\d+\) Exchange\s*$", p21, re.M):
        problems.append("fused multi-manifest pass contains an Exchange (should be scan -> project -> explode)")
    else:
        notes21.append("OK: no Exchange — row-local work stays row-local across manifests")
    if bad21 := _size_conditions(p21):
        problems.append(f"fused multi-manifest pass filters on an array size (inferred from a plain explode): {bad21}")
    else:
        notes21.append("OK: no size() filter condition — the fused violation array is evaluated once per row")
    sections.append(("Fused multi-manifest row rules (validate_many: 2 manifests, one scan)", p21, notes21))

    # 22. equals_table at the north-star grain with CO-PARTITIONED staging:
    # repartition(N, conv_id, turn_idx) + localCheckpoint on BOTH sides is
    # the in-sandbox stand-in for Iceberg bucket(N, keys) tables — the
    # full-outer diff join must then plan ZERO Exchanges (sorts only).
    # AQE off for the staging: it captures a non-final plan and downgrades
    # the checkpointed partitioning to Unknown (CLAUDE.md).
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    ref22 = tdf.withColumn(
        "text",
        F.when(
            F.pmod(F.hash("conv_id", "turn_idx"), F.lit(100)) == 7, F.lit("TAMPERED")
        ).otherwise(F.col("text")),
    )
    left22 = tdf.repartition(8, "conv_id", "turn_idx").localCheckpoint()
    right22 = ref22.repartition(8, "conv_id", "turn_idx").localCheckpoint()
    eq_m = manifest_from_dict(
        {
            "id": "schemas/transcripts_equals_ref",
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
    p22 = _formatted(
        ValidationEngine(eq_m).violations(left22, ref_tables={"reference": right22})
    )
    spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
    notes22 = []
    n_ex22 = len(re.findall(r"^\(\d+\) Exchange\s*$", p22, re.M))
    if n_ex22 == 0:
        notes22.append(
            "OK: ZERO Exchanges — co-partitioned (bucketed) inputs make the full-outer "
            "per-turn text diff shuffle-free on both sides"
        )
    else:
        problems.append(
            f"equals_table on co-partitioned inputs plans {n_ex22} Exchanges (want 0 — "
            "the bucketed => exchange-free claim failed)"
        )
    if re.search(r"SortMergeJoin[^\n]*FullOuter", p22):
        notes22.append("OK: full-outer sort-merge equi-join on (conv_id, turn_idx)")
    else:
        problems.append("staged equals_table is not a full-outer sort-merge equi-join")
    sections.append(
        ("equals_table on co-partitioned inputs (north-star diff, zero exchanges)", p22, notes22)
    )

    # 23. incremental dedup (q33): batch-vs-stored-index match must be an
    # equi-join on (band, bucket) — never an all-pairs/nested-loop join —
    # and every documents scan must be column-pruned to (doc_id, text)
    p23 = _formatted(entry.q33_incremental_dedup(spark, sf))
    notes23 = []
    if "BroadcastNestedLoopJoin" in p23 or "CartesianProduct" in p23:
        problems.append("incremental dedup planned a nested-loop/cartesian join")
    else:
        notes23.append("OK: no nested-loop/cartesian join anywhere in the match path")
    if re.search(r"(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin)[^\n]*", p23) and re.search(
        r"Left keys[^\n]*band", p23
    ):
        notes23.append("OK: candidate join is an equi-join keyed on (band, bucket)")
    else:
        problems.append("incremental-dedup candidate join is not keyed on (band, bucket)")
    bad_schema23 = [
        m
        for m in re.findall(r"ReadSchema: struct<([^>]*)>", p23)
        if set(c.split(":")[0] for c in m.split(",") if c) - {"doc_id", "text"}
    ]
    if not bad_schema23:
        notes23.append("OK: every documents scan is pruned to (doc_id, text)")
    else:
        problems.append(f"incremental dedup reads extra columns: {bad_schema23}")
    sections.append(
        ("Incremental dedup (q33: batch banded once, equi-joined against the corpus index)", p23, notes23)
    )

    # 24. expression rule (q44): a declarative SQL boolean must ride the
    # SAME zero-shuffle row-rule projection as every scalar check —
    # scan -> project -> explode, no Exchange, no extra scan
    p24 = _formatted(entry.q44_expression_rule(spark, sf))
    notes24 = []
    if re.search(r"^\(\d+\) Exchange\s*$", p24, re.M):
        problems.append("expression rule plans an Exchange (must stay row-local)")
    else:
        notes24.append("OK: no Exchange — SQL predicates stay on the row projection")
    n_scan24 = len(re.findall(r"\(\d+\) Scan parquet", p24))
    if n_scan24 == 1:
        notes24.append("OK: one scan carries both expression rules")
    else:
        problems.append(f"expression-rule pass scans the input {n_scan24}x (want 1)")
    sections.append(("Expression rule (q44: SQL booleans on the zero-shuffle row projection)", p24, notes24))

    # 25. manifest-inference profile (infer.py pass 1): ONE scan, and the
    # only Exchange is the single-row final-aggregate reduce — the pass is
    # a pure map-side-combine profile, so its cost at 100 TB is the floor
    # cost of reading the table once
    ev25 = spark.read.parquet(os.path.join(sf, "events.parquet"))
    aggs25 = []
    from pyspark.sql import functions as F25

    for c in ev25.columns:
        aggs25.append(F25.sum(F25.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs25.append(F25.approx_count_distinct(c).alias(f"{c}__approx"))
    p25 = _formatted(ev25.agg(F25.count(F25.lit(1)).alias("n"), *aggs25))
    notes25 = []
    n_scan25 = len(re.findall(r"\(\d+\) Scan parquet", p25))
    n_ex25 = len(re.findall(r"^\(\d+\) Exchange\s*$", p25, re.M))
    if n_scan25 == 1 and n_ex25 <= 1:
        notes25.append(
            "OK: profile pass = one scan + partial aggregate + one single-row reduce "
            f"({n_ex25} Exchange)"
        )
    else:
        problems.append(
            f"inference profile pass: {n_scan25} scans / {n_ex25} exchanges (want 1 / <=1)"
        )
    if "HashAggregate" in p25 and p25.index("HashAggregate") > -1 and "partial" in p25.lower():
        notes25.append("OK: map-side partial aggregation before the reduce")
    sections.append(("Manifest-inference profile (one scan, map-side combine)", p25, notes25))

    # 26. functional_dependency rule (q20): Spark's two-phase distinct
    # aggregation — exchange 1 on (determinant, dependent) AFTER a map-side
    # partial dedup (so it carries distinct pairs, not rows), exchange 2 on
    # the determinant over the already-deduplicated pairs (bounded by
    # Σ|distinct deps per group|, vanishingly small next to the input).
    # Every per-group statistic rides the same aggregate — no join, no
    # collect, no second scan.
    from schema_enforcer_spark.manifest import manifest_from_dict as _mfd26

    docs26 = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    m26 = _mfd26(
        {
            "id": "schemas/plans_fd",
            "rules": [
                {"kind": "functional_dependency", "columns": ["source"], "dependent": "lang"}
            ],
        }
    )
    p26 = _formatted(
        ValidationEngine(m26, key_columns=["doc_id"]).violations(docs26)
    )
    notes26 = []
    n_ex26 = len(re.findall(r"^\(\d+\) Exchange\s*$", p26, re.M))
    n_scan26 = len(re.findall(r"\(\d+\) Scan parquet", p26))
    if n_ex26 == 2 and n_scan26 == 1:
        notes26.append(
            "OK: FD check = one scan + two-phase distinct agg (exchange 1 carries "
            "map-side-deduplicated pairs, exchange 2 the per-group reduce)"
        )
    else:
        problems.append(
            f"functional_dependency: {n_scan26} scans / {n_ex26} exchanges (want 1 / 2)"
        )
    if "partial_count(distinct" in p26 or re.search(r"HashAggregate.*partial", p26, re.S):
        notes26.append("OK: map-side partial aggregation (distinct + min/max ride one agg)")
    if "Join" in p26:
        problems.append("functional_dependency plan contains a join (should be agg-only)")
    sections.append(("functional_dependency rule (q20: one groupBy exchange)", p26, notes26))

    # 27. outlier rule (q27): TWO scans by design (a global statistic needs
    # a bounds pass and a flag pass); the single bounds row arrives via a
    # BroadcastNestedLoopJoin (the scalar-subquery shape — 1-row build side,
    # NOT an all-pairs join) and the flag is a plain Filter above the scan
    m27 = _mfd26(
        {
            "id": "schemas/plans_outlier",
            "rules": [{"kind": "outlier", "column": "value", "k": 1.5}],
        }
    )
    ev27 = spark.read.parquet(os.path.join(sf, "events.parquet"))
    p27 = _formatted(
        ValidationEngine(m27, key_columns=["event_id"]).violations(ev27)
    )
    notes27 = []
    n_scan27 = len(re.findall(r"\(\d+\) Scan parquet", p27))
    if n_scan27 == 2:
        notes27.append("OK: exactly two scans (bounds pass + flag pass)")
    else:
        problems.append(f"outlier rule: {n_scan27} scans (want 2: bounds + flag)")
    if "BroadcastNestedLoopJoin" in p27 and "BroadcastExchange" in p27:
        notes27.append(
            "OK: bounds row broadcast via BNLJ — a 1-row build side, the scalar-subquery shape"
        )
    else:
        problems.append("outlier rule: bounds row not broadcast")
    if "CartesianProduct" in p27:
        problems.append("outlier rule planned a CartesianProduct")
    sections.append(("outlier rule (q27: bounds broadcast, two scans by design)", p27, notes27))

    # 28. one evaluator per section over a small synthetic frame (no files:
    # a Range source keeps the plans run-stable), pinning each evaluator's
    # exchange count — table-grain rules shuffle only on their own keys
    # (the salted aggregate twice: (group, salt) then group), and the
    # entry-array kinds ride the row projection with none at all
    syn28 = spark.range(40).select(
        F.concat(F.lit("c"), (F.col("id") % 4).cast("string")).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        (F.col("id") % 5).alias("user_id"),
        (F.col("id") * 3).alias("ts_epoch"),
        F.array(F.col("id") % 7, F.col("id") % 3, F.col("id")).alias("nums"),
        F.create_map(
            F.concat(F.lit("k"), (F.col("id") % 3).cast("string")), F.col("id").cast("string")
        ).alias("attrs"),
    )
    cases28 = [
        ("unique rule, standalone (groupBy on the key)", 1,
         {"kind": "unique", "columns": ["user_id", "turn_idx"]}),
        ("aggregate rule (one groupBy, both sides in one agg)", 1,
         {"kind": "aggregate", "group_by": ["conv_id"], "left": {"fn": "count"},
          "operator": "lte", "right": 5}),
        ("aggregate rule with salt (two-phase: (group, salt) then group)", 2,
         {"kind": "aggregate", "group_by": ["conv_id"], "left": {"fn": "sum", "column": "user_id"},
          "operator": "lte", "right": {"fn": "count", "scale": 2}, "salt": 4}),
        ("rate_limit rule (one window exchange on the partition key)", 1,
         {"kind": "rate_limit", "partition_by": ["user_id"], "order_by": ["ts_epoch"],
          "window_seconds": 10, "max_count": 2}),
        ("items rule (transform on the row projection)", 0,
         {"kind": "items", "column": "nums", "check": "range", "maximum": 5}),
        ("prefix_items rule, additional_items false", 0,
         {"kind": "prefix_items", "column": "nums",
          "checks": [{"kind": "range", "maximum": 5}, {"kind": "enum", "values": [0, 1]}],
          "additional_items": False}),
        ("prefix_items rule, additional_items check", 0,
         {"kind": "prefix_items", "column": "nums", "checks": [{"kind": "range", "maximum": 5}],
          "additional_items": {"kind": "range", "minimum": 10}}),
        ("property_names rule (transform over map keys)", 0,
         {"kind": "property_names", "column": "attrs", "check": "pattern", "pattern": "^k[01]$"}),
    ]
    for title28, want28, rule28 in cases28:
        m28 = _mfd26({"id": "schemas/plans_evaluators", "table": "synthetic", "rules": [rule28]})
        p28 = _formatted(ValidationEngine(m28).violations(syn28))
        notes28 = []
        n_ex28 = len(re.findall(r"^\(\d+\) Exchange\s*$", p28, re.M))
        if n_ex28 == want28:
            notes28.append(f"OK: {n_ex28} Exchange(s), as pinned")
        else:
            problems.append(f"{rule28['kind']} ({title28}): {n_ex28} Exchanges (pinned {want28})")
        sections.append((title28, p28, notes28))

    # 29. checkpoint resume: the pending set over a lineage whose newest
    # verdicts mark half the partitions PASS is a literal filter over the
    # input — no join, no broadcast, and no scan of the lineage path (the
    # run appends to it, and a persisted frame reading it would be
    # re-planned by that append)
    ckpt29 = tempfile.mkdtemp(prefix="plans_lineage_")
    try:
        done29 = spark.createDataFrame(
            [(m.id, str(q), "PARTITION", "PASS", 0) for q in range(16)],
            "schema_id string, instance_name string, grain string, result string, n_violations bigint",
        )
        cm29 = CheckpointManager(spark, ckpt29)
        cm29.record(tdf, eng, ValidationReport(None, done29))
        p29 = _formatted(cm29.pending(tdf, eng))
    finally:
        shutil.rmtree(ckpt29, ignore_errors=True)
    notes29 = []
    bad29 = [op for op in ("Join", "BroadcastExchange") if op in p29]
    if os.path.basename(ckpt29) in p29:
        bad29.append("a scan of the lineage path")
    if bad29:
        problems.append(f"checkpoint pending set plans {bad29}")
    else:
        notes29.append("OK: no Join, no BroadcastExchange, no scan of the lineage path")
    n_scan29 = len(re.findall(r"\(\d+\) Scan parquet", p29))
    if n_scan29 == 1:
        notes29.append("OK: exactly one parquet scan (the input), filtered by the done ids as literals")
    else:
        problems.append(f"checkpoint pending set: {n_scan29} parquet scans (want 1: the input)")
    sections.append(("Checkpoint pending set (done partitions as a literal filter)", p29, notes29))

    # 30. verdicts over a persisted report: one groupBy(instance, grain)
    # over the union of the input's instances and the violations (count of
    # a marker that is NULL on input rows), so the read runs one partially
    # aggregated exchange and no join; dedup-the-universe plus a left join
    # to the violation counts shuffled every input
    rep30 = eng.validate(tdf)
    try:
        p30 = _formatted(rep30.verdicts)
    finally:
        rep30.unpersist()
    notes30 = []
    ops30 = _tree_above_cache(p30)
    if joins30 := [op for op in ops30 if "Join" in op]:
        problems.append(f"verdicts plan a join: {joins30}")
    else:
        notes30.append("OK: no Join above the persisted violations")
    n_ex30 = ops30.count("Exchange")
    if n_ex30 == 1:
        notes30.append("OK: exactly one Exchange, between the partial and the final count")
    else:
        problems.append(f"verdicts: {n_ex30} Exchanges above the leaves (want 1)")
    leaves30 = sorted(op for op in ops30 if op in ("InMemoryTableScan", "Scan parquet"))
    if leaves30 == ["InMemoryTableScan", "Scan parquet"]:
        notes30.append("OK: the leaves are the persisted violations and one scan of the input")
    else:
        problems.append(f"verdicts read {leaves30} (want the persisted violations and one input scan)")
    sections.append(("Verdicts (one union-aggregate over the persisted violations)", p30, notes30))

    # 30b. two manifests with the same instance expression and grain share
    # that aggregate: groupBy(_mid, instance, grain) over ONE read of the
    # input's instances (one per manifest aggregate scanned it M times)
    rep30b = validate_many([eng, ValidationEngine(quality)], tdf)
    try:
        p30b = _formatted(rep30b.verdicts)
    finally:
        rep30b.unpersist()
    notes30b = []
    ops30b = _tree_above_cache(p30b)
    if joins30b := [op for op in ops30b if "Join" in op]:
        problems.append(f"two-manifest verdicts plan a join: {joins30b}")
    else:
        notes30b.append("OK: no Join above the persisted violations")
    n_ex30b = ops30b.count("Exchange")
    if n_ex30b == 1:
        notes30b.append("OK: exactly one Exchange for both manifests' verdicts")
    else:
        problems.append(f"two-manifest verdicts: {n_ex30b} Exchanges above the leaves (want 1)")
    n_scan30b = ops30b.count("Scan parquet")
    if n_scan30b == 1:
        notes30b.append("OK: one scan of the input serves both manifests")
    else:
        problems.append(f"two-manifest verdicts: {n_scan30b} input scans (want 1)")
    sections.append(("Verdicts of two manifests (one shared aggregate, one input scan)", p30b, notes30b))

    # 31-32. the checkpoint's two stores are partition-count-sized: each is
    # read as ONE partition, which satisfies every grouping and window
    # distribution above it, so no Exchange (under adaptive execution each
    # is a Spark job of its own) and one file scan. The store paths are
    # fixed, as they appear in the plan.
    from schema_enforcer_spark.stats import merged_column_stats, write_partition_stats

    ckpt31, store32 = "/tmp/plans_lineage", "/tmp/plans_column_stats"
    for d in (ckpt31, store32):
        shutil.rmtree(d, ignore_errors=True)
    cm31 = CheckpointManager(spark, ckpt31)
    for verdict in ("FAIL", "PASS"):
        cm31.record(tdf, eng, ValidationReport(None, spark.createDataFrame(
            [(m.id, str(q), "PARTITION", verdict, 0) for q in range(16)],
            "schema_id string, instance_name string, grain string, result string, n_violations bigint",
        )))
    p31 = _formatted(cm31._latest(m.rule_set_hash()))
    inst32 = eng._instance_col(tdf)
    for wave in ("turn_idx < 5", "turn_idx >= 5", "turn_idx < 5"):
        write_partition_stats(tdf.filter(wave), ["conv_id", "role"], store32, inst32)
    p32 = _formatted(merged_column_stats(spark, store32))
    for n, (title, plan) in enumerate([("Lineage latest verdicts", p31), ("Merged column stats", p32)], 31):
        notes = []
        n_ex = len(re.findall(r"^\(\d+\) Exchange\s*$", plan, re.M))
        n_scan = len(re.findall(r"\(\d+\) Scan parquet", plan))
        if n_ex == 0 and n_scan == 1:
            notes.append("OK: one file scan, read as one partition (Coalesce 1), and no Exchange")
        else:
            problems.append(f"{title}: {n_ex} Exchanges and {n_scan} file scans (want 0 and 1)")
        sections.append((f"{title} (the store read as one partition)", plan, notes))
    for d in (ckpt31, store32):
        shutil.rmtree(d, ignore_errors=True)

    out = io.StringIO()
    out.write("# PLANS — physical-plan audit (generated by tools/explain_plans.py)\n\n")
    out.write("Each section: the `.explain('formatted')` output for one engine path plus\nthe assertions the design makes about it (SURVEY.md §4.2).\n\n")
    for title, plan, notes in sections:
        out.write(f"## {title}\n\n")
        for n in notes:
            out.write(f"- {n}\n")
        out.write("\n```\n")
        out.write(_masked(plan.strip())[:6000])
        out.write("\n```\n\n")
    if problems:
        out.write("## PROBLEMS\n\n")
        for p in problems:
            out.write(f"- ❌ {p}\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write(out.getvalue())
    print("\n".join(f"- {n}" for _, _, notes in sections for n in notes))
    if problems:
        print("PROBLEMS:")
        for p in problems:
            print(" ❌", p)
        sys.exit(1)
    print("wrote PLANS.md — all plan assertions hold")


if __name__ == "__main__":
    main()
