"""Inputs for the benchmark workloads and the expectations derived from
them.

The transcripts table is a function of the workload seed: the same seed
writes the same table. The documents corpus is fixed (the files under
``perfbench/corpus``), so the seed does not change it. The program under
test only ever sees the written files; the defect keys and expected
results stay on the benchmark's side.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from pyspark.sql import functions as F

# defect kind -> the rule of transcripts_base.yml it trips, once per row
DEFECT_RULES = {
    "enum": "schemas/transcripts_base/enum/role",
    "pattern": "schemas/transcripts_base/pattern/tool",
    "ordering": "schemas/transcripts_base/ordering/ts",
}
DEFECT_KINDS = list(DEFECT_RULES)


def _defect_kind(seed: int, per_mille: int, partitions: list[int]):
    """The defect kind of each row, or NULL. A chosen conversation in one
    of ``partitions`` gets exactly one defect, on a turn in 1..4 (every
    generated conversation has at least five turns), so defects never
    interact: each trips one rule on one row."""
    conv = F.col("conv_id")
    chosen = (F.pmod(F.xxhash64(F.lit(seed), conv), F.lit(1000)) < per_mille) & F.col("partition_id").isin(partitions)
    turn = 1 + F.pmod(F.xxhash64(F.lit(seed + 1), conv), F.lit(4))
    kind = F.element_at(
        F.array(*[F.lit(k) for k in DEFECT_KINDS]),
        (1 + F.pmod(F.xxhash64(F.lit(seed + 2), conv), F.lit(len(DEFECT_KINDS)))).cast("int"),
    )
    return F.when(chosen & (F.col("turn_idx") == turn), kind)


def _apply_defects(df):
    k = F.col("_defect")
    return (
        df.withColumn(
            "role",
            F.when(k == "enum", F.lit("operator")).when(k == "pattern", F.lit("tool")).otherwise(F.col("role")),
        )
        .withColumn("tool", F.when(k == "pattern", F.lit("Bad-Tool!")).otherwise(F.col("tool")))
        .withColumn("ts", F.when(k == "ordering", F.col("ts") - F.expr("INTERVAL 1 DAY")).otherwise(F.col("ts")))
    )


def write_transcripts(spark, path: str, seed: int, n_convs: int, cfg: dict, defect_partitions: list[int]) -> dict:
    """Write a transcripts table with hot conversations to ``path``, with
    defects only in ``defect_partitions``, and return what a correct
    validation must report, derived from the generator's own keys:
    ``rows_per_partition`` and ``violations_per_partition`` (partition id
    -> rule id -> count)."""
    from schema_enforcer_spark.synth import gen_transcripts

    gen = gen_transcripts(
        spark, n_convs=n_convs, seed=seed, hot_convs=n_convs * cfg["hot_conv_per_mille"] // 1000,
        hot_turns=cfg["hot_turns"], num_buckets=cfg["num_buckets"],
    )
    gen = _apply_defects(gen.withColumn("_defect", _defect_kind(seed, cfg["defect_conv_per_mille"], defect_partitions)))
    gen = gen.persist()
    try:
        gen.drop("_defect").write.mode("overwrite").parquet(path)
        summary = (
            gen.groupBy(F.col("partition_id").cast("string").alias("p"), "_defect")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    finally:
        gen.unpersist()
    rows: dict[str, int] = defaultdict(int)
    violations: dict[str, dict[str, int]] = defaultdict(dict)
    for r in summary:
        rows[r["p"]] += r["n"]
        if r["_defect"] is not None:
            violations[r["p"]][DEFECT_RULES[r["_defect"]]] = r["n"]
    return {"rows_per_partition": dict(rows), "violations_per_partition": dict(violations)}


def read_documents(path: str) -> dict:
    """The columns of a documents parquet file (doc_id, text, lang,
    source, n_chars). Doc ids must be 0..n-1, which the expectations use
    as list indexes."""
    import pyarrow.parquet as pq

    cols = pq.read_table(path).to_pydict()
    if cols["doc_id"] != list(range(len(cols["doc_id"]))):
        raise ValueError(f"{path}: doc_id is not 0..n-1 in order")
    return cols


def near_dup_pairs(texts: list[str], threshold: float = 0.8) -> list[tuple[int, int]]:
    """Exact all-pairs Jaccard >= threshold on distinct word 3-shingles,
    as (a_id, b_id) with a_id < b_id. A prefix-filtered set-similarity
    join: two sets at Jaccard >= t share a shingle among the first
    |S| - ceil(t*|S|) + 1 of each under one global order, so only those
    pairs are verified."""
    sets = []
    for t in texts:
        toks = t.lower().split()
        sets.append(set(zip(toks, toks[1:], toks[2:])) if len(toks) >= 3 else {(" ".join(toks),)})
    freq = Counter(s for st in sets for s in st)
    index: dict[tuple, list[int]] = defaultdict(list)
    pairs = []
    for i, st in enumerate(sets):
        prefix = sorted(st, key=lambda s: (freq[s], s))[: len(st) - math.ceil(threshold * len(st)) + 1]
        cands = set()
        for s in prefix:
            cands.update(index[s])
            index[s].append(i)
        for j in sorted(cands):
            inter = len(st & sets[j])
            if inter / (len(st) + len(sets[j]) - inter) >= threshold:
                pairs.append((j, i))
    return pairs


def dedup_expected(docs: dict) -> dict[str, list[dict]]:
    """Expected rows of q50 over the documents: near-dup groups are the
    connected components of the near-dup pairs, each kept by its min id."""
    pairs = near_dup_pairs(docs["text"])
    parent = list(range(len(docs["doc_id"])))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # the root is the component's min id
    kept: dict[str, list[int]] = defaultdict(list)
    for d in docs["doc_id"]:
        if find(d) == d:
            kept[docs["lang"][d]].append(d)
    return {
        "q50_dedup_materialize": [
            {"lang": lang, "n_kept": len(ids), "min_id": min(ids), "chars_kept": sum(docs["n_chars"][d] for d in ids)}
            for lang, ids in sorted(kept.items())
        ],
    }
