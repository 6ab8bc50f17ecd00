"""Training-data ops tests: exact dedup, MinHash+LSH recall vs exact
Jaccard, SimHash hamming, embedding near-dup, ANN top-k recall, text ops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from schema_enforcer_spark.functions import textops
from schema_enforcer_spark.functions.dedup import (
    exact_dedup,
    exact_dup_groups,
    minhash_near_dups,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dups,
    embedding_near_dups,
)
from schema_enforcer_spark.functions.similarity import brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "a completely different document about spark sql aggregation and shuffles",
        "language models need deduplicated training data at massive scale to work",
        "el rapido zorro marron salta sobre el perro perezoso cerca del rio",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i * 10, t))
        # near-dup: one word changed
        rows.append((i * 10 + 1, t.replace("the ", "one ", 1).replace("a ", "an ", 1)))
    rows.append((100, base[0]))  # exact dup of doc 0
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r for r in exact_dedup(docs).collect()}
    assert out[100]["keep_id"] == 0 and out[100]["is_duplicate"]
    assert out[0]["keep_id"] == 0 and not out[0]["is_duplicate"]
    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1 and groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 0


def test_minhash_recall_vs_exact(spark, docs):
    threshold = 0.5
    exact = {(r["a_id"], r["b_id"]) for r in ngram_jaccard_pairs(docs, n=3, threshold=threshold).collect()}
    approx = {(r["a_id"], r["b_id"]) for r in minhash_near_dups(docs, threshold=threshold, num_hashes=64, bands=16).collect()}
    assert exact, "fixture must contain near-dup pairs"
    # verified candidates are a subset of exact (no false positives post-verify)
    assert approx <= exact
    # banded LSH at r=4,b=16 has ~99.9% recall at s=0.5+
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"recall {recall} too low: exact={exact}, approx={approx}"


def test_incremental_index_matches_batch_vs_corpus(spark, docs, tmp_path):
    """build_minhash_index + match_against_index must find exactly the
    batch-vs-corpus pairs that exact all-pairs Jaccard finds (the banding
    recall argument from test_minhash_recall_vs_exact), emit NO
    corpus-vs-corpus pairs, and survive the write/read round-trip a stored
    index lives through."""
    from schema_enforcer_spark.functions.dedup import build_minhash_index, match_against_index

    corpus = docs.filter("doc_id % 10 != 1")
    batch = docs.filter("doc_id % 10 = 1")  # the one-word-changed variants
    idx_path = str(tmp_path / "minhash_index")
    build_minhash_index(corpus, num_hashes=64, bands=16).write.mode("overwrite").parquet(idx_path)
    index = spark.read.parquet(idx_path)

    # threshold 0.7: banded recall at s>=0.7 with b=16,r=4 is ~0.999 (at
    # the fixture's actual pair similarities 0.78-0.85 the fixed seed
    # catches every pair); at 0.5 the banding itself would miss ~35%
    got = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in match_against_index(
            batch, index, corpus, threshold=0.7, num_hashes=64, bands=16
        ).collect()
    }
    # oracle: exact all-pairs, restricted to batch-vs-corpus
    exact = {
        (r["a_id"], r["b_id"], r["jaccard"]) if r["a_id"] % 10 == 1 else (r["b_id"], r["a_id"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.7).collect()
        if (r["a_id"] % 10 == 1) != (r["b_id"] % 10 == 1)
    }
    assert exact, "fixture must contain batch-vs-corpus near-dup pairs"
    assert got == exact
    # every emitted pair is batch-on-the-left, corpus-on-the-right
    assert all(n % 10 == 1 and c % 10 != 1 for n, c, _ in got)


def test_simhash_near_dups(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sigs[0] == sigs[100]  # identical text → identical simhash
    pairs = {(r["a_id"], r["b_id"]): r["hamming"] for r in simhash_near_dups(docs, max_hamming=3).collect()}
    assert pairs[(0, 100)] == 0
    # EXACT vs brute-force popcount ground truth: the two-level pigeonhole
    # join must find every pair at distance <= 3 and nothing else
    ids = sorted(sigs)
    truth = {
        (a, b): bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
        for ai, a in enumerate(ids)
        for b in ids[ai + 1:]
        if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    assert pairs == truth
    # recall above max_hamming=3 is NOT pigeonhole-guaranteed: fail loud
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dups(docs, max_hamming=16).collect()


def test_simhash_two_level_exact_and_bounded(spark):
    """Two-level (chunk, sub-chunk) pigeonhole: exact vs brute force on
    synthetic signatures, AND bounded buckets on the adversarial corpus that
    blew up the single-level scheme (many docs sharing one 16-bit chunk)."""
    import random

    from schema_enforcer_spark.functions.dedup import (
        _simhash_chunk_keys,
        simhash_pairs_from_sigs,
    )

    rng = random.Random(7)
    mask = (1 << 64) - 1
    # 120 docs ALL sharing chunk 0 (low 16 bits) — one n-row bucket under the
    # old (chunk, val) scheme — with random high bits, plus planted near-pairs
    def signed(v):  # java long is signed
        return v - (1 << 64) if v >= (1 << 63) else v

    sigs = {}
    for i in range(120):
        sigs[i] = signed((rng.getrandbits(48) << 16) | 0xBEEF)
    for i in range(0, 40, 2):  # planted: flip <=3 bits of the even partner
        v = sigs[i]
        for b in rng.sample(range(64), rng.randint(0, 3)):
            v = signed((v ^ (1 << b)) & ((1 << 64) - 1))
        sigs[i + 1] = v
    df = spark.createDataFrame(list(sigs.items()), "_id long, simhash long")

    got = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in simhash_pairs_from_sigs(df, max_hamming=3).collect()
    }
    truth = {
        (a, b): bin((sigs[a] ^ sigs[b]) & mask).count("1")
        for a in sigs
        for b in sigs
        if a < b and bin((sigs[a] ^ sigs[b]) & mask).count("1") <= 3
    }
    assert got == truth and truth  # exact, and the fixture planted real pairs

    # boundedness: the shared-chunk bucket is split by sub-chunk values —
    # no (chunk, val, sub, subval) bucket anywhere near the 120-row corpus
    bucket_sizes = (
        _simhash_chunk_keys(df)
        .groupBy("chunk", "val", "sub", "subval")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    max_bucket = bucket_sizes.agg(F.max("n")).collect()[0][0]
    assert max_bucket <= 10, f"adversarial shared-chunk corpus not spread: {max_bucket}"

    # the cap is honored and lossy-by-design: max_bucket_size=0 drops all
    assert simhash_pairs_from_sigs(df, max_hamming=3, max_bucket_size=0).count() == 0


def test_embedding_near_dups_and_ann(spark):
    import math

    # deterministic vectors: 3 clusters + exact dup pair
    def vec(theta):
        return [math.cos(theta), math.sin(theta)] + [0.1] * 62

    rows = [(i, vec(0.001 * i)) for i in range(20)]  # tight cluster
    rows += [(100 + i, vec(2.0 + 0.001 * i)) for i in range(20)]  # far cluster
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    dups = embedding_near_dups(emb, threshold=0.999, dim=64, n_planes=6)
    got = {(r["a_id"], r["b_id"]) for r in dups.collect()}
    # within-cluster pairs only
    assert got and all((a < 100) == (b < 100) for a, b in got)

    q = vec(0.0)
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=5).collect()]
    assert exact[0] == 0  # identical vector wins
    approx = [r["vec_id"] for r in lsh_topk(emb, q, k=5, dim=64, n_planes=6).collect()]
    recall = len(set(exact) & set(approx)) / 5
    assert recall >= 0.6, f"ANN recall {recall}: exact={exact} approx={approx}"


def test_textops(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox! It runs."), (2, ""), (3, "der die und das ein zu haus")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            textops.token_count(F.col("text")).alias("n_tok"),
            textops.punct_count(F.col("text")).alias("n_punct"),
            textops.lang_id(F.col("text")).alias("lang"),
            textops.fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert out[1]["n_tok"] == 6
    assert out[1]["n_punct"] == 2  # '!' and '.'
    assert out[1]["lang"] == "en"
    assert out[2]["n_tok"] == 0
    assert out[3]["lang"] == "de"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "goodbye world")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in df.select("doc_id", textops.fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_ivf_ann(spark):
    import math

    def vec(theta):
        return [math.cos(theta), math.sin(theta)] + [0.1] * 62

    rows = [(i, vec(i * 0.02)) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(4)
    from schema_enforcer_spark.functions.similarity import ivf_build, ivf_topk, brute_force_topk

    assigned, centroids = ivf_build(emb, n_cells=8, dim=64, sample_fraction=0.5)
    assert assigned.select("_cell").distinct().count() <= 8
    q = vec(1.0)
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(assigned, centroids, q, k=10, nprobe=3).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.7, f"IVF recall {recall}: exact={exact} approx={approx}"
    # determinism: rebuilding gives the same assignment
    assigned2, centroids2 = ivf_build(emb, n_cells=8, dim=64, sample_fraction=0.5)
    assert centroids == centroids2


def test_minhash_permutations_are_independent(spark):
    """Regression: (a·h+b) without a modulus is monotonic in h, so every
    'permutation' picks the same argmin shingle — two sets at Jaccard 0.9
    then agree on ~0/K positions instead of ~0.9·K. With the mod-p fix the
    per-position agreement must estimate the true Jaccard. With one minhash
    per band, a band's bucket agrees exactly when its minhash does; a
    collapsed permutation family agrees on every band or on none, so the
    agreement must also stay below 1."""
    from schema_enforcer_spark.functions.dedup import _banded_buckets

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    b = a + " nu"  # adds one trailing shingle: Jaccard = 10/11 ≈ 0.91
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    sigs = {0: {}, 1: {}}
    for r in _banded_buckets(df, "text", "doc_id", 128, 128, 3, 42).collect():
        sigs[r["_id"]][r["band"]] = r["bucket"]
    assert len(sigs[0]) == len(sigs[1]) == 128
    agree = sum(1 for band, x in sigs[0].items() if sigs[1][band] == x) / 128
    assert 0.75 <= agree < 1.0, f"band agreement {agree} should estimate Jaccard ~0.91"


def test_lsh_bucket_cap_bounds_boilerplate(spark):
    """A boilerplate cluster (many identical docs) lands in one LSH bucket;
    max_bucket_size must drop it (bounded pair count) while normal near-dup
    pairs are still found."""
    from schema_enforcer_spark.functions.dedup import minhash_lsh_candidates

    boiler = [(1000 + i, "standard legal disclaimer text repeated verbatim in every crawl page footer") for i in range(40)]
    normal = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    ]
    df = spark.createDataFrame(boiler + normal, "doc_id long, text string")
    capped = minhash_lsh_candidates(df, max_bucket_size=10).collect()
    ids = {r["a_id"] for r in capped} | {r["b_id"] for r in capped}
    assert (0, 1) in {(r["a_id"], r["b_id"]) for r in capped}, "normal near-dup must survive the cap"
    assert not any(i >= 1000 for i in ids), "boilerplate bucket (40 > cap 10) must be dropped"
    uncapped = minhash_lsh_candidates(df, max_bucket_size=None).count()
    assert uncapped >= 40 * 39 / 2, "without a cap the boilerplate cluster emits O(b²) pairs"


def test_asof_join(spark):
    from schema_enforcer_spark.functions.joins import asof_join

    left = spark.createDataFrame(
        [("a", 5, 100), ("a", 10, 101), ("a", 2, 102), ("b", 7, 103)],
        "k string, t bigint, lid int",
    )
    right = spark.createDataFrame(
        [("a", 3, "r3"), ("a", 5, "r5"), ("a", 9, "r9"), ("c", 1, "rc")],
        "k string, rt bigint, payload string",
    )
    out = {
        r["lid"]: r["payload_asof"]
        for r in asof_join(left, right, on=["k"], left_time="t", right_time="rt").collect()
    }
    # 5 matches the equal-timestamp right row; 2 precedes everything; b has no rights
    assert out == {100: "r5", 101: "r9", 102: None, 103: None}


def test_range_join_bucketed(spark):
    from schema_enforcer_spark.functions.joins import range_join_bucketed

    points = spark.createDataFrame([(1, 5), (2, 25), (3, 99)], "pid int, x long")
    intervals = spark.createDataFrame(
        [(10, 0, 10), (11, 20, 40), (12, 0, 100)], "iid int, lo long, hi long"
    )
    out = {(r["pid"], r["iid"]) for r in range_join_bucketed(points, intervals, "x", "lo", "hi", bucket_width=16).collect()}
    assert out == {(1, 10), (1, 12), (2, 11), (2, 12), (3, 12)}
    # the plan must be an equi-join on the bucket, not a nested-loop join
    plan = range_join_bucketed(points, intervals, "x", "lo", "hi", 16)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_asof_join_carries_right_row_atomically(spark):
    """Regression: per-column last(ignorenulls) back-filled a NULL field of
    the newest right row from an older row, composing fields from different
    right rows — the payload must travel as one struct."""
    from schema_enforcer_spark.functions.joins import asof_join

    left = spark.createDataFrame([("u", 3, 1)], "k string, t bigint, lid int")
    right = spark.createDataFrame(
        [("u", 1, 10, 5), ("u", 2, 20, None)],
        "k string, rt bigint, price int, qty int",
    )
    row = asof_join(left, right, on=["k"], left_time="t", right_time="rt").collect()[0]
    assert row["price_asof"] == 20
    assert row["qty_asof"] is None, "qty must be the newest right row's NULL, not a stale 5"


def test_connected_components_vs_union_find(spark):
    from schema_enforcer_spark.functions.dedup import connected_components

    edges = [(1, 2), (2, 3), (5, 6), (7, 7), (3, 9), (10, 11), (11, 12), (12, 10)]
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {r["v"]: r["component"] for r in connected_components(df).collect()}

    # plain union-find oracle
    parent: dict[int, int] = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    expected = {v: find(v) for v in parent}
    assert got == expected
    # transitive chain 1-2-3-9 collapses to one component rooted at 1
    assert got[9] == 1 and got[3] == 1


def test_near_dup_groups_transitive(spark):
    """A~B and B~C near-dups must land in ONE group even when A~C is below
    threshold — the reason groups need connected components, not pairs."""
    from schema_enforcer_spark.functions.dedup import near_dup_groups

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    a = base
    b = base.replace("beta", "BETA2")             # ~0.85 vs a
    c = base.replace("beta", "BETA2").replace("mu", "MU2")  # ~0.85 vs b, lower vs a
    other = "completely different text about spark physical plans and shuffles here"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, other)], "doc_id long, text string"
    )
    out = {r["doc_id"]: (r["group_id"], r["is_duplicate"]) for r in near_dup_groups(df, threshold=0.6).collect()}
    assert out[1] == (1, False)
    assert out[2][0] == 1 and out[2][1]
    assert out[3][0] == 1 and out[3][1]
    assert out[9] == (9, False)


def test_hash_split_deterministic_and_stable(spark):
    from schema_enforcer_spark.functions.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    out = hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts["train"] / 2000 - 0.8) < 0.05
    assert set(counts) == {"train", "val", "test"}
    # stability: assignment is a pure function of the id — a subset of rows
    # keeps identical assignments (randomSplit does not guarantee this)
    sub = hash_split(df.filter("doc_id < 500"), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    full = {r["doc_id"]: r["split"] for r in out.filter("doc_id < 500").collect()}
    assert {r["doc_id"]: r["split"] for r in sub.collect()} == full


def test_pack_sequences_budget(spark):
    from schema_enforcer_spark.functions.sampling import pack_sequences

    rows = [(i, "s", 700) for i in range(10)]  # 700 tokens each, budget 2000
    df = spark.createDataFrame(rows, "doc_id long, shard string, n_tok long")
    out = pack_sequences(df, "n_tok", "shard", "doc_id", budget=2000)
    packs = {}
    for r in out.collect():
        packs.setdefault(r["pack_id"], []).append(r["doc_id"])
    # running-cumsum packing: docs 0,1,2 start below 2000 (0,700,1400) → pack 0
    assert packs[0] == [0, 1, 2]
    assert all(len(v) <= 3 for v in packs.values())


def test_pii_counts_and_redact(spark):
    df = spark.createDataFrame(
        [(1, "mail me at a.b@example.com or x@y.io, ssn 123-45-6789"), (2, "clean text")],
        "id long, text string",
    )
    c = textops.pii_counts(F.col("text"))
    out = {r["id"]: r for r in df.select("id", c["email"].alias("e"), c["ssn_like"].alias("s")).collect()}
    assert out[1]["e"] == 2 and out[1]["s"] == 1
    assert out[2]["e"] == 0 and out[2]["s"] == 0


def test_hash_split_boundary_and_validation(spark):
    from schema_enforcer_spark.functions.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(3000)], "doc_id long")
    # ten accumulated 0.1 fractions: float error must not shift boundary
    # buckets (int(0.7999999999.. * 10000) truncation bug)
    ten = {f"s{i}": 0.1 for i in range(10)}
    counts = {r["split"]: r["n"] for r in hash_split(df, "doc_id", ten).groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(abs(v / 3000 - 0.1) < 0.03 for v in counts.values()), counts
    import pytest
    with pytest.raises(ValueError, match="at least one"):
        hash_split(df, "doc_id", {})
    with pytest.raises(ValueError, match="> 1"):
        hash_split(df, "doc_id", {"a": 0.9, "b": 0.2})


def test_connected_components_nonconvergence_raises(spark):
    from schema_enforcer_spark.functions.dedup import connected_components
    import pytest

    chain = spark.createDataFrame([(i, i + 1) for i in range(10)], "a_id long, b_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)
    # and with enough rounds the same chain collapses to one component
    got = {r["v"]: r["component"] for r in connected_components(chain, max_iter=20).collect()}
    assert set(got.values()) == {0}


def test_connected_components_long_chain_log_rounds(spark):
    """Pointer jumping makes convergence O(log diameter): a diameter-40
    chain (which plain min-label propagation needs 40 rounds for) must
    converge in ≤ 8 rounds and label every vertex with the chain head."""
    from schema_enforcer_spark.functions.dedup import connected_components_with_rounds

    chain = spark.createDataFrame([(i, i + 1) for i in range(40)], "a_id long, b_id long")
    labels, rounds = connected_components_with_rounds(chain, max_iter=10)
    assert rounds <= 8, f"diameter-40 chain took {rounds} rounds (want O(log d))"
    got = {r["v"]: r["component"] for r in labels.collect()}
    assert set(got.values()) == {0}
    assert len(got) == 41


def test_lsh_topk_dim_mismatch_raises(spark):
    from schema_enforcer_spark.functions.similarity import lsh_topk

    df = spark.createDataFrame([(1, [0.0] * 128)], "vec_id long, embedding array<float>")
    import pytest
    with pytest.raises(ValueError, match="dims"):
        lsh_topk(df, [1.0] * 128, k=5, dim=64)


def test_contamination_scores(spark):
    from schema_enforcer_spark.functions.dedup import contamination_scores

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # full overlap
            (2, "quick brown fox spotted in the park yesterday"),  # partial ('quick brown fox')
            (3, "completely unrelated text about spark shuffles"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in contamination_scores(docs, bench).collect()}
    assert out[1]["n_shared_shingles"] == out[1]["n_shingles"] > 0
    assert 0 < out[2]["n_shared_shingles"] < out[2]["n_shingles"]
    assert out[3]["n_shared_shingles"] == 0


def test_ann_recall_on_clustered_embeddings(spark):
    """The shipped ANN configs must reach production-credible recall on
    clustered data (the realistic case — uniform-random embeddings are the
    adversarial floor, documented in BENCH/BASELINE.md): q19/q32's lsh_topk
    defaults and IVF at n_cells=n_clusters both >= 0.8 recall@20."""
    from schema_enforcer_spark.functions.similarity import ivf_build, ivf_topk
    from schema_enforcer_spark.synth import cluster_center, gen_clustered_embeddings

    emb = gen_clustered_embeddings(spark, 2000, dim=64, n_clusters=32).cache()
    q = cluster_center(7)
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=20).collect()}

    approx = {r["vec_id"] for r in lsh_topk(emb, q, k=20, n_planes=8, multiprobe=True).collect()}
    lsh_recall = len(exact & approx) / 20
    assert lsh_recall >= 0.8, f"lsh_topk recall {lsh_recall} on clustered corpus"

    assigned, cents = ivf_build(emb, n_cells=32)
    ivf = {r["vec_id"] for r in ivf_topk(assigned, cents, q, k=20, nprobe=4).collect()}
    ivf_recall = len(exact & ivf) / 20
    assert ivf_recall >= 0.8, f"ivf_topk recall {ivf_recall} on clustered corpus"
    emb.unpersist()


def test_connected_components_delta_frontier_reexpansion(spark):
    """Adversarial for DELTA propagation (r5): two chains bridged at their
    FAR ends — the global min must re-enter and sweep a region whose labels
    had already compressed (everything pointing at the region's local min),
    which only works if every label decrease re-joins the frontier.

    Known algorithm property (pre-dates delta; both variants behave the
    same): once a region is label-compressed into a star, a smaller min
    arriving over a bridge crawls the region edge-by-edge — pointer
    jumping can't shortcut because no intermediate pointers remain. The
    O(log d) round bound holds for the initial propagation (the LSH
    near-dup graphs the engine builds); max_iter raises loudly otherwise,
    never returning wrong labels. Sized here so the crawl finishes fast."""
    from schema_enforcer_spark.functions.dedup import connected_components_with_rounds

    edges = [(i, i + 1) for i in range(12)]            # chain 0..12  (min 0)
    edges += [(100 + i, 101 + i) for i in range(12)]   # chain 100..112 (min 100)
    edges += [(112, 12)]                               # bridge at the far ends
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    labels, rounds = connected_components_with_rounds(df, max_iter=25)
    got = {r["v"]: r["component"] for r in labels.collect()}
    assert set(got.values()) == {0}, "bridge did not propagate the global min"
    assert len(got) == 26
