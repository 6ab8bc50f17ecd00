"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB / 10^12 rows):
- Exact dedup is a hash-groupBy: one shuffle on the content hash; map-side
  partial aggregation collapses duplicates before the exchange.
- MinHash+LSH never compares all pairs: shingle → K minhashes (pure
  expressions over xxhash64 with per-permutation seeds) → B bands → shuffle
  on (band, band_hash) buckets → pairs emitted only within buckets, then
  exact-Jaccard verified. The only O(n²) work is within-bucket, which LSH
  keeps tiny.
- SimHash is pure Catalyst expressions (md5-nibble bit votes folded over
  the token array) — whole-stage codegen, zero Python, and ANSI-SQL
  replicable for the oracle gate.
- Embedding near-dup uses deterministic random-hyperplane LSH (seeded,
  driver-generated plane matrix broadcast as literals) then exact cosine
  within buckets.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from schema_enforcer_spark.functions.textops import tokens


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Assign each row to its duplicate group: (id, keep_id, group_size).
    keep_id = min id per content hash; a row is a duplicate iff id != keep_id.

    Shape: groupBy(hash) + join back, NOT a Window over the content hash —
    content hashes are ~unique at corpus scale, and WindowExec pays
    per-group buffer setup once per distinct hash (≈ once per row at 10^12
    docs). The groupBy gets map-side partial aggregation and the join back
    reuses the same hash partitioning, so both sides of the join share one
    exchange each with no per-group machinery."""
    hashed = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
    groups = hashed.groupBy("_h").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("group_size")
    )
    return hashed.join(groups, "_h").select(
        id_col, "keep_id", "group_size", (F.col(id_col) != F.col("keep_id")).alias("is_duplicate")
    )


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Only the duplicate groups: (content_hash, n_docs, keep_id)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def word_shingles(text: Column, n: int = 3) -> Column:
    """n-token shingles (distinct) as the MinHash universe.

    Call-site note (deliberate double derivation): minhash_near_dups and
    contamination_scores evaluate this twice per doc — once feeding the
    signature/explode and once for the verify/aggregate side. Unlike the
    repetition-ratio trap (three evaluations inside ONE projection), these
    are separate dataflow branches that each need the set itself, and the
    candidate side is filtered long before the verify join, so materializing
    shingles up front would shuffle the full shingle arrays instead of
    K-long signatures — strictly worse at scale."""
    # BIND the token array as a HOF lambda variable: expressions inside HOF
    # lambdas get no CSE, so a bare `toks` reference in the per-shingle
    # lambda re-runs split+filter ONCE PER SHINGLE (~50x per doc here —
    # r7 measurement: the dominant cost of the whole signature pipeline).
    # transform-over-one-element-array makes `toks` a bound variable,
    # evaluated once per row; element_at refs are then O(1) lookups.
    def build(toks: Column) -> Column:
        cnt = F.size(toks)
        return F.array_distinct(
            F.when(
                cnt >= n,
                F.transform(
                    F.sequence(F.lit(0), cnt - n),
                    lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k + 1) for k in range(n)]),
                ),
            ).otherwise(F.array(F.concat_ws(" ", toks)))
        )

    return F.element_at(F.transform(F.array(tokens(F.lower(text))), build), 1)


def _shingle_hashes(text: Column, n: int = 3, seed: int = 42) -> Column:
    """The shingle SET as distinct xxhash64 longs of the token n-tuples —
    the r7 hot-path representation of word_shingles (guide §2.3, narrower
    types). Never builds the ~20-byte concat string per shingle: the main
    branch hashes the n tokens as a tuple (tuple equality == string
    equality, since tokens contain no whitespace), the <n fallback hashes
    the joined remainder (string-distinct across docs exactly like
    word_shingles; a cross-branch hash collision — a full short doc vs an
    n-tuple — needs an xxhash64 collision, ~2^-64). Set cardinalities,
    intersections and unions therefore match word_shingles' w.h.p., so
    Jaccard values computed over these longs are identical to the string
    form's — asserted by the oracle gate (exact DuckDB all-pairs twins) and
    the v0-vs-hashed multiset diff run at adoption (0 diffs, sf0.01+sf0.1).
    The minhash/banding recall argument is the same as over the
    word_shingles strings (miss prob ~1e-23 at J=0.9 with 64 hashes / 32
    bands) but the dice are rolled differently: signatures differ from the
    ones hashing those strings would give, so candidate sets can differ in
    false positives only — the exact verify keeps every emitted result
    identical."""

    def build(toks: Column) -> Column:
        cnt = F.size(toks)
        return F.array_distinct(
            F.when(
                cnt >= n,
                F.transform(
                    F.sequence(F.lit(0), cnt - n),
                    lambda i: F.xxhash64(
                        F.lit(seed), *[F.element_at(toks, i + k + 1) for k in range(n)]
                    ),
                ),
            ).otherwise(F.array(F.xxhash64(F.lit(seed), F.concat_ws(" ", toks))))
        )

    return F.element_at(F.transform(F.array(tokens(F.lower(text))), build), 1)


# splitmix64-style constants for deriving the K universal-hash permutations
_MH_MULT = 0x9E3779B97F4A7C15
_MH_MIX = 0xBF58476D1CE4E5B9
# smallest prime > 2^32: the modulus that makes (a·h + b) mod p an actual
# permutation of the 32-bit hash space. Without the mod, a·h+b is MONOTONIC
# in h, so min() picks the same argmin shingle for every i and the K
# "permutations" collapse to one — two sets at Jaccard 0.9 can then agree on
# 0/K positions (observed on the sf0.01 corpus before the fix).
_MH_PRIME = 4294967311


def _perm_consts(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """(a_i odd 31-bit, b_i 32-bit) pairs: with 32-bit hash operands the
    products stay < 2^63, so ANSI-mode long arithmetic (Spark 4 default)
    never overflows, and a_i ∈ [1, 2^31) keeps (a·h + b) mod _MH_PRIME a
    permutation family."""
    out = []
    for i in range(num_hashes):
        a = (((2 * (seed + i) + 1) * _MH_MULT) & 0x7FFFFFFF) | 1
        b = ((seed + i) * _MH_MIX + 0x94D049BB133111EB) & 0xFFFFFFFF
        out.append((a, b))
    return out


def _banded_buckets(df, text_col, id_col, num_hashes, bands, shingle_n, seed) -> DataFrame:
    """(_id, band, bucket) rows: one LSH bucket assignment per band.

    Two r7 rewrites, same verified results:

    - Bucket value: ``xxhash64`` over the band's minhash LONGS directly —
      the previous string render (cast each minhash to string, concat_ws,
      hash the string) was ~60% of the whole signature pipeline's cost at
      sf1.0. Collisions ~n²/2⁶⁴ are absorbed by the exact verify.
    - Signature: the K minhashes are computed as K whole-stage-codegen MIN
      aggregates over the EXPLODED per-doc shingle-hash array
      (_shingle_hashes), replacing the interpreted aggregate+zip_with fold
      over string shingles — the same fold→codegen-agg move that won ~6x
      for the simhash votes (integer MIN is order-independent, so the
      signature values are exactly the fold's for the same hash inputs).
      Map-side partial aggregation keeps the added id-keyed exchange at
      |docs|×K longs — the same bytes the signature row carried anyway.
      The hash BASIS changed from xxhash64(shingle_string, seed) to
      xxhash64(seed, tok_1..tok_n) (see _shingle_hashes), so signature and
      bucket VALUES differ from earlier revisions: candidate sets are
      equal-recall re-rolls (banding miss prob ~1e-23 at J=0.9), false
      positives are dropped by the exact verify, and the adoption A/B
      measured 0 output diffs on sf0.01+sf0.1. Stored indexes from
      build_minhash_index must be REBUILT across this change (bucket
      values are, as documented, meaningless across parameterizations —
      and across engine versions)."""
    rows_per_band = num_hashes // bands
    consts = _perm_consts(num_hashes, seed)
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(_shingle_hashes(F.col(text_col), shingle_n, seed)).alias("_h"),
    ).select("_id", F.col("_h").bitwiseAND(F.lit(0xFFFFFFFF)).alias("_h"))
    sig = ex.groupBy("_id").agg(
        *[
            F.min(F.pmod(F.col("_h") * F.lit(a) + F.lit(b), F.lit(_MH_PRIME))).alias(f"_m{i}")
            for i, (a, b) in enumerate(consts)
        ]
    )
    buckets = F.array(
        *[
            F.xxhash64(
                *[F.col(f"_m{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
            for b in range(bands)
        ]
    )
    return sig.select("_id", F.posexplode(buckets).alias("band", "bucket"))


def _cap_buckets(banded: DataFrame, keys: list[str], max_bucket_size: int | None) -> DataFrame:
    """Drop LSH buckets larger than max_bucket_size BEFORE pair generation.

    Within-bucket pair emission is O(b²): one boilerplate-heavy bucket of
    10^5 rows at 100 TB would emit 10^10 pairs into a single task. Capping
    bounds the worst task at max_bucket_size² pairs. Implemented as a
    windowed count over the bucket key — ONE pass on the exact shuffle the
    downstream self-join needs (the sorted partitioning feeds straight into
    the sort-merge join on both sides), measured 3× faster end-to-end than
    the earlier count+join-back form, which re-derived the whole upstream
    signature pipeline for the counts branch. An oversized bucket still
    lands on one reducer (either form) and WindowExec spills it to disk
    while counting — but it is dropped before the O(b²) pair emission,
    which is the hazard the cap exists for. lsh_bucket_stats() shows the
    minhash bucket sizes the cap acts on — dropping is lossy by design, the
    cap should sit well above the true near-dup group size."""
    if max_bucket_size is None:
        return banded
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )


def _grouped_pairs(
    bucketed: DataFrame,
    keys: list[str],
    max_bucket_size: int | None,
    id_col: str = "_id",
    payload: list[str] | None = None,
) -> DataFrame:
    """Candidate pairs (a, b structs with ``id`` [+ payload fields], a.id <
    b.id) generated BUCKET-LOCALLY: groupBy(bucket keys) + collect_list +
    one pair-expansion projection + explode.

    Why not the a⨝b self-join: a self-join's two sides each evaluate the
    ENTIRE upstream pipeline (signature folds, vote folds, dot folds) —
    ReuseExchange does not deduplicate these subtrees (verified against the
    executed plan, r7), and localCheckpoint materialization cost more than
    it saved. Grouping consumes the pipeline ONCE with the same single
    shuffle the cap window needed anyway; the cap becomes an array-size
    filter (identical drop semantics to _cap_buckets), and within-bucket
    pair expansion is the same O(b²) work the join's per-key cross product
    did, bounded by the same cap. Rows are sorted by id inside each bucket
    so pair orientation (a.id < b.id) matches the join form exactly."""
    row = F.struct(F.col(id_col).alias("id"), *[F.col(c) for c in (payload or [])])
    grouped = bucketed.groupBy(*keys).agg(F.collect_list(row).alias("_rows"))
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("_rows") <= max_bucket_size)
    sorted_rows = grouped.filter(F.size("_rows") >= 2).select(
        F.array_sort("_rows").alias("_rows")
    )
    n = F.size("_rows")
    # two-step explode: first one row per (anchor, tail-slice), then explode
    # the tail — transient array sizes stay O(bucket_size), never O(b²)
    # (a single flattened pair array would hold cap² elements at the cap)
    anchors = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.struct(
            F.element_at(F.col("_rows"), i + 1).alias("a"),
            F.slice(F.col("_rows"), i + 2, n - i - 1).alias("rest"),
        ),
    )
    return (
        sorted_rows.select(F.explode(anchors).alias("s"))
        .select(F.col("s.a").alias("a"), F.explode("s.rest").alias("b"))
    )


def lsh_bucket_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 64, bands: int = 16, shingle_n: int = 3, seed: int = 42) -> DataFrame:
    """Bucket-size histogram (bucket_size, n_buckets) — the skew diagnostic
    for choosing max_bucket_size; run before a large dedup job."""
    banded = _banded_buckets(df, text_col, id_col, num_hashes, bands, shingle_n, seed)
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .orderBy("bucket_size")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (a_id < b_id) via banded LSH.

    rows/band-bucket is the shuffle key; buckets larger than
    max_bucket_size (boilerplate clusters) are dropped before pair
    expansion so no task ever materializes an unbounded pair blow-up.
    Pairs are generated bucket-locally (see _grouped_pairs) so the banded
    signature pipeline executes ONCE — the previous self-join evaluated it
    once per side."""
    banded = _banded_buckets(df, text_col, id_col, num_hashes, bands, shingle_n, seed)
    return (
        _grouped_pairs(banded, ["band", "bucket"], max_bucket_size)
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .dropDuplicates()
    )


def _jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard of two DISTINCT-element arrays. Precondition (held by
    every caller — shingle sets are array_distinct by construction):
    elements are unique, so |union| = |a| + |b| - |inter| and the second
    per-pair set build (array_union) is pure arithmetic — one hash-set
    pass per pair instead of two (r7, verified identical output)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(1.0))


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    **lsh_kwargs,
) -> DataFrame:
    """LSH candidates + exact n-gram-Jaccard verification ≥ threshold:
    (a_id, b_id, jaccard). The verify join broadcasts nothing — shingle sets
    travel with the candidate pair via the id joins (AQE broadcasts the
    candidate side when small). Buckets are capped at 5000 rows by default
    (override via max_bucket_size). A candidate-id semi-join prune of the
    shingle side was tried and REVERTED in r7: on near-dup-rich corpora
    ~90% of docs appear in some candidate pair, so the prune saved nothing
    and its extra scans + checkpoint barrier cost ~2s at sf1.0."""
    lsh_kwargs.setdefault("max_bucket_size", 5000)
    shingle_n = lsh_kwargs.get("shingle_n", 3)
    seed = lsh_kwargs.get("seed", 42)
    cands = minhash_lsh_candidates(df, text_col, id_col, **lsh_kwargs)
    # hashed shingle sets (longs, not ~20-byte strings) — identical Jaccard
    # values w.h.p. (_shingle_hashes docstring), smaller attach-join bytes,
    # cheaper intersect/union per pair
    sh = df.select(
        F.col(id_col).alias("_id"), _shingle_hashes(F.col(text_col), shingle_n, seed).alias("_sh")
    )
    verified = (
        cands.join(sh.withColumnsRenamed({"_id": "a_id", "_sh": "_sha"}), "a_id")
        .join(sh.withColumnsRenamed({"_id": "b_id", "_sh": "_shb"}), "b_id")
        .select("a_id", "b_id", F.round(_jaccard(F.col("_sha"), F.col("_shb")), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold — the small-data oracle for
    minhash_near_dups (O(n²); never run this at scale, that's what LSH is for)."""
    sh = df.select(F.col(id_col).alias("_id"), word_shingles(F.col(text_col), n).alias("_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("a_id"),
            F.col("b._id").alias("b_id"),
            F.round(_jaccard(F.col("a._sh"), F.col("b._sh")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs a stored MinHash index of the corpus
# ---------------------------------------------------------------------------
#
# The daily shape of corpus dedup at 100 TB is NOT corpus-vs-corpus — it is
# "dedup today's crawl against everything already ingested" without
# re-hashing the existing corpus. build_minhash_index materializes the
# banded LSH buckets once; match_against_index bands ONLY the new batch and
# equi-joins it against the stored index. The reference has no analogue
# (its validation is per-file, schema_enforcer/validation.py); this is the
# incremental twin of minhash_near_dups.


def build_minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(band, bucket, <id_col>) LSH index rows for the corpus.

    Write this ONCE, partitioned/bucketed by (band, bucket) — every later
    batch then sort-merge-joins its own banded signatures against it with
    no corpus re-scan and (if the store preserves bucketing) no index-side
    exchange. Rows are K-hash banded exactly like minhash_lsh_candidates,
    so build/match MUST agree on num_hashes/bands/shingle_n/seed — the
    bucket values are meaningless across parameterizations."""
    return _banded_buckets(df, text_col, id_col, num_hashes, bands, shingle_n, seed).select(
        "band", "bucket", F.col("_id").alias(id_col)
    )


def match_against_index(
    new_df: DataFrame,
    index: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket_size: int | None = 5000,
) -> DataFrame:
    """Near-dups of NEW docs against an indexed corpus:
    (new_id, corpus_id, jaccard ≥ threshold).

    Only the new batch is shingled/hashed/banded; the corpus contributes
    its pre-built index (band, bucket, id) and — for candidates only — its
    text for the exact-Jaccard verify. Plan at scale: batch-side signature
    is one scan + explode; the candidate join is an equi-join on
    (band, bucket) (sort-merge, or exchange-free on the index side when the
    stored index is bucketed); the verify joins hit the corpus doc store
    with the candidate id set, which AQE broadcasts when small — the corpus
    is then STREAMED (column-pruned to id+text), never shuffled. Index
    buckets above max_bucket_size (boilerplate clusters) are dropped before
    pair emission, same windowed cap and same lossy-by-design caveat as
    minhash_lsh_candidates."""
    banded_new = _banded_buckets(new_df, text_col, id_col, num_hashes, bands, shingle_n, seed)
    idx = _cap_buckets(
        index.select("band", "bucket", F.col(id_col).alias("_cid")),
        ["band", "bucket"],
        max_bucket_size,
    )
    cands = (
        # merge hint: the static planner broadcast the CAPPED INDEX side
        # here (building + shipping the whole index pipeline's output); as
        # a sort-merge join the cap window's (band, bucket) partitioning
        # and sort are reused and only the (small) batch side shuffles.
        banded_new.join(idx.hint("merge"), ["band", "bucket"])
        .filter(F.col("_id") != F.col("_cid"))  # overlap safety: a doc indexed AND re-submitted is not its own dup
        .select(F.col("_id").alias("new_id"), F.col("_cid").alias("corpus_id"))
        .dropDuplicates()
    )
    sh_new = new_df.select(
        F.col(id_col).alias("new_id"), _shingle_hashes(F.col(text_col), shingle_n, seed).alias("_shn")
    )
    sh_cor = corpus_df.select(
        F.col(id_col).alias("corpus_id"), _shingle_hashes(F.col(text_col), shingle_n, seed).alias("_shc")
    )
    return (
        cands.join(sh_new, "new_id")
        .join(sh_cor, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            F.round(_jaccard(F.col("_shn"), F.col("_shc")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash (pure Catalyst expressions — zero Python in the hot path)
# ---------------------------------------------------------------------------
#
# Spec (engine-independent, so an ANSI-SQL oracle can replicate it):
# token hash = first 16 hex chars of md5(token) → 64 bits, where bit
# k (0..63) = (hexdigit[k div 4] >> (k mod 4)) & 1. Per-document votes are
# the frequency-weighted sum of (2·bit − 1) over all whitespace tokens of
# lower(text); simhash bit k is set iff votes[k] > 0. The earlier
# implementation hashed per-token in a pandas UDF (blake2b) — correct but
# Python-bound (~17 s for 500k docs); this one is whole-stage codegen.

def _simhash_sums(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, _votes array<int>): the frequency-weighted vote vector, computed
    as explode_outer(tokens) → per-token 32-bit halves → 64 conditional SUM
    aggregates in whole-stage codegen, grouped back by id.

    Bit extraction (same spec/same output as ever): the spec's bit k =
    (hexdigit[k div 4] >> (k mod 4)) & 1 is exactly bit k of the REVERSED
    16-hex-char md5 prefix read as a number (hexdigit[0] in the lowest
    nibble, LSB-first within each nibble); two 8-char convs give 32-bit
    halves (a 16-char conv would overflow the ANSI long cast).

    Why explode + groupBy instead of a per-row fold (r7): the interpreted
    HOF fold boxed every per-token, per-bit update (~64·|tokens| allocs per
    doc); 64 plain SUM aggregates run in codegen with map-side combine, so
    the exchange carries |docs|·64 ints, and integer sums are
    order-independent — votes are bit-identical (asserted). explode_OUTER:
    a token-less doc keeps one NULL row voting 0 everywhere, preserving
    the fold's simhash=0 for empty/NULL text."""
    toks = tokens(F.lower(F.col(text_col)))
    h = F.substring(F.md5("_tok"), 1, 16)
    staged = df.select(F.col(id_col), F.explode_outer(toks).alias("_tok")).select(
        id_col,
        F.col("_tok").isNull().alias("_nul"),
        F.conv(F.reverse(F.substring(h, 1, 8)), 16, 10).cast("long").alias("_lo"),
        F.conv(F.reverse(F.substring(h, 9, 8)), 16, 10).cast("long").alias("_hi"),
    )
    aggs = []
    for k in range(64):
        half = F.col("_hi") if k >= 32 else F.col("_lo")
        bit = half.bitwiseAND(F.lit(1 << (k % 32))) != 0
        vote = F.when(F.col("_nul"), 0).otherwise(F.when(bit, 1).otherwise(-1))
        aggs.append(F.sum(vote).cast("int").alias(f"_v{k}"))
    wide = staged.groupBy(id_col).agg(*aggs)
    return wide.select(
        F.col(id_col), F.array(*[F.col(f"_v{k}") for k in range(64)]).alias("_votes")
    )


def _votes_to_long(votes: Column) -> Column:
    # distinct powers of two sum exactly into a signed long (bit 63 is the
    # sign bit: its power is Long.MIN_VALUE, and adding it to the ≥0 partial
    # sum of bits 0..62 cannot overflow)
    powers = F.lit([(1 << k) if k < 63 else -(1 << 63) for k in range(64)])
    return F.aggregate(
        F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def _votes_to_hex(votes: Column) -> Column:
    # Rendering convention: char n = bits 4n..4n+3 (nibble-LITTLE-endian —
    # what every simhash oracle SQL replicates). That is exactly the
    # reversed big-endian hex of the long signature, so build it from
    # _votes_to_long: ONE reference to the votes fold. The previous direct
    # rendering referenced votes 64 times (16 nibbles x 4 bits) and —
    # HOF-bearing expressions get no common-subexpression elimination —
    # re-ran the whole per-token vote aggregation 64x per row (measured
    # 2.4 s vs 0.6 s on 5k docs). lpad matters: F.hex drops leading zeros.
    return F.reverse(F.lower(F.lpad(F.hex(_votes_to_long(votes)), 16, "0")))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash long) — pure expressions, no UDF (see _simhash_sums)."""
    return _simhash_sums(df, text_col, id_col).select(
        F.col(id_col), _votes_to_long(F.col("_votes")).alias("simhash")
    )


def simhash_hex(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash_hex 16-char string) — the oracle-friendly rendering (a
    64-bit value with bit 63 set can't round-trip through engines that
    check shift overflow)."""
    return _simhash_sums(df, text_col, id_col).select(
        F.col(id_col), _votes_to_hex(F.col("_votes")).alias("simhash_hex")
    )


def _simhash_chunk_keys(sigs: DataFrame) -> DataFrame:
    """Two-level pigeonhole keys for a (_id, simhash) frame: 16 rows per doc,
    one per (chunk, val, sub, subval).

    Level 1: the 64-bit simhash splits into 4×16-bit chunks — a pair at
    hamming ≤ 3 agrees EXACTLY on ≥1 chunk (4 buckets, ≤3 differing bits).
    Level 2: within a matching chunk, the pair's remaining 48 bits also
    differ by ≤3, so splitting THOSE into 4×12-bit sub-chunks pigeonholes
    again — ≥1 sub-chunk agrees. Joining on (chunk, val, sub, subval) is
    therefore still LOSSLESS for max_hamming ≤ 3, but the bucket key space
    grows from 2^16 to ~2^30 (4·4·2^28): the single-level scheme's
    n/65k-rows-per-bucket blow-up at 10^9+ docs (the round-3 scale hazard)
    becomes n/2^28 per bucket — a uniform corpus of 10^12 docs averages
    ~4k rows/bucket instead of ~15M. Cost: explode factor 16 instead of 4
    on ~40-byte rows; the join itself is the same shuffled equi-join.
    """
    # the 48-bit complement of chunk i: low 16i bits | high bits shifted
    # down by 16 — both non-negative, result < 2^48 so plain long math.
    # JVM shifts are mod 64, so the i=3 "high" term (a shift by 64) must be
    # written as a pure mask, not shiftrightunsigned(x, 64) (a no-op).
    low = lambda i: F.col("simhash").bitwiseAND(F.lit((1 << (16 * i)) - 1))
    rem_bits = [
        F.shiftrightunsigned("simhash", 16),  # i=0: bits 16..63
        low(1).bitwiseOR(F.shiftleft(F.shiftrightunsigned("simhash", 32), 16)),
        low(2).bitwiseOR(F.shiftleft(F.shiftrightunsigned("simhash", 48), 32)),
        low(3),  # i=3: bits 0..47
    ]
    keys = [
        F.struct(
            F.lit(i).alias("chunk"),
            F.shiftrightunsigned("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("val"),
            F.lit(j).alias("sub"),
            F.shiftrightunsigned(rem_bits[i], 12 * j).bitwiseAND(F.lit(0xFFF)).alias("subval"),
        )
        for i in range(4)
        for j in range(4)
    ]
    return sigs.select("_id", "simhash", F.explode(F.array(*keys)).alias("c")).select(
        "_id", "simhash", "c.chunk", "c.val", "c.sub", "c.subval"
    )


_SIMHASH_KEYS = ["chunk", "val", "sub", "subval"]


def simhash_pairs_from_sigs(
    sigs: DataFrame, max_hamming: int = 3, max_bucket_size: int | None = None
) -> DataFrame:
    """(a_id, b_id, hamming ≤ max_hamming) pairs from a (_id, simhash long)
    frame via the two-level pigeonhole join (see _simhash_chunk_keys —
    lossless for max_hamming ≤ 3). Buckets larger than max_bucket_size are
    dropped BEFORE pair emission (same _cap_buckets as minhash/embedding
    LSH) so no task ever materializes an unbounded O(b²) pair set; dropping
    is lossy by design."""
    if max_hamming > 3:
        raise ValueError(
            f"simhash pigeonhole bucketing guarantees recall only for "
            f"max_hamming <= 3 (4 chunks / 4 sub-chunks), got {max_hamming}"
        )
    # bucket-local pair expansion (see _grouped_pairs): the votes-fold
    # pipeline executes ONCE — the previous self-join evaluated it once per
    # side (ReuseExchange never fired for these subtrees)
    pairs = _grouped_pairs(
        _simhash_chunk_keys(sigs), _SIMHASH_KEYS, max_bucket_size, payload=["simhash"]
    )
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        pairs.select(
            F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"), hamming.alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a_id", "b_id"])
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = 5000,
) -> DataFrame:
    """Near-dups by simhash hamming distance ≤ max_hamming via the exact
    two-level pigeonhole join (chunk + sub-chunk — see _simhash_chunk_keys).
    Buckets are capped at 5000 rows by default (minhash precedent): a bucket
    that large means ≥5000 docs agreeing on the same 28 signature bits —
    run exact_dedup first before raising the cap. At the test corpora
    (≤ corpus size 5000) the cap never fires, so results equal the exact
    all-pairs oracle."""
    sigs = simhash(df, text_col, id_col).withColumnsRenamed({id_col: "_id"})
    return simhash_pairs_from_sigs(sigs, max_hamming, max_bucket_size)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (deterministic hyperplane LSH)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes from a seeded LCG —
    driver-side tiny matrix, broadcast into the plan as literals."""
    state = seed * 6364136223846793005 + 1442695040888963407
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            v.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def _multi_dots(vec: Column, planes: list[list[float]]) -> Column:
    """ALL |planes| dot products in ONE traversal of ``vec`` (array<double>,
    one element per plane). A per-plane zip_with+aggregate dot walks the
    vector once per plane, allocating a zip_with pair array each time — 8
    planes = 8 interpreted passes per row (r7 measurement: the dominant cost
    of LSH bucketing). Here one zip_with pairs each vector element with its
    column of the TRANSPOSED plane matrix and one aggregate folds a
    |planes|-wide accumulator. HOFs stay interpreted on purpose: unrolling
    the dots to multiply-add chains makes janino's recursive codegen
    compiler fail at n_planes×dim scale. Each per-plane sum is left-assoc in
    dim order from 0.0 — the order every oracle replica of the sign pattern
    assumes."""
    dim = len(planes[0])
    coeffs = F.array(
        *[F.lit([float(p[d]) for p in planes]) for d in range(dim)]
    )  # dim py4j calls total (one per transposed row), not dim x planes
    init = F.array_repeat(F.lit(0.0), len(planes))
    paired = F.zip_with(
        vec, coeffs, lambda x, row: F.struct(x.cast("double").alias("x"), row.alias("r"))
    )
    return F.aggregate(
        paired,
        init,
        lambda acc, e: F.zip_with(acc, e["r"], lambda a, c: a + e["x"] * c),
    )


def _bits_from_dots(dots: Column, n_planes: int) -> Column:
    """'1'/'0' sign string of a dots array — the LSH bucket id."""
    return F.concat(
        *[
            F.when(F.element_at(dots, j + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(n_planes)
        ]
    )


def cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, v: s + v.cast("double") * v.cast("double")))
    return dot / (na * nb)


def embedding_lsh_buckets(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id", n_planes: int = 12, dim: int = 64, seed: int = 42) -> DataFrame:
    """(id, vec, bucket): one-pass multi-plane dots (see _multi_dots),
    staged so the bucket string's n_planes sign tests reference the
    MATERIALIZED dots column instead of re-running the fold per plane."""
    planes = _hyperplanes(dim, n_planes, seed)
    staged = df.select(
        F.col(id_col), F.col(vec_col), _multi_dots(F.col(vec_col), planes).alias("_dots")
    )
    return staged.select(
        F.col(id_col), F.col(vec_col), _bits_from_dots(F.col("_dots"), n_planes).alias("bucket")
    )


def _norm(vec: Column) -> Column:
    # identical expression to the na/nb legs of cosine() — same fold order,
    # same bits — just evaluated once per ROW instead of once per PAIR
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda s, v: s + v.cast("double") * v.cast("double")))


def embedding_near_dups(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id", threshold: float = 0.95, n_planes: int = 12, dim: int = 64, seed: int = 42, max_bucket_size: int | None = 5000) -> DataFrame:
    """Cosine ≥ threshold pairs via hyperplane-bucket join + exact verify.
    max_bucket_size bounds within-bucket pair blow-up exactly like the
    minhash path (see _cap_buckets).

    The per-pair verify computes only the DOT product: each side's L2 norm
    is row-level, so it is computed once before the bucket shuffle and
    carried through the self-join — 1 interpreted fold per pair instead of
    3 (r7: the pair verify dominated this operator). cosine bits are
    unchanged (same fold expressions, same division/round)."""
    # Decide pairs with LIGHT rows, attach the heavy payload once (guide §8
    # shape): the bucket pipeline runs ONCE over (id, bucket) only — the
    # vector never rides the pair expansion (a payload-carrying grouped
    # expansion and a vector-carrying self-join both measured slower, r7
    # A/Bs) — then two equi-joins attach (vector, norm) from a scan-side
    # payload frame whose only computed column is the norm fold. AQE
    # broadcasts the payload when it is small and shuffles otherwise.
    ids = embedding_lsh_buckets(df, vec_col, id_col, n_planes, dim, seed).select(
        F.col(id_col), "bucket"
    )
    pairs = _grouped_pairs(ids, ["bucket"], max_bucket_size, id_col=id_col).select(
        F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id")
    )
    payload = df.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_nrm")
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("_va"), F.col("_vb"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    return (
        pairs.join(
            payload.withColumnsRenamed({id_col: "a_id", vec_col: "_va", "_nrm": "_na"}), "a_id"
        )
        .join(
            payload.withColumnsRenamed({id_col: "b_id", vec_col: "_vb", "_nrm": "_nb"}), "b_id"
        )
        .select(
            "a_id",
            "b_id",
            F.round(dot / (F.col("_na") * F.col("_nb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Near-dup groups: connected components over the candidate-pair graph
# ---------------------------------------------------------------------------


def connected_components_with_rounds(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 20,
) -> tuple[DataFrame, int]:
    """(labels, rounds): (vertex, component) for the undirected graph given
    as pair rows — component = min vertex id reachable — plus the number of
    rounds it took. Pipelines need dup GROUPS, not pairs: transitive
    near-dups (A~B, B~C) must collapse to one keeper.

    Min-label propagation WITH pointer jumping: each round (1) joins the
    current labels across the (bidirectional) edge list and takes the
    per-vertex min, then (2) chases one hop of the label table itself
    (component ids are vertex ids, so label(label(v)) is valid and ≤
    label(v)) — the pointer-jump halves the remaining chain length, so
    convergence is O(log diameter) rounds instead of O(diameter): a
    40-long chain converges in ~6 rounds, shallow near-dup clusters in 2-3.
    Caveat: the log bound is for the initial sweep; a smaller min entering
    an ALREADY-compressed region (e.g. two long chains bridged at their far
    ends) crawls that region edge-by-edge, because compression leaves no
    intermediate pointers to jump through. LSH near-dup graphs (small
    bucket-local cliques) never hit this; max_iter raises loudly if a
    pathological topology does.
    Per round: one frontier⨝edges join (edge side pre-partitioned, no
    exchange) + one labels-sized left join + one labels-sized pointer
    join. DELTA propagation: only last round's decreased labels send
    messages, so the per-round message volume collapses with the frontier
    instead of staying 2|E|. Lineage is cut with localCheckpoint each
    round so the plan doesn't grow. Convergence = empty frontier (no
    label decreased), read from an Observation riding each round's own
    checkpoint job — no per-round probe job."""
    spark = pairs.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # AQE must be off from the edge materialization through the LOOP: its
    # non-final-plan checkpoint capture downgrades the stored partitioning
    # to Unknown and the 2|E| edge-side exchange comes back every round
    # (verified via explain) — that re-shuffle was the dominant N→4N
    # scaling cost on 10^7-edge graphs. AQE gives this fixed-partition,
    # map-side-combined loop nothing in exchange (skewed hot keys are
    # degree-bounded per-partition rows).
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    shuf_before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # Materialize the edge list ONCE, already pre-partitioned by src
        # (AQE off ⇒ localCheckpoint's LogicalRDD keeps outputPartitioning)
        # so the per-round SortMergeJoin reuses it and only the labels side
        # shuffles; without this checkpoint every iteration (and every
        # convergence probe) would re-execute the whole upstream
        # pair-generation pipeline — minhash signatures, LSH buckets,
        # Jaccard verify. The edge count rides the checkpoint's own
        # materialization job (same Observation trick as the loop's
        # convergence probe).
        e_obs = Observation("cc_edge_count")
        edges = (
            pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
            .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
            .dropDuplicates()
            .repartition(n_shuffle, "src")
            .observe(e_obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        # Loop-shuffle sizing is DATA-adaptive (guide §2: derive
        # partitioning from input size, not a constant): AQE is off, so
        # nothing coalesces the per-round shuffles — on a near-dup graph of
        # a few hundred edges every round would otherwise run ~5 shuffle
        # stages of n_shuffle near-empty tasks each. Size at ~100k edge
        # rows per partition, capped at the session setting: big graphs
        # (SCALE_CC's 10^7 edges) keep the checkpoint exactly as built
        # (full parallelism, no second pass), tiny ones coalesce — a
        # narrow op on the materialized checkpoint (no extra job), and
        # SinglePartition satisfies every join distribution so the
        # per-round edge-side exchange stays gone.
        n_edges = e_obs.get["n"]
        n_loop = max(1, min(n_shuffle, (n_edges + 99_999) // 100_000))
        if n_loop == 1:
            edges = edges.coalesce(1)
            spark.conf.set("spark.sql.shuffle.partitions", "1")
        elif n_loop < n_shuffle:
            # mid-size graphs: shrink the loop's shuffles; one cheap extra
            # pass over the (small by definition) materialized edges
            spark.conf.set("spark.sql.shuffle.partitions", str(n_loop))
            edges = edges.repartition(n_loop, "src").localCheckpoint()
        return _cc_loop(edges, n_loop, max_iter)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        spark.conf.set("spark.sql.shuffle.partitions", shuf_before)


def _cc_loop(edges: DataFrame, n_loop: int, max_iter: int) -> tuple[DataFrame, int]:
    labels = (
        edges.select(F.col("src").alias("v"))
        .dropDuplicates()
        .withColumn("component", F.col("v"))
    )
    if n_loop > 1:
        # On a single-partition loop the seed dedup fuses into round 1's
        # own job (both reads — inc via `changed` and the cand join — are
        # narrow over the materialized edges), so the checkpoint's job
        # barrier buys nothing. Big graphs keep it: each un-checkpointed
        # read re-shuffles 2|E| rows.
        labels = labels.localCheckpoint()
    # DELTA propagation: only vertices whose label DECREASED last round send
    # messages (round 1: everyone). A min label travels by strictly
    # decreasing the labels along its path, so every hop re-enters the
    # frontier — identical fixpoint to full re-send, but rounds after the
    # first touch only the shrinking frontier instead of all 2|E| messages
    # (on converging near-dup graphs the frontier collapses fast).
    # Convergence = empty frontier (no label decreased), read from an
    # Observation riding the round's own checkpoint job — zero extra jobs
    # and no post-hoc scan of the round output (the old limit(1) probe was
    # one full job barrier per round; verified: Observation metrics DO fire
    # on localCheckpoint's internal action).
    changed = labels
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # (1) labels incoming from frontier neighbors → per-vertex min;
        # edges side reuses its stored partitioning (no exchange)
        inc = (
            edges.join(changed.withColumnRenamed("v", "src"), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min("component").alias("_inc"))
        )
        cand = labels.join(inc, "v", "left").select(
            "v",
            F.col("component").alias("_old"),
            F.least(F.col("component"), F.coalesce(F.col("_inc"), F.col("component"))).alias("_m"),
        )
        # (2) pointer jump: component ids are themselves vertex ids — chase
        # one hop through the PREVIOUS round's (checkpointed) label table.
        # Jumping through `labels` rather than the fresh mins avoids a
        # self-join of the union+agg plan (which trips Catalyst's Union
        # constraint rewriting) and costs nothing: reach still doubles per
        # round (label_old(label_prop(v)) covers ~2r+1 hops). Left join: a
        # fully-compressed label may point at a root absent from the keys.
        # Round 1 skips the jump: labels is still the identity seed
        # (component == v), so chasing _m through it returns _m unchanged —
        # the join is provably a no-op and costs two shuffles.
        if rounds == 1:
            jumped = cand.select("v", "_old", F.col("_m").alias("component"))
        else:
            ptr = labels.select(F.col("v").alias("_pv"), F.col("component").alias("_pc"))
            jumped = cand.join(ptr, cand["_m"] == ptr["_pv"], "left").select(
                cand["v"],
                cand["_old"],
                F.least(cand["_m"], F.coalesce(ptr["_pc"], cand["_m"])).alias("component"),
            )
        obs = Observation(f"cc_round_{rounds}")
        round_out = jumped.observe(
            obs, F.sum((F.col("component") < F.col("_old")).cast("long")).alias("n_changed")
        ).localCheckpoint()
        labels = round_out.select("v", "component")
        changed = round_out.filter(F.col("component") < F.col("_old")).select("v", "component")
        if not (obs.get.get("n_changed") or 0):  # None on an empty frame
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds — the graph has a component with a longer propagation "
            "distance; raise max_iter (labels would otherwise be silently wrong)"
        )
    return labels, rounds


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 20,
) -> DataFrame:
    """See connected_components_with_rounds — this is the labels-only form."""
    labels, _ = connected_components_with_rounds(pairs, a_col, b_col, max_iter)
    return labels


def near_dup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end near-dup grouping: MinHash+LSH pairs → connected
    components → (doc_id, group_id, keep_id, is_duplicate). Docs with no
    near-dup edge keep their own id as the group. keep_id == group_id (the
    min id per component — the deterministic keeper)."""
    pairs = minhash_near_dups(df, text_col, id_col, threshold=threshold, **lsh_kwargs)
    comp = connected_components(pairs)
    out = (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("v", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("group_id"),
        )
        .withColumn("keep_id", F.col("group_id"))
        .withColumn("is_duplicate", F.col(id_col) != F.col("group_id"))
    )
    return out


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def contamination_scores(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document count of DISTINCT shingles shared with a benchmark set —
    the n-gram-overlap decontamination check training pipelines run before
    a corpus ships (a doc overlapping an eval benchmark leaks test data).

    Shape: the benchmark's distinct shingle set is dim-sized (benchmarks are
    thousands of documents, corpora are billions), so the join broadcasts;
    the corpus side explodes shingles once and aggregates back per doc —
    one broadcast join + one shuffle on doc id. Returns
    (id, n_shared_shingles, n_shingles) — callers threshold or ratio it.
    """
    bench_shingles = (
        benchmark.select(F.explode(word_shingles(F.col(text_col), shingle_n)).alias("_sh"))
        .dropDuplicates()
        .withColumn("_hit", F.lit(1))
    )
    # ONE corpus pass: explode once (word_shingles is already distinct per
    # doc, and never empty — the <n-token branch yields one element — so
    # every doc survives the groupBy), broadcast LEFT join marks hits, one
    # aggregation produces both counts. No second scan, no join-back.
    exploded = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("_sh"),
    )
    return (
        exploded.join(F.broadcast(bench_shingles), "_sh", "left")
        .groupBy(id_col)
        .agg(
            F.count("_hit").alias("n_shared_shingles"),
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
        )
    )
