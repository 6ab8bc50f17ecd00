"""Text-analysis operators for large-scale training-data pipelines.

All hot-path functions are pure Catalyst column expressions (JVM-side,
whole-stage codegen); nothing here drops to per-row Python. Operates on the
``documents`` table shape (doc_id, text, lang, source, n_chars) but takes
plain Columns so it composes with any schema.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small multilingual stopword marker sets for the n-gram/stopword language
# heuristic. Deterministic, self-contained (public common-word lists).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "is", "of", "to", "and", "in"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "fr": ["le", "la", "et", "les", "des", "un"],
    "de": ["der", "die", "und", "das", "ein", "zu"],
    "zh": ["的", "是", "了", "在", "我", "不"],
}

EN_STOPWORDS = LANG_MARKERS["en"] + ["it", "for", "on", "with", "as", "at", "by"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array (not [''])."""
    return F.filter(F.split(text, r"\s+"), lambda t: F.length(t) > 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


_ASCII_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_JAVA_WS = " \t\n\x0b\x0c\r"  # exactly Java regex \s (ASCII, no Unicode flag)


def bpe_ish_token_count(text: Column) -> Column:
    """Cheap BPE-style proxy: count word pieces + punctuation runs under
    the segmentation "letter runs are one token; every digit and every
    other non-space char is its own token" — the common public
    approximation of tokenizer counts without shipping a vocab.

    r7 closed form, 9x faster than the original replace+split+filter
    (1.53 -> 0.17 s on the 50k-doc corpus, bit-identical incl. NULL/empty/
    unicode edges): the count equals
        #[A-Za-z]+ runs  +  #chars that are neither \\s nor A-Za-z
    because each such leftover char (digit or punct) became its own token.
    The char counts come from two `translate` deletions (no regex at all);
    only the cheap letter-run scan keeps a regex. The original's
    alternation-heavy `([^\\sA-Za-z0-9]|\\d)` replace built a doubled
    string per row and was the measured pathology. The translate alphabet
    for whitespace is exactly Java regex \\s (ASCII six — no Unicode
    class), so non-ASCII whitespace still counts as punct on both paths;
    oracle SQL keeps the original segmentation form and still matches."""
    n_letters = F.length(text) - F.length(F.translate(text, _ASCII_LETTERS, ""))
    n_ws = F.length(text) - F.length(F.translate(text, _JAVA_WS, ""))
    runs = F.regexp_count(text, F.lit(r"[A-Za-z]+"))
    return runs + (F.length(text) - n_ws - n_letters)


def stopword_count(text: Column, stopwords: list[str] | None = None) -> Column:
    words = stopwords or EN_STOPWORDS
    return F.size(F.filter(tokens(F.lower(text)), lambda t: t.isin(*words)))


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))


def lang_id(text: Column) -> Column:
    """Stopword-marker language heuristic: argmax marker count, 'und'
    (undetermined) when nothing matches; ties pick the earliest language in
    LANG_MARKERS order (what the old strictly-greater when-chain did).

    r7 rewrite, same output: the when-chain duplicated its `best` subtree
    at every level (2 references per step — the round-3 exponential-tree
    trap in miniature), re-running the per-language token filters up to
    2^4 times per row. Now ONE fold over the tokens accumulates all five
    marker counts (array_contains per language per token), and the argmax
    runs over the 5-element counts array bound as a HOF lambda variable —
    a real barrier, so the fold evaluates once per row."""
    toks = tokens(F.lower(text))
    langs = list(LANG_MARKERS)
    marker_sets = F.array(*[F.lit(LANG_MARKERS[lg]) for lg in langs])
    counts_arr = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), len(langs)),
        lambda acc, t: F.zip_with(
            acc, marker_sets, lambda a, ws: a + F.array_contains(ws, t).cast("int")
        ),
    )
    neg_idx = F.lit([-i for i in range(len(langs))])
    lang_lits = F.lit(langs)

    def pick(ca: Column) -> Column:
        best = F.array_max(
            F.zip_with(ca, neg_idx, lambda n, ni: F.struct(n.alias("n"), ni.alias("ni")))
        )
        return F.when(best["n"] > 0, F.element_at(lang_lits, 1 - best["ni"])).otherwise(
            F.lit("und")
        )

    return F.element_at(F.transform(F.array(counts_arr), pick), 1)


def normalize_key(col: Column) -> Column:
    """'-'→'_' join-key normalization — the reference's ansible_hostname /
    normal_hostname pair (/root/reference/tests/fixtures/test_validators/
    validators/check_peers.py:44-51) as one translate() expression, so
    'my-host' and 'my_host' compare equal in referential joins. Used by the
    referential rule's ``normalize_keys: true`` option."""
    return F.translate(col, "-", "_")


def fingerprint(text: Column, normalize: bool = True) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercased text.
    md5 (not xxhash64) so external SQL engines reproduce it bit-for-bit."""
    t = F.regexp_replace(F.lower(text), r"\s+", " ") if normalize else text
    return F.md5(F.trim(t))


# public, simple PII-ish surface patterns (counting only — redaction is a
# regexp_replace away); deliberately conservative/documented, not a claim of
# complete PII detection
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    "ssn_like": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII-surface match counts — pure regexp_count expressions."""
    return {kind: F.regexp_count(text, F.lit(pat)) for kind, pat in PII_PATTERNS.items()}


def word_ngrams(text: Column, n: int = 4) -> Column:
    """Word n-grams (with duplicates — repetition analysis needs the
    multiset); NULL for docs shorter than n tokens."""
    # token array bound as a HOF lambda variable — without this, `toks` in
    # the per-gram lambda re-runs split+filter once per gram (no CSE inside
    # HOF lambdas; see word_shingles — same fix, r7)
    def build(toks: Column) -> Column:
        cnt = F.size(toks)
        return F.when(
            cnt >= n,
            F.transform(
                F.sequence(F.lit(0), cnt - n),
                lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k + 1) for k in range(n)]),
            ),
        )

    return F.element_at(F.transform(F.array(tokens(F.lower(text))), build), 1)


def _ratio_of_grams(grams: Column) -> Column:
    total = F.size(grams)
    return F.when(
        grams.isNull() | (total <= 0), F.lit(0.0)
    ).otherwise(F.round(F.lit(1.0) - F.size(F.array_distinct(grams)) / total, 6))


def exploded_distinct_ngrams(df, text_col: str = "text", id_col: str = "doc_id", n: int = 4):
    """(id, gram) pairs — each doc's DISTINCT word n-grams, exploded. The
    shared first stage of corpus-level n-gram analyses (doc-frequency,
    boilerplate detection). Docs shorter than n tokens contribute no rows.
    One scan → one explode; no shuffle here (the caller's groupBy shuffles).
    """
    grams = F.array_distinct(F.coalesce(word_ngrams(F.col(text_col), n), F.array().cast("array<string>")))
    return df.select(F.col(id_col), F.explode(grams).alias("gram"))


def ngram_doc_freq(df, text_col: str = "text", id_col: str = "doc_id", n: int = 4):
    """Corpus document frequency per word n-gram: explode distinct grams →
    one shuffle on gram with map-side partial aggregation. The vocabulary
    pass behind boilerplate detection and contamination screens."""
    return exploded_distinct_ngrams(df, text_col, id_col, n).groupBy("gram").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )


def _exploded_distinct_gram_hashes(df, text_col: str, id_col: str, n: int):
    """(id, gram) pairs like exploded_distinct_ngrams, but each gram is the
    xxhash64 LONG of its n-token tuple — never the ~30-byte concat string
    (the minhash _shingle_hashes move, guide §2.3 narrower types). Tuple
    equality == string equality (tokens contain no whitespace), so distinct
    sets, doc frequencies and membership joins are identical w.h.p.
    (spurious collision ~n²/2⁻⁶⁴). For counting/membership consumers only
    (boilerplate_report) — anything that REPORTS gram text must stay on
    exploded_distinct_ngrams."""

    def build(toks: Column) -> Column:
        cnt = F.size(toks)
        return F.when(
            cnt >= n,
            F.transform(
                F.sequence(F.lit(0), cnt - n),
                lambda i: F.xxhash64(*[F.element_at(toks, i + k + 1) for k in range(n)]),
            ),
        )

    grams = F.element_at(F.transform(F.array(tokens(F.lower(F.col(text_col)))), build), 1)
    grams = F.array_distinct(F.coalesce(grams, F.array().cast("array<bigint>")))
    return df.select(F.col(id_col), F.explode(grams).alias("gram"))


def boilerplate_report(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    min_df: int = 5,
    max_broadcast_grams: int = 2_000_000,
):
    """Per-document boilerplate measurement (the CCNet/RefinedWeb-style
    frequent-fragment signal, n-gram grain): an n-gram is *boilerplate* when
    it appears in >= min_df distinct documents; each doc reports how much of
    it is made of such grams.

    Shape at scale: the distinct-gram explode is derived twice — once for
    the doc-frequency groupBy (shuffle on gram, partial agg) and once for
    the left broadcast-join of the frequent-gram set (deliberate: shingle
    derivation is cheap codegen; persisting the exploded table would cost
    more IO than recomputing it — same trade as word_shingles in minhash).
    Grams ride as xxhash64 longs, not strings (r7 —
    _exploded_distinct_gram_hashes): this output never shows gram text, so
    the doc-freq shuffle and the broadcast head shrink ~4x with identical
    counts w.h.p.; measured 1.37 -> 1.15 s on the 50k-doc corpus.
    Zipf guarantees df >= min_df keeps only a tiny head — that's the
    broadcast side; the assumption is ENFORCED, not just documented: the
    head is counted before broadcasting and a head larger than
    max_broadcast_grams raises loudly (mirroring the CC non-convergence
    raise) instead of silently shipping an executor-OOM-sized broadcast —
    the fix is raising min_df. The per-doc counts then groupBy the doc id
    (second shuffle, proportional to docs). No all-pairs work, nothing
    driver-side.

    Returns (id, n_grams, n_boilerplate, boilerplate_fraction); docs with
    fewer than n tokens report 0 grams / fraction 0.0.
    """
    from pyspark.sql import Observation

    grams = _exploded_distinct_gram_hashes(df, text_col, id_col, n)
    obs = Observation("boilerplate_head_count")
    frequent = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_df)
        .select("gram", F.lit(1).alias("_hit"))
        # the guard count rides the checkpoint's own materialization job
        # (Observation fires on localCheckpoint — the CC-loop trick), so
        # the head is aggregated ONCE with no second action; without the
        # checkpoint the broadcast join would re-run the corpus-wide gram
        # aggregation (the derived-table reuse trap)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    # the limit is a hard guard on broadcast size, ~16 bytes/hashed gram →
    # default ≈ 100 MB
    n_frequent = obs.get["n"]
    if n_frequent > max_broadcast_grams:
        raise RuntimeError(
            f"boilerplate_report: frequent-gram head has {n_frequent} grams "
            f"(> max_broadcast_grams={max_broadcast_grams}) — broadcasting it "
            "would blow executor memory. Raise min_df (the Zipf head should "
            "be tiny) or max_broadcast_grams if you know the head fits."
        )
    per_doc = (
        grams.join(F.broadcast(frequent), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_boilerplate"),
        )
    )
    ids = df.select(id_col)
    return (
        ids.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_boilerplate", F.lit(0)).alias("n_boilerplate"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                F.round(F.col("n_boilerplate") / F.col("n_grams"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("boilerplate_fraction"),
        )
    )


def top_terms(df, text_col: str = "text", id_col: str = "doc_id", k: int = 3):
    """Per-document distinguishing terms — the tf-idf ranking in its
    integer-deterministic form: rank a doc's terms by (tf DESC, corpus
    doc-frequency ASC, term ASC) and keep the top k. This is the ordering
    tf·idf induces when comparing terms within one document (idf is
    monotone-decreasing in doc_freq), without computing a float score —
    ln() differs in the last ulp across engines, ties at rounding
    boundaries would break oracle parity, and the integer ordering needs
    no tolerance argument at all.

    Shape: one explode → tf groupBy keyed on TERM → doc-freq as a WINDOWED
    count over the tf frame (one row per (id, term), so count(*) over the
    term partition IS document frequency) → per-doc window top-k. r7
    rewrites: (1) the earlier groupBy(term)+join-back derived the whole
    explode+tf subtree TWICE (no automatic exchange reuse — the
    `_cap_buckets` lesson); the window derives doc_freq in one pass.
    (2) the tf aggregation's exchange is keyed on `term` alone
    (HashPartitioning(term) satisfies the groupBy(id, term) clustering),
    so the doc_freq window REUSES that exchange instead of adding its own:
    2 exchanges total (term, then id for the top-k window) instead of 3 —
    measured 1.22 -> 0.93 s on the 50k-doc corpus with identical rows.
    Every shuffle is key-partitioned; no collects.
    """
    from pyspark.sql.window import Window

    terms = df.select(F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
    tf = terms.repartition("term").groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    wdf = Window.partitionBy("term")
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("doc_freq").asc(), F.col("term").asc()
    )
    return (
        tf.withColumn("doc_freq", F.count(F.lit(1)).over(wdf))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "rk", "term", "tf", "doc_freq")
    )


def with_repetition_ratio(df, text_col: str = "text", out_col: str = "rep_ratio", n: int = 4):
    """Fraction of duplicated word n-grams within each document — the
    standard intra-document repetition quality signal (high ⇒ boilerplate /
    looping generation): 1 - distinct_ngrams/total_ngrams, 0.0 for docs
    shorter than n tokens.

    Evaluates the n-gram transform ONCE per row: the grams array is
    materialized in an inner projection, and because the ratio references
    it 3× (size, array_distinct, null guard) CollapseProject keeps the two
    projections separate — a real projection barrier. A single-Column form
    re-evaluates the n-gram HOF 2-3× per row (Spark does no CSE across
    higher-order functions)."""
    staged = df.withColumn("_grams", word_ngrams(F.col(text_col), n))
    return staged.withColumn(out_col, _ratio_of_grams(F.col("_grams"))).drop("_grams")
