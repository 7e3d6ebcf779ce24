"""Text-analysis operators over a documents corpus (extension
surface): language ID, quality scoring, token stats, fingerprints.

Thin DataFrame-level compositions of functions/text.py — each is one
narrow projection + (optionally) one aggregation, so the 100 TB cost
is a single columnar scan; nothing here shuffles except the final
small group-bys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import lifecycle
from .partitioning import spread_small_input
from ..functions.text import (
    fingerprint_md5,
    language_id,
    quality_features,
    rolling_hash64,
    token_count,
    word_tokens,
)


def doc_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document feature row: tokens, quality signals, language
    guess, fingerprints. The standard pre-training corpus profile."""
    feats = quality_features(F.col(text_col))
    return spread_small_input(df).select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("n_tokens"),
        feats["n_chars"].alias("n_chars"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["mean_word_len"].alias("mean_word_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        language_id(F.col(text_col)).alias("lang_guess"),
        fingerprint_md5(F.col(text_col)).alias("fp_md5"),
        rolling_hash64(F.col(text_col)).alias("fp_roll64"),
    )


# THE portable tokenization pattern (lowercased [a-z0-9] runs): one
# definition consumed by _explode_tokens, the BM25 query side, and
# ngram_contamination, so a change cannot silently desynchronize the
# operators from each other or from their DuckDB oracles
# (string_split_regex(lower(text), '[^a-z0-9]+')).
TOKEN_SPLIT_RE = r"[^a-z0-9]+"


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Scalar quality score in [0,1] combining length, punctuation and
    stopword signals (monotone heuristic; weights are illustrative —
    the operator shape, a pure projection, is the point)."""
    feats = quality_features(F.col(text_col))
    len_score = F.least(feats["n_tokens"].cast("double") / F.lit(100.0), F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - feats["punct_ratio"] * 5)
    stop_score = F.least(feats["stopword_ratio"] * 3, F.lit(1.0))
    return spread_small_input(df).select(
        F.col(id_col),
        ((len_score * 0.5 + punct_penalty * 0.3 + stop_score * 0.2)).alias("quality"),
    )


def _explode_tokens(
    df: DataFrame, text_col: str, id_col: str | None, min_len: int
) -> DataFrame:
    """Shared portable tokenization: lowercased maximal [a-z0-9] runs,
    exploded one row per token. EVERY DuckDB oracle replicates this
    exact regex (string_split_regex) — keep the three consumers
    (term_frequencies, tfidf_top_terms, bm25_topk) on this single
    definition so a tokenization change cannot silently break oracle
    parity for a subset of them. ``id_col=None`` drops the id."""
    tok = F.explode(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE)).alias(
        "token"
    )
    cols = ([F.col(id_col).alias("__id")] if id_col else []) + [tok]
    return df.select(*cols).filter(F.length("token") >= min_len)


def term_frequencies(
    df: DataFrame, text_col: str, k: int = 20, min_len: int = 1
) -> DataFrame:
    """Corpus vocabulary: top-``k`` terms by frequency -> (token, cnt),
    count desc then token asc (deterministic tie-break). Tokens are
    lowercased maximal [a-z0-9] runs so the tokenization is
    reproducible in any engine (the DuckDB oracle uses
    string_split_regex with the same pattern).

    Scale shape: explode -> one shuffle on token for the count, then
    TakeOrdered for the top-k (no global sort). The token domain is
    vocabulary-sized (millions), not corpus-sized, so the aggregate
    state stays small; partial aggregation happens map-side."""
    return (
        _explode_tokens(df, text_col, None, min_len)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(k)
    )


def corpus_language_report(df: DataFrame, text_col: str, lang_col: str) -> DataFrame:
    """Language-ID evaluation vs a labeled column: per (label, guess)
    confusion counts."""
    return (
        spread_small_input(df)
        .select(
            F.col(lang_col).alias("label"),
            language_id(F.col(text_col)).alias("guess"),
        )
        .groupBy("label", "guess")
        .agg(F.count("*").alias("n"))
    )


def contamination_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    split_col: str,
    train_label: str = "train",
    test_label: str = "test",
) -> DataFrame:
    """Train/test contamination check: test rows whose normalized
    content fingerprint also appears in the train split -> (test id,
    fp, n_train_dups). The eval-leakage guard every training-data
    pipeline needs after splitting.

    Scale shape: one fingerprint projection (no shuffle) + one
    aggregate on fp for the train side + one shuffle join on fp —
    never content-to-content comparison."""
    fps = df.select(
        F.col(split_col).alias("__split"),
        F.col(id_col),
        fingerprint_md5(F.col(text_col)).alias("fp"),
    )
    train = (
        fps.filter(F.col("__split") == train_label)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_train_dups"))
    )
    return (
        fps.filter(F.col("__split") == test_label)
        .join(train, "fp")
        .select(id_col, "fp", "n_train_dups")
    )


def ngram_contamination(
    df: DataFrame,
    text_col: str,
    id_col: str,
    split_col: str,
    n: int = 8,
    train_label: str = "train",
    test_label: str = "test",
    min_len: int = 2,
) -> DataFrame:
    """Token-n-gram overlap decontamination (the "13-gram rule" of
    GPT-3's appendix C / Llama eval hygiene, parameterized): a test
    document is contaminated to the degree its token n-grams appear
    ANYWHERE in the train split. Whole-document fingerprints
    (contamination_report) miss partial inclusion — an eval question
    quoted inside a larger train page; n-gram overlap is the standard
    stronger guard. Output per test doc with at least one n-gram:
    (id, n_grams, n_hit, frac) over the doc's DISTINCT grams.

    Scale shape: tokens stay an ARRAY column until the gram level —
    grams = size-n windows via one JVM transform + explode, so the
    corpus expands to ~tokens-per-doc rows ONCE; train grams
    deduplicate through one groupBy shuffle on the fixed-width md5
    gram key and the test side joins through the same key. Never
    doc-to-doc comparison, no Python in the row path."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE),
        lambda t: F.length(t) >= min_len,
    )
    base = spread_small_input(df).select(
        F.col(split_col).alias("__split"),
        F.col(id_col).alias("__id"),
        toks.alias("__ts"),
    )
    starts = F.when(
        F.size("__ts") >= n,
        F.sequence(F.lit(1), F.size("__ts") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        "__split",
        "__id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(F.col("__ts"), i, F.lit(n)))
                ),
            )
        ).alias("gram"),
    ).distinct()
    test = grams.filter(F.col("__split") == test_label)
    train = (
        grams.filter(F.col("__split") == train_label)
        .select("gram")
        .distinct()
    )
    # round 13 (guide §1.2/§3): ONE left join + ONE aggregate replaces
    # the totals aggregate + inner-join hits aggregate + final join.
    # train is DISTINCT on gram, so the left join preserves every test
    # gram exactly once: count(1) == the old totals, count(hit) == the
    # old inner-join count (0, not NULL, for unhit docs — same value
    # the old coalesce produced).
    joined = test.join(
        train.withColumn("__hit", F.lit(1)), "gram", "left"
    )
    per_doc = joined.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("__hit").alias("n_hit"),
    )
    return per_doc.select(
        F.col("__id").alias(id_col),
        "n_grams",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_grams"), 6).alias("frac"),
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str,
    top_k: int = 20,
    min_word_count: int = 1,
) -> DataFrame:
    """First BPE merge iteration at corpus scale (the pair-frequency
    statistic of Sennrich et al. 2016 byte-pair encoding, which
    tokenizer training recomputes before every merge): adjacent
    CHARACTER-pair counts weighted by word frequency. Output
    (pair, cnt), top_k ordered (cnt DESC, pair ASC) — fully
    deterministic, so the DuckDB oracle hash-matches.

    Scale shape: one explode to words, one groupBy collapsing the
    corpus to its VOCABULARY (distinct words + counts — the expensive
    per-corpus pass happens before the pair explosion, exactly how
    production BPE trainers batch it), then pairs per distinct word
    via a JVM transform + explode and one vocabulary-sized groupBy.
    No Python in the row path. (The reference has no text operators —
    extension surface.)"""
    words = (
        spread_small_input(df)
        .select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 2)
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    if min_word_count > 1:
        wc = wc.filter(F.col("c") >= min_word_count)
    pairs = wc.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(top_k)
    )


def bpe_learn(
    df: DataFrame,
    text_col: str,
    n_merges: int = 10,
    min_word_count: int = 1,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges over the corpus (the full greedy
    loop of Sennrich et al. 2016; bpe_pair_counts is its single-step
    statistic): repeatedly merge the globally most frequent adjacent
    symbol pair, ties broken lexicographically so the result is
    deterministic. Returns (merges, vocab) where merges is the
    ordered list of (left, right) merges and vocab the final
    (symbols array<string>, c) word table. No end-of-word marker —
    callers wanting GPT-2-style '</w>' handling can append it to the
    text beforehand.

    Scale shape: the corpus collapses ONCE to its vocabulary (distinct
    words + counts); every merge iteration is then one vocabulary-
    sized shuffle (adjacent-pair groupBy -> 1-row collect) plus one
    narrow JVM fold applying the merge left-to-right, with
    localCheckpoint truncating the plan so iteration N's analysis
    cost does not grow with N — the same loop shape as
    duplicate_clusters' label propagation. Driver traffic is ONE ROW
    per merge; corpus-sized data never moves after the first pass.
    (The reference has no text operators — extension surface.)"""
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0 (got {n_merges})")
    words = (
        spread_small_input(df, barrier="checkpoint")
        .select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 1)
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    if min_word_count > 1:
        wc = wc.filter(F.col("c") >= min_word_count)
    # initial symbols: one character each (unicode-safe via substr).
    # localCheckpoint is LAZY (round-13): the very next pair-count
    # collect materializes it inside its own job, so each loop
    # iteration costs ONE scheduler round-trip instead of two while
    # lineage still truncates (iteration N never recomputes merges
    # 0..N-1 — the O(n) guarantee the docstring promises).
    wc = wc.select(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1)),
        ).alias("symbols"),
        "c",
    )
    wc = lifecycle.checkpoint(wc, eager=False)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts = (
            wc.select(
                F.explode(
                    F.when(
                        F.size("symbols") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("symbols") - 1),
                            lambda i: F.struct(
                                F.element_at("symbols", i).alias("a"),
                                F.element_at("symbols", i + 1).alias("b"),
                            ),
                        ),
                    ).otherwise(
                        F.array().cast("array<struct<a:string,b:string>>")
                    )
                ).alias("p"),
                "c",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not pair_counts:
            break
        best = pair_counts[0]
        a, b, merged = best["a"], best["b"], best["a"] + best["b"]
        merges.append((a, b))
        # left-to-right non-overlapping merge via a JVM fold: append s,
        # replacing the accumulated tail (a, b) with the merged symbol
        # (a freshly merged tail never re-merges — standard BPE)
        wc = wc.select(
            F.aggregate(
                "symbols",
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) >= 1)
                    & (F.element_at(acc, -1) == a)
                    & (s == b),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ).alias("symbols"),
            "c",
        )
        wc = lifecycle.checkpoint(wc, eager=False)
    return merges, wc


def repeated_span_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    min_occurrences: int = 2,
    salt: int = 0,
) -> DataFrame:
    """ExactSubstr-style repeated-span statistics (the dedup primitive
    of Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better": drop spans that appear verbatim elsewhere in the
    corpus): per document, the fraction of character positions whose
    k-char gram occurs at least ``min_occurrences`` times corpus-wide
    (counting all occurrences, including within the same document —
    a position sits inside a length->=k repeated substring iff its
    k-gram repeats). Output (id, n_pos, n_dup, dup_frac).

    Scale shape: the paper builds a suffix array; the distributable
    equivalent is the k-gram occurrence histogram — per-position
    k-grams hashed to 64-bit longs, collapsed to (doc, gram, cnt),
    one gram-occurrence aggregate, one join back, one per-doc
    aggregate. Rows ~ corpus characters at the explode only; every
    shuffle moves (doc, gram)-COLLAPSED rows. No driver state — the
    shape that survives 100 TB where a global suffix array cannot.
    (The reference has no text operators — extension surface.)

    Skew (round 10): the raw per-position stream is dominated by
    intra-document runs (whitespace padding, repeated boilerplate
    inside one doc) — a single 1 MB whitespace run is ~1M identical
    gram keys. The (doc, gram) collapse happens in the MAP-SIDE
    partial aggregate, so those runs never reach a shuffle as more
    than one row per (doc, gram): the dominant hot-key pathology is
    eliminated structurally, not rebalanced after the fact. The
    residual skew — one gram shared by millions of DOCS (cross-corpus
    license headers) — still concentrates the gram join; AQE cannot
    split it here (its skew rule only matches a sort-merge join whose
    BOTH inputs are bare shuffle stages, and the occurrence side is an
    aggregate that arrives pre-partitioned by gram), so ``salt > 0``
    spreads each gram over ``salt`` sub-keys: the doc side salts by
    hash(doc id), the vocabulary side replicates each gram ``salt``
    times — vocab x salt rows, cheap when vocab << corpus. Default 0
    keeps the un-salted plan (collapse alone bounds per-gram rows by
    the sharing-doc count)."""
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    if salt < 0:
        raise ValueError(f"salt must be >= 0 (got {salt})")
    grams = (
        spread_small_input(df, barrier="checkpoint")
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.explode(
                F.when(
                    F.length(text_col) >= k,
                    F.transform(
                        F.sequence(F.lit(1), F.length(text_col) - k + 1),
                        lambda i: F.xxhash64(
                            F.col(text_col).substr(i, F.lit(k))
                        ),
                    ),
                ).otherwise(F.array().cast("array<bigint>"))
            ).alias("g"),
        )
    )
    # (doc, gram) collapse: partial agg runs map-side, so intra-doc
    # repeated grams (runs, per-doc boilerplate) shuffle as ONE row
    dg = grams.groupBy("__id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    occ = dg.groupBy("g").agg(F.sum("cnt").alias("occ"))
    if salt > 0:
        dg = dg.withColumn(
            "__salt", F.pmod(F.xxhash64("__id"), F.lit(salt)).cast("int")
        )
        occ = occ.select(
            "g",
            "occ",
            F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__salt"),
        )
        joined = dg.join(occ, ["g", "__salt"])
    else:
        joined = dg.join(occ, "g")
    return (
        joined.groupBy("__id")
        .agg(
            F.sum("cnt").alias("n_pos"),
            F.sum(
                F.when(F.col("occ") >= min_occurrences, F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("n_dup"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_pos",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_pos"), 6).alias("dup_frac"),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_occurrences: int = 2,
    salt: int = 0,
) -> DataFrame:
    """ExactSubstr-style span REMOVAL (the rewrite half of Lee et al.
    2021 — ``repeated_span_coverage`` above measures duplication, this
    operator actually deletes it): every token position covered by an
    ``n``-token gram that occurs at least ``min_occurrences`` times
    corpus-wide (all occurrences, including intra-document repeats) is
    dropped, and the surviving tokens are re-joined into the cleaned
    text. Output (id, n_tokens, n_removed, text_clean) — one row per
    input document, including fully-removed and empty documents.

    Token-level rather than character-level: tokens are the
    whitespace words (``word_tokens``), gram keys are md5 over the
    unit-separator join of each n-token window — portable, so DuckDB
    replays the selection bit-for-bit. The reference has no text
    operators — extension surface.

    Scale shape: the paper's suffix array is replaced by the same
    distributable gram-histogram as x52 — per-position gram keys,
    (doc, gram) map-side collapse so intra-document runs shuffle as
    ONE row into the occurrence count, one gram aggregate, one join
    of the per-position frame against the (small) hot-gram set, then
    interval expansion (``sequence(start, start+n-1)``, a bounded n×
    fan-out of hot starts only), a (doc, pos) distinct whose partial
    agg dedups map-side, one anti-join at token granularity, and one
    per-doc reconstruction aggregate. Every shuffle key is (doc) or
    (doc, pos/gram); nothing is driver-side, no global order.

    Skew: same two-layer defense as x52. Intra-doc runs collapse
    before the occurrence COUNT; the hot-START join (which genuinely
    needs positions) can still concentrate a cross-corpus gram, so
    ``salt > 0`` spreads it — the position side salts by
    hash(doc id) % salt, the hot-gram side replicates salt× (hot set
    ≪ corpus). Output is salt-invariant.

    Reconstruction note: ``collect_list(struct(pos, tok))`` +
    ``array_sort`` keeps the per-doc sort inside one aggregate buffer
    — bounded by document length, never by corpus size (a document
    that doesn't fit in one buffer doesn't fit in a training example
    either)."""
    if n < 1:
        raise ValueError(f"n must be >= 1 (got {n})")
    if salt < 0:
        raise ValueError(f"salt must be >= 0 (got {salt})")
    sep = "\x1f"
    base = spread_small_input(df, barrier="checkpoint").select(
        F.col(id_col).alias("__id"),
        word_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__l"),
    )
    # per-position gram keys; posexplode's index is 0-based, so the
    # 1-based start of the gram at index k is k+1
    starts = base.select(
        "__id",
        F.posexplode(
            F.when(
                F.size("__l") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("__l") - n + 1),
                    lambda i: F.md5(F.array_join(F.slice("__l", i, n), sep)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__k", "g"),
    )
    # (doc, gram) collapse BEFORE the occurrence count: intra-doc runs
    # reach the gram aggregate as one row per doc (the x52 lesson)
    dg = starts.groupBy("__id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    hot = (
        dg.groupBy("g")
        .agg(F.sum("cnt").alias("occ"))
        .filter(F.col("occ") >= min_occurrences)
        .select("g")
    )
    if salt > 0:
        s_side = starts.withColumn(
            "__salt", F.pmod(F.xxhash64("__id"), F.lit(salt)).cast("int")
        )
        h_side = hot.select(
            "g",
            F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__salt"),
        )
        hot_starts = s_side.join(h_side, ["g", "__salt"])
    else:
        hot_starts = starts.join(hot, "g")
    # covered token positions = start .. start+n-1 (1-based); distinct
    # dedups overlapping windows map-side
    covered = hot_starts.select(
        "__id",
        F.explode(F.sequence(F.col("__k") + 1, F.col("__k") + n)).alias("p"),
    ).distinct()
    tokpos = base.select(
        "__id", F.posexplode("__l").alias("__k", "tok")
    ).select("__id", (F.col("__k") + 1).alias("p"), "tok")
    kept = tokpos.join(covered, ["__id", "p"], "left_anti")
    recon = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("__clean"),
    )
    return (
        base.select("__id", F.size("__l").cast("bigint").alias("n_tokens"))
        .join(recon, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("__n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("__clean", F.lit("")).alias("text_clean"),
        )
    )


def source_overlap(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    n: int = 5,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of corpus
    sources, the number of distinct ``n``-token grams they share and
    the gram-set Jaccard. The standard pre-training audit before
    mixing sources — a high-overlap pair means one source leaks into
    another (mirror sites, cross-posted content, benchmark text
    syndicated into web scrape), so its mixture weight double-counts.
    Output (src_a, src_b, shared_ngrams, n_a, n_b, jaccard), one row
    per unordered source pair that shares at least one gram
    (src_a < src_b). The reference has no text operators — extension
    surface.

    Scale shape: per-doc gram keys (same md5 construction as
    ``remove_repeated_spans``) collapse to DISTINCT (source, gram)
    rows in a map-side partial aggregate — the corpus-sized explode
    never crosses a shuffle un-deduplicated. The pair join is a
    self-join of that deduplicated frame on the gram key: per-gram
    fan-out is bounded by the number of SOURCES (tens, not rows), so
    the worst-case join output is n_grams x sources^2 — no data-scale
    cartesian. Source sizes ride the same frame; jaccard is a
    projection over one final sources^2-row aggregate."""
    if n < 1:
        raise ValueError(f"n must be >= 1 (got {n})")
    sep = "\x1f"
    sg = (
        spread_small_input(df, barrier="checkpoint")
        .select(
            F.col(source_col).alias("__src"),
            word_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__l"),
        )
        .select(
            "__src",
            F.explode(
                F.when(
                    F.size("__l") >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size("__l") - n + 1),
                        lambda i: F.md5(
                            F.array_join(F.slice("__l", i, n), sep)
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("g"),
        )
        .distinct()
    )
    sizes = sg.groupBy("__src").agg(F.count(F.lit(1)).alias("n_grams"))
    a = sg.select(F.col("__src").alias("src_a"), "g")
    b = sg.select(F.col("__src").alias("src_b"), "g")
    shared = (
        a.join(b, "g")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    return (
        shared.join(
            sizes.select(
                F.col("__src").alias("src_a"), F.col("n_grams").alias("n_a")
            ),
            "src_a",
        )
        .join(
            sizes.select(
                F.col("__src").alias("src_b"), F.col("n_grams").alias("n_b")
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "shared_ngrams",
            "n_a",
            "n_b",
            F.round(
                F.col("shared_ngrams")
                / (F.col("n_a") + F.col("n_b") - F.col("shared_ngrams")),
                6,
            ).alias("jaccard"),
        )
    )


def bpe_token_counts(
    df: DataFrame,
    text_col: str,
    n_merges: int = 6,
    top_k: int = 20,
    min_word_count: int = 1,
) -> DataFrame:
    """Apply ``n_merges`` learned BPE merges to the corpus and count
    the resulting tokens (round 9 — the APPLY half of the tokenizer
    story; bpe_learn is the LEARN half): output (token, cnt), top_k
    ordered (cnt DESC, token ASC), fully deterministic.

    Scale shape: bpe_learn's final vocabulary table (symbols per
    distinct word + word count) IS the tokenized corpus, so applying
    the merges costs nothing beyond the learn loop; the token counts
    are one additional vocabulary-sized explode + aggregate. Corpus
    rows are touched exactly once (the learn loop's initial collapse).
    (The reference has no text operators — extension surface.)"""
    _merges, vocab = bpe_learn(
        df, text_col, n_merges=n_merges, min_word_count=min_word_count
    )
    return (
        vocab.select(F.explode("symbols").alias("token"), "c")
        .groupBy("token")
        .agg(F.sum("c").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(top_k)
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    min_len: int = 2,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms -> (id, token, tfidf, rnk).

    score = tf(doc, token) * ln(N / df(token)) with the same portable
    tokenization as term_frequencies (lowercased [a-z0-9] runs), so
    any engine reproduces it bit-for-bit. Ties break on token asc
    (identical (tf, df) pairs produce identical doubles, so the
    tie-break is engine-stable).

    Scale shape: explode -> groupBy (id, token) for TF (one shuffle),
    token-level re-aggregate for DF (second shuffle over the
    vocabulary-sized TF table, not the corpus), broadcast the scalar N,
    then one window per doc for the top-k. No collects; the window
    partitions by doc id, so state per task is one document's
    vocabulary."""
    from pyspark.sql.window import Window

    toks = _explode_tokens(spread_small_input(df), text_col, id_col, min_len)
    tf = toks.groupBy("__id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # tf is already distinct per (doc, token): plain count == countDistinct
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "__id",
            "token",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("dfreq"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("__id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("__id").alias(id_col),
            "token",
            F.round("score", 6).alias("tfidf"),
            "rnk",
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str,
    id_col: str,
    qid_col: str = "qid",
    qtext_col: str = "qtext",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    min_len: int = 2,
) -> DataFrame:
    """BM25 retrieval: top-``k`` documents per query ->
    (qid, doc_id, score, rnk). The retrieval primitive a training-data
    pipeline uses for decontamination probes, nearest-document audits,
    and hard-negative mining — full-corpus scoring as three joins, no
    per-query scans.

    Lucene-style BM25: idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
    tf-part = tf*(k1+1) / (tf + k1*(1 - b + b*|d|/avgdl)). Same
    portable tokenization as term_frequencies; ties break (score
    desc, doc asc) and duplicate query terms count once.

    Scale shape: corpus side = one TF shuffle on (doc, term) + one
    vocabulary-sized DF aggregate (both corpus-proportional, done
    ONCE for the whole query batch); query side joins through the
    term column — queries-per-batch scales freely because the big
    side never re-scans per query. Top-k via a window partitioned by
    qid."""
    from pyspark.sql.window import Window

    toks = (
        _explode_tokens(spread_small_input(docs, barrier="checkpoint"), text_col, id_col, min_len)
        .withColumnRenamed("__id", "__doc")
        .withColumnRenamed("token", "term")
    )
    tf = toks.groupBy("__doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    # doclen derives from tf (Σ tf per doc == token count per doc):
    # the corpus is tokenized ONCE instead of twice, and doclen's
    # input is the (doc, term)-collapsed tf output, not the raw
    # explode (round 13, guide §1.2/§2.3; dfreq already derived so)
    doclen = tf.groupBy("__doc").agg(F.sum("tf").alias("dl"))
    # Round-14 audit of the EXECUTED (final AQE) plan: doclen's chain
    # already reuses tf's shuffle stage at runtime (ReusedExchange), so
    # the corpus tokenizes once for tf+doclen. dfreq's chain does NOT
    # fuse: Catalyst rewrites its count into a distinct-only aggregate
    # (count("tf") folds back to count(1) — tf is provably non-null)
    # and its subtree lacks the isnotnull(doc) filter the join pushes
    # into tf's; forcing that filter would change dfreq on corpora with
    # null ids. A persist of tf was also tried and measured SLOWER
    # (x43 1.95 -> 2.46: the cache barrier serializes what AQE runs as
    # concurrent stages — the x05/x19 barrier lesson). Left as-is with
    # the evidence recorded.
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    # aggregate each side to one row FIRST; the previous form routed
    # every corpus row through a nested-loop join just to count them
    stats = (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(doclen.agg(F.avg("dl").alias("avgdl")))
    )
    qterms = (
        queries.select(
            F.col(qid_col).alias("__qid"),
            F.explode(
                F.array_distinct(
                    F.split(F.lower(F.col(qtext_col)), TOKEN_SPLIT_RE)
                )
            ).alias("term"),
        )
        .filter(F.length("term") >= min_len)
    )
    scored = (
        qterms.join(tf, "term")
        .join(dfreq, "term")
        .join(doclen, "__doc")
        .crossJoin(F.broadcast(stats))
        .select(
            "__qid",
            "__doc",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("dfreq") + 0.5)
                    / (F.col("dfreq") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("part"),
        )
        .groupBy("__qid", "__doc")
        .agg(F.sum("part").alias("score"))
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("score"), F.asc("__doc"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("__qid").alias(qid_col),
            F.col("__doc").alias(id_col),
            F.round("score", 6).alias("score"),
            "rnk",
        )
    )
