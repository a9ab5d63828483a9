"""Text analysis: language-ID, quality scoring, token counting, document
fingerprinting. Native Column expressions (codegen, oracle-checkable),
plus an Arrow-batched kernel for the repetition statistics (the one
operator whose pure-SQL form is a large interpreted higher-order-function
fold — see ``repetition_stats``).
"""

from __future__ import annotations

import re as _pyre
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword dictionaries for the n-gram/stopword-hit
# heuristic. Deliberately small: language ID at corpus scale is a
# ratio-of-hits argmax, not a model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "sich", "auf"],
    "fr": ["le", "la", "les", "et", "des", "est", "dans", "que", "une", "pour"],
    "es": ["el", "la", "los", "y", "de", "que", "en", "un", "una", "por"],
}


def _tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.trim(F.regexp_replace(c, r"[^\p{L}\p{N}\s]", " "))), r"\s+")


def ws_tokens(text: Column | str, lowercase: bool = True) -> Column:
    """THE whitespace tokenizer: collapse runs of whitespace, trim, split
    on single spaces. Shared by shingles/simhash (dedup), repetition
    stats, chunking, and vocabulary so normalization cannot drift between
    operators — vocabulary entries, shingle grams, and chunk boundaries
    all agree by construction, not by copy-paste."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(c, r"\s+", " ")
    if lowercase:
        norm = F.lower(norm)
    return F.split(F.trim(norm), " ")


def token_count(text: Column | str, bpe_like: bool = False) -> Column:
    """Whitespace token count; bpe_like additionally splits punctuation
    and camelCase-ish boundaries (a cheap BPE proxy: count of regex
    word-pieces)."""
    c = F.col(text) if isinstance(text, str) else text
    if bpe_like:
        pieces = F.regexp_replace(
            F.regexp_replace(c, r"([a-z])([A-Z])", r"$1 $2"),
            r"([\p{L}\p{N}]+|[^\p{L}\p{N}\s])",
            r"$1 ",
        )
        return F.size(F.split(F.trim(F.regexp_replace(pieces, r"\s+", " ")), " "))
    return F.size(F.split(F.trim(c), r"\s+"))


# Single-script language families resolvable by character counts alone:
# Unicode script class (Java spells \p{IsX}, RE2 spells \p{X} — same
# character sets) -> language code. Checked after the CJK branch, in this
# order (deterministic for mixed-script text).
SCRIPT_LANGS: list[tuple[str, str]] = [
    ("Cyrillic", "ru"),
    ("Arabic", "ar"),
    ("Devanagari", "hi"),
    ("Thai", "th"),
]


def detect_language(text: Column | str) -> Column:
    """Two-stage language ID, one pass, no UDF.

    Stage 1 — script ranges: whitespace tokenization yields nothing to
    match for CJK (and little for other non-Latin scripts), so count
    script characters first (native ``regexp_count``; Java and RE2 both
    support Unicode script classes, spelled ``\\p{IsHan}`` vs
    ``\\p{Han}``). When CJK characters make up >= 20% of the text the
    doc is ja (any kana), ko (else any hangul), or zh (han only); else
    the first ``SCRIPT_LANGS`` script at >= 20% wins (Cyrillic -> ru,
    Arabic -> ar, Devanagari -> hi, Thai -> th — the script IDs real
    web-crawl volume that a stopword table can't reach). All integer
    comparisons, so any engine reproduces the decision exactly.

    Stage 2 — argmax over stopword-hit counts for the Latin-script
    languages; 'und' (undetermined) when nothing hits.
    """
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c)
    floor = F.greatest(n_chars, F.lit(1))
    # regexp_count of a single-char class == chars of that script; 2x
    # cheaper than the regexp_replace-strip + length form (no rebuilt
    # string per pass, measured on the bench corpus)
    n_kana = F.regexp_count(c, F.lit(r"[\p{IsHiragana}\p{IsKatakana}]"))
    n_hangul = F.regexp_count(c, F.lit(r"[\p{IsHangul}]"))
    n_han = F.regexp_count(c, F.lit(r"[\p{IsHan}]"))
    cjk = (n_kana + n_hangul + n_han) * 5 >= floor

    toks = F.array_distinct(_tokens(c))
    # One unconditional array of per-language hit counts, then argmax via
    # array_max + array_position (first position of the max -> earlier
    # dict entries win ties, exactly the old reversed-when chain's rule).
    # The count array is LET-BOUND through a single-element transform so
    # it is evaluated exactly once per row: it sits inside conditional
    # branches (the coalesce fallback, the best>0 test, the position
    # lookup), and conditional branches are excluded from common-
    # subexpression elimination — the old chain re-evaluated the N
    # intersects (and the tokenizer under them) once per reference.
    # Measured at sf0.1 local[32]: langid exec 1.55s -> 0.78s,
    # decision-identical.
    scores_arr = F.array(
        *[
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
            for words in STOPWORDS.values()
        ]
    )
    langs_arr = F.array(*[F.lit(lang) for lang in STOPWORDS])
    out = F.get(
        F.transform(
            F.array(scores_arr),
            lambda sa: F.when(
                F.array_max(sa) > 0,
                F.element_at(
                    langs_arr, F.array_position(sa, F.array_max(sa)).cast("int")
                ),
            ).otherwise(F.lit("und")),
        ),
        0,
    )
    decision = (
        F.when(cjk & (n_kana > 0), F.lit("ja"))
        .when(cjk & (n_hangul > 0), F.lit("ko"))
        .when(cjk & (n_han > 0), F.lit("zh"))
    )
    for script, lang in SCRIPT_LANGS:
        n_s = F.regexp_count(c, F.lit(rf"[\p{{Is{script}}}]"))
        decision = decision.when(n_s * 5 >= floor, F.lit(lang))
    # SHORT-CIRCUIT prefilter: one combined-class count over the union of
    # all seven script classes. The classes are disjoint Unicode scripts,
    # so n_all >= every per-script count and >= the CJK sum — when
    # n_all * 5 < floor NO script branch can fire and the row resolves in
    # ONE regexp pass instead of seven (CASE/coalesce branches evaluate
    # lazily per row inside codegen; decision-identical by the subset
    # argument, and Latin-script corpora — the web-crawl majority — take
    # the fast path). Measured at sf0.1 local[32]: script stage alone
    # 0.20s -> 0.12s (1.7x); full langid query 2.0s -> 1.7s (the
    # stopword tokenize/intersect stage dominates the remainder).
    combined = (
        r"[\p{IsHiragana}\p{IsKatakana}\p{IsHangul}\p{IsHan}"
        + "".join(rf"\p{{Is{script}}}" for script, _ in SCRIPT_LANGS)
        + "]"
    )
    n_all = F.regexp_count(c, F.lit(combined))
    # `decision` has no otherwise -> null when no script branch fires;
    # coalesce then falls through to the stopword argmax, keeping `out`
    # a single occurrence (no common-subexpression duplication)
    return F.coalesce(F.when(n_all * 5 >= floor, decision), out)


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band, alpha ratio,
    stopword presence, mean word length sanity. Mirrors the usual
    pretraining-corpus filters (C4-style) as pure SQL."""
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c)
    toks = _tokens(c)
    n_words = F.size(toks)
    alpha_ratio = F.length(F.regexp_replace(c, r"[^\p{L}]", "")) / F.greatest(n_chars, F.lit(1))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS["en"]])
        )
    )
    mean_word_len = n_chars / F.greatest(n_words, F.lit(1))
    len_ok = F.when((n_chars >= 200) & (n_chars <= 100000), 1.0).otherwise(
        F.when(n_chars >= 50, 0.5).otherwise(0.0)
    )
    word_len_ok = F.when((mean_word_len >= 3) & (mean_word_len <= 12), 1.0).otherwise(0.0)
    stop_ok = F.when(stop_hits >= 2, 1.0).otherwise(F.when(stop_hits >= 1, 0.5).otherwise(0.0))
    alpha_ok = F.when(alpha_ratio >= 0.6, 1.0).otherwise(F.when(alpha_ratio >= 0.4, 0.5).otherwise(0.0))
    return ((len_ok + word_len_ok + stop_ok + alpha_ok) / 4).cast("double")


# PII scrub patterns, applied in this order. Deliberately restricted to
# regex constructs shared by Java regex (Spark) and RE2 (DuckDB oracle):
# no backreferences, no lookaround — so the oracle can replicate exactly.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{4}[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b", "<CC>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"(\+\d{1,2}[ ]?)?(\(\d{3}\)|\d{3})[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
]


def scrub_pii(text: Column | str) -> Column:
    """Redact emails, credit cards, SSNs, IPv4s, phone numbers with typed
    placeholder tokens — the standard pretraining-corpus hygiene pass.
    Chained native ``regexp_replace`` (global), zero UDF: at 100 TB this
    stays inside whole-stage codegen, one projection, no shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


# Java \s for the whitespace tokenizer's Python replica: ASCII-only
# [ \t\n\x0B\f\r], NOT Python's Unicode \s — a NBSP/U+2028 must stay part
# of its token on both sides of the JVM/Python boundary.
_JAVA_WS = _pyre.compile("[ \t\n\x0b\f\r]+")


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3, 4),
    char_dup_ns: tuple[int, ...] = (),
    char_coverage_ns: tuple[int, ...] = (),
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style repetition filter inputs (Rae et al. 2021, app. A1):
    per document, the duplicate-word / duplicate-line / duplicate-
    paragraph fractions plus, for each n in ``ns``, the fraction of all
    word n-grams taken by the single most frequent n-gram, plus, for
    each n in ``char_dup_ns``, an A1-STYLE PROXY for the "fraction of
    characters in duplicated n-grams" columns (conventionally n=5..10).
    High values flag boilerplate/spam/keyword-stuffed documents before
    pretraining.

    The char-duplicate proxy weights gram counts by gram character
    length — occurrences beyond the first of each gram count as
    duplicated. This is NOT Rae et al.'s exact metric (which counts
    UNIQUE character positions covered by duplicated n-grams, so
    overlapping duplicated grams are not double-counted); thresholds
    tuned on published A1 values do not transfer 1:1. Formally

        dup_{n}gram_char_frac =
            sum_{g: c_g > 1} (c_g - 1) * chars(g) / sum_g c_g * chars(g)

    — exact integer counts, 0 for documents with no repeated n-gram, 1
    is approached by a document that is one phrase repeated.

    ``char_coverage_ns`` adds, per size, the TRUE Rae et al. metric:
    ``dup_{n}gram_char_coverage`` = fraction of UNIQUE character
    positions (of the whitespace-normalized lowercased token stream)
    covered by occurrences beyond the first of any duplicated word
    n-gram — overlapping duplicated grams never double-count a
    character. "Beyond the first" matches the published repro
    convention (a doc's canonical copy of a phrase is not 'duplicated
    text'); a document that is one phrase repeated m times approaches
    coverage (m-1)/m from above as overlaps chain. The duplicate
    occurrences' word-index intervals [p, p+n-1] are merged in one O(W)
    walk over the word stream, summing covered word lengths + covered
    separators (exactly the char-interval union, since spans are
    word-aligned).

    Plan: every output is a PER-DOCUMENT statistic, so nothing ever
    needs to leave the document's row — one corpus scan, zero explode,
    zero joins, ZERO SHUFFLE; the whole statistic set is computed by one
    Arrow-batched pandas UDF (scan -> ArrowEvalPython -> project). Why a
    Python kernel (the same argument as pyfold.py's KG fold): the
    pure-SQL form is a chain of higher-order array functions — per gram
    size an array_sort plus an ``aggregate`` fold — and Spark evaluates
    HOF lambdas interpreted (CodegenFallback), re-walking the Catalyst
    expression tree per array element. Building the same integer counts
    with tokenized tuples and a Counter is several times faster per
    document AND removes the py4j Column-tree construction and the
    Catalyst/codegen cost of the giant projection (see
    OPTIMIZATION_r08.md). Null text is treated as '' (one defined-stats
    row per input doc, not silent omission).

    Exactness contract: the tokenizer replicates the JVM semantics of
    ``ws_tokens``/``dedup.shingles`` — Java ``\\s`` is ASCII-only,
    ``F.trim`` strips 0x20 only, ``split`` on a single space, ``lower``
    full Unicode in the JVM ROOT locale (a Turkish default locale would
    lower-case 'I' differently on the JVM than Python does) — gram
    counts are exact integers, divisions are the same int/int ->
    IEEE-double, and the final round(6) happens JVM-side through
    ``F.round``. Gram equality compares the token tuples themselves, so
    distinct grams never collide. The independent JVM-side form of the
    same statistics is ``tests/reference_repetition.py`` (an in-row SQL
    fold over the product's Column tokenizers); the two are pinned
    bit-identical by ``tests/test_datapipe.py::
    test_repetition_arrow_equals_fold``.

    Returns (key, [carry,] dup_word_frac, dup_line_frac, dup_para_frac,
    top_{n}gram_frac ..., dup_{n}gram_char_frac ...,
    dup_{n}gram_char_coverage ...), all rounded to 6.
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    c = F.coalesce(F.col(text_col), F.lit(""))
    ns = tuple(ns)
    cds = tuple(char_dup_ns)
    cov = tuple(sorted(set(char_coverage_ns)))
    fields = (
        ["dup_word_frac", "dup_line_frac", "dup_para_frac"]
        + [f"top_{n}gram_frac" for n in ns]
        + [f"dup_{n}gram_char_frac" for n in cds]
        + [f"dup_{n}gram_char_coverage" for n in cov]
    )
    schema = T.StructType([T.StructField(f, T.DoubleType()) for f in fields])
    all_ns = sorted(set(ns) | set(cds) | set(cov))
    cov_set = set(cov)

    def one(s: str) -> tuple:
        toks = _JAVA_WS.sub(" ", s).lower().strip(" ").split(" ")
        W = len(toks)  # >= 1: ''.split(' ') == ['']
        out = [(W - len(set(toks))) / W]
        for sep in ("\n", "\n\n"):
            parts = [p.strip(" ") for p in s.split(sep)]
            parts = [p for p in parts if p != ""]
            np_ = len(parts)
            out.append((np_ - len(set(parts))) / max(np_, 1))
        L = [len(w) for w in toks]
        tot_chars = sum(L) + W - 1
        grams_by_n: dict[int, list] = {}
        cnt_by_n: dict[int, Counter] = {}
        for n in all_ns:
            # count = greatest(W - n + 1, 1): short docs yield ONE
            # truncated gram, exactly the shingles() rule
            g = (
                list(zip(*(toks[i:] for i in range(n))))
                if W >= n
                else [tuple(toks)]
            )
            if n in cov_set:
                grams_by_n[n] = g
            cnt_by_n[n] = Counter(g)
        for n in ns:
            cnt = cnt_by_n[n]
            out.append(max(cnt.values()) / max(sum(cnt.values()), 1))
        for n in cds:
            dup = den = 0
            for g, cv in cnt_by_n[n].items():
                gl = sum(map(len, g)) + len(g) - 1
                den += cv * gl
                if cv > 1:
                    dup += (cv - 1) * gl
            out.append(dup / max(den, 1))
        for n in cov:
            seen: set = set()
            P: list[int] = []
            for i, g in enumerate(grams_by_n[n]):
                if g in seen:
                    P.append(i)
                else:
                    seen.add(g)
            # the same word-walk as tests/reference_repetition.py: sep
            # covered iff the end BEFORE this word's interval-open
            # reaches it, word covered iff the end AFTER does
            chars = 0
            ptr = 0
            end = -1
            nP = len(P)
            for j in range(W):
                if j > 0 and end >= j:
                    chars += 1
                if ptr < nP and P[ptr] == j:
                    end = j + n - 1
                    ptr += 1
                if end >= j:
                    chars += L[j]
            out.append(chars / max(tot_chars, 1))
        return tuple(out)

    @pandas_udf(schema)
    def _rep_stats_udf(texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [one(t) for t in texts], columns=fields, dtype="float64"
        )

    # deterministic, but the flag stops the optimizer duplicating the
    # kernel below a pushed-down gate filter (two ArrowEvalPython nodes —
    # the pyfold.py lesson)
    rep_stats_udf = _rep_stats_udf.asNondeterministic()
    staged = df.select(F.col(key_col), *carry, rep_stats_udf(c).alias("_st"))
    return staged.select(
        key_col,
        *carry,
        *[F.round(F.col("_st")[f], 6).alias(f) for f in fields],
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    chunk_tokens: int = 128,
    stride: int | None = None,
) -> DataFrame:
    """Sequence packing: split every document into fixed-size token chunks
    (word-aligned, whitespace tokens) — the Spark half of the
    tokenize-and-pack step that feeds pretraining dataloaders.

    ``stride`` defaults to ``chunk_tokens`` (disjoint chunks); a smaller
    stride yields overlapping windows. Trailing chunks may be shorter
    than ``chunk_tokens``; ``n_tokens`` is emitted so consumers can drop
    fragments below their minimum. Chunk starts are ``0, stride,
    2*stride, …`` while the start is inside the document, so the chunk
    count is ``ceil(n_tokens / stride)`` — computed with integer
    arithmetic ``(n + stride - 1) div stride`` for cross-engine
    exactness.

    Scale shape: one scan, one codegen explode, zero shuffle, zero UDF —
    a pure fan-out projection that runs at scan speed and preserves the
    input partitioning (key_col stays the natural downstream partition
    key; chunks of a doc stay in its partition).

    Returns (key, chunk_id, chunk_text, n_tokens).
    """
    if stride is None:
        stride = chunk_tokens
    # explicit None-check above: `stride or chunk_tokens` would silently
    # coerce stride=0 past this guard into disjoint chunking
    if chunk_tokens <= 0 or stride <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    if stride > chunk_tokens:
        # gap windows would silently DROP the tokens between consecutive
        # chunks — caller error in a packing operator, never intended
        raise ValueError(
            f"stride ({stride}) > chunk_tokens ({chunk_tokens}) would skip "
            "tokens between chunks; use stride <= chunk_tokens"
        )
    c = F.coalesce(F.col(text_col), F.lit(""))
    toks = ws_tokens(c, lowercase=False)
    n_chunks = F.greatest(
        F.expr(f"(size(_toks) + {stride - 1}) div {stride}").cast("int"), F.lit(1)
    )
    two = df.select(key_col, toks.alias("_toks")).select(
        key_col,
        "_toks",
        F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("chunk_id"),
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens)
    return two.select(
        key_col,
        "chunk_id",
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
    )


def token_frequencies(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Corpus token-frequency table (token, count) — vocabulary building
    and frequency-based filtering (rare-token cutoffs, stopword mining).

    One explode + one map-side-combinable count; the shuffle carries
    (token, partial count) pairs. Skewed head tokens ('the') are exactly
    the map-side-combine case: each map task emits one row per distinct
    token, so the reduce side sees at most n_partitions rows per token.
    Normalization matches ``shingles``/``repetition_stats`` (lowercase,
    whitespace-collapsed) so vocabularies line up across operators.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    return (
        df.select(F.explode(ws_tokens(c)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_count: int = 1,
) -> DataFrame:
    """Learn a byte-pair-encoding merge table (Sennrich et al. 2016)
    over the corpus: (rank, merge_left, merge_right, pair_count) — the
    artifact a pretraining tokenizer trains, not just the piece counts
    the BPE-proxy counter produces.

    Classic word-level BPE: the corpus collapses to its DISTINCT-token
    vocabulary with frequencies (``token_frequencies`` — the only
    corpus-sized pass; everything after runs over the vocabulary table,
    which is orders of magnitude smaller than the corpus at any scale).
    Each vocabulary word starts as its character sequence; per
    iteration the globally most frequent adjacent symbol pair (ties:
    lexicographically smallest (left, right) — deterministic across
    engines) is merged left-to-right non-overlapping in every word.

    Scale contract: ``n_merges`` bounded driver iterations; each runs
    ONE map-side-combinable pair-count aggregation over the vocabulary
    plus a single-row collect (the argmax — bounded by construction),
    and rewrites the symbol arrays with a native ``aggregate`` fold
    (no UDF). The vocabulary's lineage is cut per iteration so the
    plan stays one-iteration deep. The left-to-right rewrite is the
    fold ``acc + x``, merging when ``last(acc) == left and x ==
    right`` — after a merge the new last symbol is ``left||right``,
    which cannot re-match ``left``, so overlapping runs merge at
    alternate positions exactly like the sequential scan (e.g. a,a,a
    with pair (a,a) -> aa,a).

    Stops early when no adjacent pair remains; ranks are then <
    ``n_merges``.
    """
    spark = df.sparkSession
    vocab = token_frequencies(df, text_col=text_col, min_count=min_count)
    vocab = vocab.select("count", _char_syms().alias("syms")).localCheckpoint(
        eager=False
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pair = F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at("syms", i).alias("a"),
                    F.element_at("syms", (i + 1).cast("int")).alias("b"),
                ),
            )
        )
        best = (
            vocab.filter(F.size("syms") >= 2)
            .select(pair.alias("p"), "count")
            .groupBy("p.a", "p.b")
            .agg(F.sum("count").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((rank, a, b, cnt))
        vocab = vocab.select("count", _bpe_fold(a, b).alias("syms")).localCheckpoint(
            eager=False
        )
    return spark.createDataFrame(
        merges, "rank int, merge_left string, merge_right string, pair_count long"
    )


def _char_syms(token_col: str = "token") -> Column:
    """Initial BPE symbol sequence: the token's character array."""
    return F.transform(
        F.sequence(F.lit(1), F.length(token_col)),
        lambda i: F.substring(F.col(token_col), i, 1),
    )


def _bpe_fold(a: str, b: str) -> Column:
    """Left-to-right non-overlapping (a,b) -> a||b rewrite of the `syms`
    array as ONE native aggregate fold (no UDF). After a merge the new
    last symbol is a||b, which cannot re-match `a`, so overlapping runs
    merge at alternate positions exactly like the sequential scan
    (a,a,a with (a,a) -> aa,a). Shared by ``learn_bpe_merges`` and
    ``apply_bpe_merges`` so the two sides of the tokenizer cannot drift."""
    return F.aggregate(
        "syms",
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def apply_bpe_merges(
    df: DataFrame,
    merges,
    text_col: str = "text",
    key_col: str = "doc_id",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Tokenize the corpus with a learned BPE merge table — the encode
    half of the tokenizer whose train half is ``learn_bpe_merges``.
    Returns one row per document that has at least one token:
    (key_col, n_tokens, n_pieces) — whitespace-token count and the BPE
    piece count after applying every merge in rank order.

    ``merges`` is the ``learn_bpe_merges`` output DataFrame (collected
    here — bounded by ``n_merges`` by construction) or an already-ordered
    ``[(left, right), ...]`` list.

    Scale contract: the merge rewrites run over the DISTINCT-token
    vocabulary, never the corpus — each merge is one native
    ``aggregate``-fold projection (``_bpe_fold``, the identical rewrite
    the learner used), with a lazy lineage cut every ``checkpoint_every``
    ranks so plan depth stays bounded at any merge count. The encoded
    vocabulary (a piece COUNT per distinct token, a few bytes per row)
    broadcast-joins back onto the exploded token stream, and the per-doc
    aggregation is map-side combinable — so the only corpus-sized work
    is the tokenizing scan and one slim (key, count) shuffle.
    """
    if isinstance(merges, DataFrame):
        pairs = [
            (r["merge_left"], r["merge_right"]) for r in merges.orderBy("rank").collect()
        ]
    else:
        pairs = list(merges)
    c = F.coalesce(F.col(text_col), F.lit(""))
    words = df.select(F.col(key_col), F.explode(ws_tokens(c)).alias("token")).filter(
        F.col("token") != ""
    )
    enc = words.select("token").distinct().select("token", _char_syms().alias("syms"))
    for i, (a, b) in enumerate(pairs):
        enc = enc.select("token", _bpe_fold(a, b).alias("syms"))
        if (i + 1) % checkpoint_every == 0:
            enc = enc.localCheckpoint(eager=False)
    enc = enc.select("token", F.size("syms").alias("word_pieces"))
    return (
        words.join(F.broadcast(enc), "token")
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("word_pieces").alias("n_pieces"),
        )
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: sha256 over the
    whitespace/case-normalized text — the content identity used by exact
    dedup and the lineage ledger."""
    c = F.col(text) if isinstance(text, str) else text
    return F.sha2(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))), 256)


def _winnow_gram_hashes(c: Column, k: int, gram_hash) -> Column:
    """Char k-gram hash array over the normalized text — the shared
    builder for both winnowing forms, so gram normalization cannot drift
    between them (the equality test pins it)."""
    if gram_hash is None:
        gram_hash = F.xxhash64
    norm = F.lower(F.regexp_replace(c, r"\s+", " "))
    n_grams = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n_grams), lambda i: gram_hash(F.substring(norm, i, k))
    )


def winnow_fingerprint_sets(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    gram_hash=None,
) -> DataFrame:
    """Winnowing as a DataFrame op: (key, fps array<long>) per document.

    Two projections, deliberately: the gram-hash array is materialized as
    a column between the gram pass and the window pass. The one-expression
    form (``winnowing_fingerprints``) embeds the gram-hash ARRAY EXPRESSION
    inside the per-window lambda, and Spark evaluates embedded expressions
    per outer element — O(n_windows x n_grams) hash calls per document
    (measured 47s -> 3.5s at sf0.01 for the md5-hash variant from this
    restructuring plus the consumer-side ``explode_outer``; exploding the
    named ``fps`` column with a plain explode re-inlines the whole tree
    via an inferred size>0 filter — same trap as ``flag_contaminated``).
    Zero shuffle, zero UDF either way.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    two = df.select(key_col, _winnow_gram_hashes(c, k, gram_hash).alias("_gh"))
    n_windows = F.greatest(F.size("_gh") - F.lit(window - 1), F.lit(1))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.array_min(F.slice(F.col("_gh"), i, window)),
        )
    )
    return two.select(key_col, fps.alias("fps"))


def winnowing_fingerprints(
    text: Column | str, k: int = 8, window: int = 4, gram_hash=None
) -> Column:
    """Winnowing (Schleimer et al., SIGMOD'03): min hash per sliding window
    over char k-gram hashes — a robust partial-overlap fingerprint set.
    Native: two nested transforms over sequences + array_min + distinct.

    ``gram_hash``: optional ``Column -> Column`` hash for the char grams.
    Default is ``xxhash64`` (fastest, JVM-only); pass
    ``dedup.md5_token_hash`` for the portable 60-bit hash any engine can
    rebuild — the oracle-checkable variant (same pluggable-kernel pattern
    as ``simhash``).

    NOTE: single-expression form — the gram-hash array is embedded in the
    window lambda and re-evaluated per window (O(n^2) hash calls on long
    documents). Use ``winnow_fingerprint_sets`` for corpus-scale runs; this
    form exists for expression composition on short strings."""
    c = F.col(text) if isinstance(text, str) else text
    gram_hashes = _winnow_gram_hashes(c, k, gram_hash)
    n_windows = F.greatest(F.size(gram_hashes) - F.lit(window - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.array_min(F.slice(gram_hashes, i, window)),
        )
    )


def ngram_perplexity(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    ref_df: DataFrame | None = None,
    alpha: float = 1.0,
    lam: float = 0.7,
) -> DataFrame:
    """CCNet-style LM quality signal (Wenzek et al. 2020 score documents
    by perplexity under a reference LM; KenLM there, an add-alpha bigram
    interpolated with unigram here — same filtering semantics, no binary
    model dependency): per document,
    ``ppl = exp(-(1/T) * sum log P(w_i | w_{i-1}))`` with
    ``P = lam * (c(w_{i-1} w_i) + a) / (c(w_{i-1}) + a*V)
        + (1-lam) * (c(w_i) + a) / (N + a*V)``
    (first token scores unigram-only). Train counts come from ``ref_df``
    (default: the corpus itself). Returns (key_col, n_tokens, ppl); docs
    with no tokens drop out.

    Scale contract: unigram/bigram count tables are map-side-combinable
    aggregations over the reference corpus (vocabulary-sized output);
    scoring joins them onto the exploded token-transition stream by
    token key (hash joins — AQE broadcasts them when small) and the
    per-doc reduction is map-side combinable. The corpus-total N and
    vocabulary size V are ONE two-scalar driver collect (bounded by
    construction).

    Cross-engine float determinism (the zscore discipline): every count
    is an exact integer, the smoothed probability is one IEEE double
    division + one fused mix (identical operation order in the DuckDB
    oracle), the per-token log is rounded to 9 dp BEFORE an exact
    decimal(28,9) sum (so reduce order cannot perturb the total), and
    the final perplexity rounds to 6 dp.
    """
    ref = ref_df if ref_df is not None else df
    c_ref = F.coalesce(F.col(text_col), F.lit(""))
    ref_toks = ref.select(F.explode(ws_tokens(c_ref)).alias("w")).filter(
        F.col("w") != ""
    )
    # the unigram table is consumed three times (totals, cur join, prev
    # join) — cut its lineage so the tokenize+count runs once, not once
    # per consumer (the truncate_lineage pattern the self-join dedup
    # generators use); the totals collect below materializes it
    uni = (
        ref_toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
        .localCheckpoint(eager=False)
    )
    totals = uni.agg(
        F.sum("cu").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    big_n, vocab_v = int(totals["n"] or 0), int(totals["v"] or 0)
    # token array materialized FIRST, then the transition builder indexes
    # the materialized column — referencing ws_tokens() inside the lambda
    # would re-evaluate the tokenizer per element (the O(n^2) expression
    # re-evaluation winnow_fingerprint_sets documents)
    pairs = F.filter(
        F.transform(
            F.col("_toks"),
            lambda w, i: F.struct(
                i.alias("pos"),
                F.when(i > 0, F.element_at(F.col("_toks"), i)).alias("prev"),
                w.alias("cur"),
            ),
        ),
        lambda s: s["cur"] != "",
    )
    bi = (
        ref.select(ws_tokens(c_ref).alias("_toks"))
        .select(F.explode(pairs).alias("t"))
        .filter(F.col("t.prev").isNotNull() & (F.col("t.prev") != ""))
        .groupBy(F.col("t.prev").alias("w1"), F.col("t.cur").alias("w2"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    trans = (
        df.select(
            F.col(key_col),
            ws_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
        )
        .select(F.col(key_col), F.explode(pairs).alias("t"))
        .select(key_col, "t.pos", "t.prev", "t.cur")
    )
    scored = (
        trans.join(uni.select(F.col("w").alias("cur"), "cu"), "cur", "left")
        .join(
            uni.select(F.col("w").alias("prev"), F.col("cu").alias("cprev")),
            "prev",
            "left",
        )
        .join(
            bi.select(
                F.col("w1").alias("prev"), F.col("w2").alias("cur"), "cb"
            ),
            ["prev", "cur"],
            "left",
        )
    )
    a = float(alpha)
    p_uni = (F.coalesce(F.col("cu"), F.lit(0)).cast("double") + F.lit(a)) / F.lit(
        float(big_n) + a * vocab_v
    )
    p_bi = (F.coalesce(F.col("cb"), F.lit(0)).cast("double") + F.lit(a)) / (
        F.coalesce(F.col("cprev"), F.lit(0)).cast("double") + F.lit(a * vocab_v)
    )
    p = F.when(
        F.col("prev").isNull() | (F.col("prev") == ""), p_uni
    ).otherwise(F.lit(float(lam)) * p_bi + F.lit(1.0 - float(lam)) * p_uni)
    lp = F.round(F.log(p), 9).cast("decimal(28,9)")
    return (
        scored.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(lp).alias("slp"),
        )
        .select(
            key_col,
            "n_tokens",
            F.round(
                F.exp(
                    -(F.col("slp").cast("double"))
                    / F.col("n_tokens").cast("double")
                ),
                6,
            ).alias("ppl"),
        )
    )


# ---- hashed linear quality classifier -------------------------------------

CLASSIFIER_SCALE = 1000  # milli-units: weights are ints in [-1000, 1000]


def hashed_token_weight(token: Column, salt: str = "qw") -> Column:
    """Integer weight in [-1000, 1000] for a token, drawn deterministically
    from the 60-bit md5 bridge (``sampling.md5_long60``): the feature-
    hashing trick (Weinberger et al. 2009) with the hash standing in for
    a trained weight vector — the model SHAPE (hashed unigram -> linear)
    is fastText's (Joulin et al. 2017), and swapping these pseudo-weights
    for a trained table changes nothing about the plan."""
    from .sampling import md5_long60

    return md5_long60(token, salt) % 2001 - 1000


def _classifier_w_sum(
    toks: Column, weights: dict[str, int] | None, salt: str
) -> Column:
    """Integer milli-weight sum over a token array — the shared kernel
    of ``quality_classifier`` and ``classifier_logit``."""
    if weights is None:
        def _w(t):
            return hashed_token_weight(t, salt).cast("long")
    else:
        for tok, wt in weights.items():
            if not -CLASSIFIER_SCALE <= int(wt) <= CLASSIFIER_SCALE:
                raise ValueError(f"weights[{tok!r}] outside milli-unit range")
        wmap = F.create_map(
            *[x for t, wt in weights.items() for x in (F.lit(t), F.lit(int(wt)))]
        )

        def _w(t):
            return F.coalesce(F.element_at(wmap, t), F.lit(0)).cast("long")

    return F.aggregate(
        F.transform(toks, _w), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def classifier_logit(
    text: Column | str,
    weights: dict[str, int] | None = None,
    salt: str = "qw",
) -> Column:
    """The classifier's logit as a bare Column expression — for
    embedding the gate inside a larger plan (the curation pipeline's
    classifier stage) without a separate select. Same arithmetic
    contract as ``quality_classifier``: exact integer weight sum, one
    IEEE division, zero shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    toks = ws_tokens(F.coalesce(c, F.lit("")))
    w_sum = _classifier_w_sum(toks, weights, salt)
    return w_sum.cast("double") / (
        F.size(toks).cast("double") * float(CLASSIFIER_SCALE)
    )


def quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    weights: dict[str, int] | None = None,
    threshold: float = 0.0,
    salt: str = "qw",
) -> DataFrame:
    """fastText-style document quality classifier: mean of per-token
    weights through a linear head — the CCNet / Llama 'quality model'
    filtering stage, minus the binary model file. Returns
    (key, n_tokens, w_sum, logit, keep) where
    ``logit = w_sum / (n_tokens * SCALE)`` and ``keep = logit > threshold``.

    ``weights`` (token -> integer milli-weight) plugs in a REAL trained
    vocabulary: it folds into a literal in-row map lookup (absent tokens
    weigh 0) — the broadcast-small-dim story with no join at all. With
    ``weights=None`` every token scores via ``hashed_token_weight`` —
    feature hashing, unbounded vocabulary, still in-row.

    Scale contract: a pure zero-shuffle projection — tokenize, transform
    to integer weights, one in-row fold; no explode, no join, no
    aggregation across rows. Cross-engine float determinism: the fold
    sums exact INTEGERS (order-independent), and the logit is one IEEE
    division of exactly-representable doubles — bit-identical in DuckDB
    (the zscore discipline), so ``keep`` needs no tolerance."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    toks = ws_tokens(c)
    w_sum = _classifier_w_sum(toks, weights, salt)
    n = F.size(toks).cast("long")
    logit = w_sum.cast("double") / (n.cast("double") * float(CLASSIFIER_SCALE))
    return df.select(
        key_col,
        n.alias("n_tokens"),
        w_sum.alias("w_sum"),
        logit.alias("logit"),
        (logit > F.lit(float(threshold))).alias("keep"),
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Shannon entropy of the character distribution per document —
    the gibberish/boilerplate signal quality stacks threshold on (low
    entropy = repeated filler, very high = random noise):
    ``H = -sum_c p_c * ln(p_c)`` in nats over the document's own
    characters. Returns (key_col, n_chars, entropy); empty/null text
    scores 0.0 over 0 chars.

    ZERO-SHUFFLE pure projection (every statistic stays in its row): per
    row, the distinct-character array drives an in-row fold whose terms
    count occurrences with ``size(filter(...))`` — O(distinct_chars *
    n_chars) comparisons inside codegen, no explode, no Exchange.
    Cross-engine float discipline: each term is one division + one
    ``ln`` + one multiply rounded to 9 dp, accumulated in decimal(28,9)
    (the fold order is fixed but the ORACLE aggregates in arbitrary
    order — decimals make both order-free), final round to 6 dp.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    # split('', '') yields [''] (one empty string — show() renders it
    # deceptively as []), so strip empty elements to make n_chars 0 for
    # empty/null text; nonempty splits never contain ''
    cs = F.array_remove(F.split(c, ""), "")
    n = F.size(cs)
    distinct = F.array_distinct(cs)

    def _term(ch: Column) -> Column:
        cnt = F.size(F.filter(cs, lambda x: x == ch))
        p = cnt.cast("double") / n.cast("double")
        return F.round(-(p * F.log(p)), 9).cast("decimal(28,9)")

    # decimal addition widens (28,9)+(28,9) -> (29,9); the fold's merge
    # must return the seed's exact type, so cast back each step (entropy
    # is <= ln(alphabet) — nowhere near the precision bound)
    ent = F.aggregate(
        distinct,
        F.lit(0).cast("decimal(28,9)"),
        lambda acc, ch: (acc + _term(ch)).cast("decimal(28,9)"),
    )
    return df.select(
        F.col(key_col),
        n.alias("n_chars"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(F.round(ent.cast("double"), 6))
        .alias("entropy"),
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """zlib compression ratio per document
    (``compressed_bytes / raw_bytes`` of the UTF-8 text) — the
    redundancy signal web-corpus filters pair with [`char_entropy`]:
    boilerplate and template spam compress far below prose. Returns
    (key_col, n_bytes, ratio) with ratio rounded to 6 dp; empty/null
    text scores ratio 0.0 over 0 bytes.

    This is a LIBRARY-backed operator: DEFLATE is not expressible in
    either engine's SQL, so there is no cross-engine oracle — the
    contract is pure-Python parity (same zlib, asserted in pytest) and
    determinism (zlib output is deterministic for a given level). The
    UDF is an Arrow-batched pandas_udf (one Python call per batch,
    never per row); everything else is a projection — zero shuffle.
    """
    import zlib

    from pyspark.sql.functions import pandas_udf

    lvl = int(level)
    if not 1 <= lvl <= 9:
        raise ValueError("level must be in 1..9")

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf hint-inference can't resolve for local closures
    @pandas_udf("double")
    def _ratio(texts):
        def one(t):
            if t is None or t == "":
                return 0.0
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, lvl)) / len(raw), 6)

        return texts.map(one)

    c = F.coalesce(F.col(text_col), F.lit(""))
    return df.select(
        F.col(key_col),
        F.octet_length(c).alias("n_bytes"),
        _ratio(F.col(text_col)).alias("ratio"),
    )
