"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shapes:

* exact: one hash + one groupBy (map-side combine) — the cheapest possible
  full-corpus dedup; at 100 TB the shuffle carries only (hash, key) pairs.
* MinHash/LSH: signatures are per-document and computed with ZERO
  shuffle (r8: one in-row fold over the hashed shingle array — see
  ``minhash_signatures``); candidate generation is a self-join on
  (band, band_hash) buckets, i.e. proportional to collisions, not O(n^2).
* SimHash: 64-bit fingerprints with ZERO shuffle — tokens are hashed
  in-row JVM-side (``transform`` + ``xxhash64``), then one Arrow-batched
  numpy bit-vote over the hash arrays (no per-token Python, no
  per-document Python loop); near-dup candidates by banding the
  fingerprint into 4 16-bit chunks (Hamming distance <= 3 guarantees one
  identical chunk).
* n-gram Jaccard: exact verification on candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct text (lowest key wins). Returns the
    surviving rows.

    r8, guide §8 (decide with small rows, move big rows never): the
    former shape ranked a window partitioned by the content hash over
    the FULL input rows — hashing first did not slim the exchange, the
    whole document body still crossed it as window-partition payload.
    Now the ranking runs over a (key, hash) projection only, the loser
    KEYS (exact-duplicate rows — small relative to the corpus) come
    back, and the survivors are an anti-join on the document key: the
    loser set broadcasts when small, and at run scale a key-bucketed
    corpus co-partitions the attach where a content-hash window never
    could. The corpus body crosses the network zero times. Survivor
    rows are identical (same partition key, same orderBy, same
    row_number rule); the slim frame's lineage is cut so the hash pass
    runs once, not once per consumer of the anti-join.

    Precondition (not checked — a check would cost a pass): ``key_col``
    is unique and non-null. Otherwise the anti-join on the key decides:
    when a loser's key appears on several rows, every row with that key
    is removed, including rows whose text is unique; and a loser whose
    key is null is never removed, because a null never equi-joins."""
    h = F.sha2(F.col(text_col), 256).alias("_content_hash")
    w = Window.partitionBy("_content_hash").orderBy(key_col)
    losers = (
        df.select(F.col(key_col), h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(key_col)
        .localCheckpoint(eager=False)
    )
    return df.join(losers, key_col, "left_anti")


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    sep: str = "\n",
    min_chars: int = 1,
    clean_col: str = "clean",
) -> DataFrame:
    """Paragraph-grain exact dedup (the RefinedWeb / Falcon corpus rule):
    split every document on ``sep``, keep each distinct paragraph's
    corpus-wide FIRST occurrence — ordered by ``(key, paragraph index)``,
    the same lowest-key-wins rule as ``exact_dedup`` — and rebuild each
    document from its surviving paragraphs in original order. Paragraphs
    shorter than ``min_chars`` (e.g. blank separator lines) are structure,
    not content: they pass through undeduplicated.

    Adds ``clean_col`` (rebuilt text; ``''`` when every paragraph lost,
    null when the input text is null) and ``n_dropped`` (paragraphs
    excised); all other columns pass through.

    Scale shape (r8, guide §8 — decide with small rows, move big rows
    never): the winner election groups by ``sha2(paragraph)`` over a
    SLIM (key, idx, hash) stream — the paragraph text is dropped in-row
    before anything shuffles. The election's output is the per-document
    list of DROPPED paragraph indices (bounded by a document's own
    paragraph count; only documents that lose a paragraph appear), and
    each document is rebuilt in place with an index-aware array filter
    over its own split — so the corpus text crosses the network ZERO
    times (the former shape shuffled the full paragraph stream twice:
    hash-keyed for the survivor filter, doc-keyed for the collect_list
    rebuild, then joined the corpus a third time). The drop-list attach
    broadcasts when small and co-partitions against a key-bucketed
    corpus at run scale. ``sep`` is a literal separator (regex-escaped
    for the split).
    """
    import re as _re

    key = F.col(key_col)
    parts = F.split(F.col(text_col), _re.escape(sep))
    slim = df.select(key, F.posexplode(parts).alias("_idx", "_para")).select(
        key,
        "_idx",
        F.when(F.length("_para") >= min_chars, F.sha2("_para", 256)).alias("_ph"),
    )
    hashed = slim.filter(F.col("_ph").isNotNull())
    winners = hashed.groupBy("_ph").agg(
        F.min(F.struct(key.alias("k"), F.col("_idx").alias("i"))).alias("_w")
    )
    drops = hashed.join(winners, "_ph").filter(
        (F.col("_w.k") != key) | (F.col("_w.i") != F.col("_idx"))
    )
    drop_lists = drops.groupBy(key_col).agg(
        F.array_sort(F.collect_list("_idx")).alias("_drop_idx")
    )
    di = F.coalesce(F.col("_drop_idx"), F.array().cast("array<int>"))
    rebuilt = F.array_join(
        F.filter(parts, lambda p, i: ~F.array_contains(di, i)), sep
    )
    return (
        df.join(drop_lists, key_col, "left")
        .withColumn(
            clean_col,
            F.when(
                F.col(text_col).isNull(), F.lit(None).cast("string")
            ).otherwise(rebuilt),
        )
        .withColumn("n_dropped", F.size(di).cast("int"))
        .drop("_drop_idx")
    )


def shingles(
    text: Column | str, k: int = 5, word_grams: bool = True, distinct: bool = True
) -> Column:
    """k-gram shingle array, computed natively (distinct by default; pass
    ``distinct=False`` for frequency-sensitive consumers like the
    repetition filter — one gram builder, no drift between operators).

    word_grams: k-word shingles over whitespace tokens (robust to
    formatting); otherwise character k-grams.
    """
    from .text import ws_tokens

    c = F.col(text) if isinstance(text, str) else text
    norm = F.lower(F.regexp_replace(c, r"\s+", " "))
    if word_grams:
        toks = ws_tokens(c)
        n = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
        grams = F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        )
    else:
        n = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
        grams = F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(norm, i, k))
    return F.array_distinct(grams) if distinct else grams


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 64,
    k: int = 5,
    word_grams: bool = True,
    shingles_col: str | None = None,
) -> DataFrame:
    """(key, signature array<bigint>) — min over xxhash64(shingle, seed)
    per seed, computed entirely IN-ROW (r8): the signature is a pure
    per-document statistic, so nothing ever leaves the document's row.

    The former shape (explode + one 64-wide min aggregation) exchanged one
    row per shingle and paid a large two-stage HashAggregate codegen unit
    per call; this form is a single projection — ZERO shuffle at any
    scale, and no aggregate to codegen (measured at sf0.1 local[32]:
    signature barrier in the curation cascade 4.7s -> <0.5s, value-
    identical). The hash chain is unchanged — 1 string hash per shingle,
    then num_hashes seeded re-hashes of the fixed 8-byte long (seed
    literals are int-typed in both forms) — so signatures are
    bit-identical to the former aggregation's.

    ``shingles_col``: name of a precomputed shingle-array column to use
    instead of rebuilding the shingle expression from ``text_col`` — the
    composition hook: a pipeline that also Jaccard-verifies and
    decontaminates materializes the shingle set ONCE behind a barrier and
    every consumer reads the column (one gram build per doc, and a far
    smaller plan for Catalyst to optimize)."""
    # Row-set parity with the explode form (which emitted no row for a
    # null text / empty shingle array): filter on the CHEAP input column,
    # never on a derived expression — a filter over the shingle build
    # would be pushdown-substituted and the whole gram chain evaluated
    # twice per row.
    if shingles_col:
        src = F.col(shingles_col)
        base = df.filter(F.size(src) > 0)
    else:
        c = F.col(text_col) if isinstance(text_col, str) else text_col
        base = df.filter(c.isNotNull())
        src = shingles(text_col, k, word_grams)
    # ONE expression tree in which the shingle/hash chain appears exactly
    # once: fold the hashed-shingle array, updating all num_hashes mins
    # per element (transform's (value, index) lambda supplies the seed as
    # the SAME int type the former F.lit(seed) had). Structuring it as an
    # outer per-seed transform instead would let CollapseProject inline
    # the gram build into the lambda and re-evaluate it once PER SEED —
    # measured 12s/query at sf0.1, the O(n^2) HOF trap text.py documents.
    hashed = F.transform(src, lambda x: F.xxhash64(x))
    init = F.array_repeat(F.lit(9223372036854775807), num_hashes)
    sig = F.aggregate(
        hashed,
        init,
        lambda acc, h: F.transform(acc, lambda v, i: F.least(v, F.xxhash64(h, i))),
    )
    return base.select(key_col, sig.alias("signature"))


def minhash_lsh_candidates(
    signatures: DataFrame,
    key_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    truncate_lineage: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) from banded LSH buckets.

    Two docs collide if any band of their signatures is identical. The
    join key is (band_id, hash(band slice)) — bucket sizes stay small, and
    AQE splits any hot bucket.

    ``signatures`` feeds BOTH sides of the self-join; by default its
    lineage is cut so the MinHash aggregation runs once, not once per
    branch (the same persist-the-signature-table shape the curation
    pipeline uses). Callers that already persisted/barriered the
    signatures pass ``truncate_lineage=False`` to skip the redundant
    copy — and at fault-tolerant run scale a durable signature table,
    not a local checkpoint, is the right barrier."""
    if truncate_lineage:
        signatures = signatures.localCheckpoint(eager=False)
    banded = _banded(signatures, key_col, bands, rows_per_band)
    a = banded.select(F.col(key_col).alias("a"), "band", "band_hash")
    b = banded.select(F.col(key_col).alias("b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def _banded(signatures: DataFrame, key_col: str, bands: int, rows_per_band: int) -> DataFrame:
    """(key, band, band_hash) — one row per signature band."""
    return signatures.select(
        key_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band", "band_hash"),
    )


def banded_signatures(
    signatures: DataFrame,
    key_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """The (key, band, band_hash) banded form of a signature table —
    the thing the PERSISTED incremental-dedup store should be: write it
    once via ``io_tables.write_bucketed(..., ["band", "band_hash"], n)``
    and every future batch's probe joins it with zero store-side
    Exchange (see ``minhash_incremental_candidates(base_banded=...)``).
    """
    return _banded(signatures, key_col, bands, rows_per_band)


def minhash_incremental_candidates(
    new_sigs: DataFrame,
    base_sigs: DataFrame | None = None,
    key_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    truncate_lineage: bool = True,
    base_banded: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs for INCREMENTAL dedup: each NEW document against
    the existing corpus AND the other new documents — the daily-ingest
    shape. The existing corpus is never self-joined (no O(existing²)
    work per batch): its persisted signature table is banded and scanned
    once as the probe side; only the (small) new batch appears on both
    sides. Keys must be globally unique across both frames.

    Returns (a, b): ``a`` is a new key; ``b`` is an existing key, or a
    new key with ``a < b`` (each new-new pair reported once). Feed the
    result to ``ngram_jaccard_pairs`` over the union corpus for exact
    verification, exactly as with the batch path.

    ``base_banded`` (instead of ``base_sigs``): the store is ALREADY a
    persisted banded table (key, band, band_hash) — pass the frame from
    ``io_tables.read_bucketed`` over a table written bucketed on
    (band, band_hash) and the store side of the probe joins WITHOUT any
    Exchange, every batch, forever: only the small new batch shuffles.
    The new-vs-base join runs SEPARATELY from the new-vs-new join in
    this mode (a union of the probe sides would erase the store's
    co-partitioning) — same result set by construction.
    """
    if (base_sigs is None) == (base_banded is None):
        raise ValueError("exactly one of base_sigs / base_banded required")
    if truncate_lineage:
        new_sigs = new_sigs.localCheckpoint(eager=False)
    nb = _banded(new_sigs, key_col, bands, rows_per_band)
    a = nb.select(F.col(key_col).alias("a"), "band", "band_hash")
    if base_banded is not None:
        vs_base = a.join(
            base_banded.select(F.col(key_col).alias("b"), "band", "band_hash"),
            ["band", "band_hash"],
        ).select("a", "b")
        vs_new = (
            a.join(
                nb.select(F.col(key_col).alias("b"), "band", "band_hash"),
                ["band", "band_hash"],
            )
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
        )
        return vs_base.unionByName(vs_new).distinct()
    probe = _banded(base_sigs, key_col, bands, rows_per_band).select(
        F.col(key_col).alias("b"), "band", "band_hash", F.lit(False).alias("_bn")
    ).unionByName(
        nb.select(
            F.col(key_col).alias("b"), "band", "band_hash", F.lit(True).alias("_bn")
        )
    )
    return (
        a.join(probe, ["band", "band_hash"])
        .filter((~F.col("_bn")) | (F.col("a") < F.col("b")))
        .select("a", "b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 5,
    word_grams: bool = True,
    threshold: float = 0.0,
    shingles_col: str | None = None,
    truncate_lineage: bool = True,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs: (a, b, jaccard).

    The shingle table is joined twice; each side is a broadcast-or-shuffle
    hash join on the key — no cross product. ``shingles_col`` reuses a
    precomputed shingle-array column (see ``minhash_signatures``). By
    default the shingle frame's lineage is cut so the gram build runs
    once, not once per join side; pass ``truncate_lineage=False`` when
    ``df`` is already persisted/barriered (the copy would be redundant)."""
    src = F.col(shingles_col) if shingles_col else shingles(text_col, k, word_grams)
    sh = df.select(F.col(key_col).alias("_k"), src.alias("_s"))
    if truncate_lineage:
        sh = sh.localCheckpoint(eager=False)
    joined = (
        pairs.join(sh.withColumnRenamed("_k", "a").withColumnRenamed("_s", "_sa"), "a")
        .join(sh.withColumnRenamed("_k", "b").withColumnRenamed("_s", "_sb"), "b")
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size(F.array_union("_sa", "_sb"))
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def winnow_candidate_pairs(
    fps: DataFrame,
    key_col: str = "doc_id",
    min_shared: int = 2,
    max_df: int | None = None,
    truncate_lineage: bool = True,
) -> DataFrame:
    """MOSS-style partial-overlap candidates from winnowing fingerprint
    sets (``text.winnow_fingerprint_sets``): (a, b, n_shared,
    containment) for document pairs sharing at least ``min_shared``
    fingerprints, with containment = n_shared / min(|fps_a|, |fps_b|)
    for downstream thresholding — the consumer the fingerprint sets
    exist for (Schleimer et al. SIGMOD'03 §4).

    Scale shape: each fingerprint IS the bucket key — the self-join is
    a hash join on fp, so work is proportional to per-fingerprint
    collision counts, never all-pairs. ``max_df`` is the MOSS noise
    rule: fingerprints appearing in more than ``max_df`` documents are
    dropped before pairing (boilerplate grams shared by thousands of
    docs cost quadratic bucket blowup and carry no overlap signal).
    The over-common set is found by one map-side-combinable count and
    removed with a broadcast-sized anti-join (only the >max_df
    fingerprints ship); set sizes for containment are taken BEFORE the
    drop, so the denominator stays the true fingerprint-set size.

    ``fps`` feeds both join sides; ``truncate_lineage`` cuts its
    lineage once (same rule as the other candidate generators) — pass
    False when the fingerprint table is already persisted/barriered.
    """
    if truncate_lineage:
        fps = fps.localCheckpoint(eager=False)
    # explode_OUTER: a plain explode over the named fps column gets an
    # inferred size>0 filter that re-inlines the winnow tree (the
    # flag_contaminated trap); fps is never empty (n_windows >= 1)
    e = fps.select(
        key_col, F.size("fps").alias("_n"), F.explode_outer("fps").alias("_fp")
    )
    if max_df is not None:
        common = (
            e.groupBy("_fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("_fp")
        )
        e = e.join(F.broadcast(common), "_fp", "left_anti")
    a = e.select(F.col(key_col).alias("a"), F.col("_n").alias("_na"), "_fp")
    b = e.select(F.col(key_col).alias("b"), F.col("_n").alias("_nb"), "_fp")
    return (
        a.join(b, "_fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(
            "a",
            "b",
            "n_shared",
            F.round(F.col("n_shared") / F.least("_na", "_nb"), 6).alias("containment"),
        )
    )


def md5_token_hash(t: Column) -> Column:
    """Portable 60-bit token hash: first 15 hex chars of md5, as a long.
    Slower than the default ``xxhash64`` but reproducible in any engine
    with md5 + base conversion (the DuckDB oracle rebuilds it digit-by-
    digit with shifts), which makes the whole SimHash pipeline
    oracle-checkable. Bits 60-63 are always 0 — harmless: they vote 0
    for every doc, so Hamming distances are unaffected."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    token_hash: "callable | None" = None,
) -> DataFrame:
    """(key, simhash) — 64-bit SimHash: JVM-side token hashing, batched
    numpy bit-vote, ZERO shuffle (the token array never leaves its row).

    ``token_hash``: Column -> Column token hashing expression; defaults
    to native ``xxhash64`` (the fast path). Pass ``md5_token_hash`` for
    a cross-engine-reproducible variant (oracle checking).

    Plan: ``transform(tokens, token_hash)`` hashes every token occurrence
    natively in-row, then one Arrow-batched pandas UDF takes the
    ``array<bigint>`` and computes the strict-majority bit vote for the
    whole batch at once (flatten -> 64 x ``bincount`` over the doc index
    — no per-document Python loop, no per-token Python hashing).

    Chosen by measurement over four alternatives on the bench corpus
    (5.5k docs / 298k tokens, local[32], best-of-3): this shape 0.37 s;
    per-doc-loop FNV pandas UDF (the old kernel) 0.53 s; explode +
    ``collect_list`` + batch vote 0.79 s; all-native explode + 32
    packed-lane ``sum(getbit)`` aggregates 1.85 s; 64 plain bit-sum
    aggregates 2.47 s (the wide aggregate update never JITs). The winner
    is also the only variant with no shuffle at all, so its advantage
    grows with corpus size. Ties vote 0; null text fingerprints to 0.
    """
    import pandas as pd
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from .text import ws_tokens

    if token_hash is None:
        token_hash = lambda t: F.xxhash64(t)  # noqa: E731 — default fast path
    hashes = F.transform(ws_tokens(text_col), token_hash)

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf hint-inference can't resolve for local closures
    @pandas_udf("long")
    def _vote(col):
        n = len(col)
        out = np.zeros(n, dtype=np.uint64)
        if n == 0:
            return pd.Series(out.view(np.int64))
        vals = col.to_numpy()
        lens = np.fromiter(
            (0 if x is None else len(x) for x in vals), count=n, dtype=np.int64
        )
        if int(lens.sum()) == 0:
            return pd.Series(out.view(np.int64))
        flat = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in vals if x is not None and len(x)]
        ).view(np.uint64)
        idx = np.repeat(np.arange(n), lens)
        half = lens.astype(np.float64) / 2.0
        for b in range(64):
            ones = np.bincount(
                idx,
                weights=((flat >> np.uint64(b)) & np.uint64(1)).astype(np.float64),
                minlength=n,
            )
            out |= (ones > half).astype(np.uint64) << np.uint64(b)
        return pd.Series(out.view(np.int64))

    return df.select(key_col, _vote(hashes).alias("simhash"))


def simhash_near_dups(
    fps: DataFrame, key_col: str = "doc_id", truncate_lineage: bool = True
) -> DataFrame:
    """Candidate pairs with Hamming distance <= 3 via 4x16-bit banding
    (pigeonhole: <=3 differing bits leave at least one band identical),
    then exact popcount filter.

    The banded self-join consumes ``fps`` on BOTH sides, so by default
    its lineage is cut here: without the cut each branch recomputes the
    fingerprint kernel over the full corpus (measured 3.7s -> 1.25s on
    the sf0.1 bench corpus). At run scale the fingerprint table is
    persisted anyway — it is the unit of incremental dedup — pass
    ``truncate_lineage=False`` then to skip the redundant copy."""
    if truncate_lineage:
        fps = fps.localCheckpoint(eager=False)
    banded = _simhash_banded(fps, key_col)
    a = banded.select(F.col(key_col).alias("a"), F.col("simhash").alias("fa"), "band", "chunk")
    b = banded.select(F.col(key_col).alias("b"), F.col("simhash").alias("fb"), "band", "chunk")
    cand = a.join(b, ["band", "chunk"]).filter(F.col("a") < F.col("b")).select("a", "b", "fa", "fb").distinct()
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return cand.withColumn("hamming", hamming).filter(F.col("hamming") <= 3).select("a", "b", "hamming")


def _simhash_banded(fps: DataFrame, key_col: str) -> DataFrame:
    """(key, simhash, band, chunk) — one row per 16-bit fingerprint
    chunk; the shared banding for the batch self-join and the
    incremental probe (drift-proof by construction)."""
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF))
            for i in range(4)
        ]
    )
    return fps.select(key_col, "simhash", F.posexplode(chunks).alias("band", "chunk"))


def simhash_banded(fps: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """The (key, simhash, band, chunk) banded form of a fingerprint
    table — the persisted SimHash store shape: write it once via
    ``io_tables.write_bucketed(..., ["band", "chunk"], n)`` and every
    batch's probe joins it with zero store-side Exchange (see
    ``simhash_incremental_candidates(base_banded=...)``)."""
    return _simhash_banded(fps, key_col)


def simhash_incremental_candidates(
    new_fps: DataFrame,
    base_fps: DataFrame | None = None,
    key_col: str = "doc_id",
    truncate_lineage: bool = True,
    base_banded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidates for INCREMENTAL SimHash dedup — the
    daily-ingest shape, mirroring ``minhash_incremental_candidates``:
    each NEW document against the existing corpus AND the other new
    documents. The persisted corpus fingerprint table is banded into
    its 4x16-bit chunks and scanned ONCE as the probe side — never
    self-joined, so per-batch work is O(new x collisions), not
    O(existing²). Keys must be globally unique across both frames.

    Returns (a, b, hamming) with hamming <= 3 (exact popcount over the
    banding's pigeonhole candidates): ``a`` is a new key; ``b`` is an
    existing key, or a new key with ``a < b`` (each new-new pair
    reported once).

    ``base_banded`` (instead of ``base_fps``): the store is ALREADY the
    persisted banded table from ``simhash_banded`` — when it is bucket-
    co-located on (band, chunk) the store side of the probe joins with
    zero Exchange (new-vs-base and new-vs-new join separately; a probe
    union would erase the co-partitioning). Identical result set."""
    if (base_fps is None) == (base_banded is None):
        raise ValueError("exactly one of base_fps / base_banded required")
    if truncate_lineage:
        new_fps = new_fps.localCheckpoint(eager=False)
    nb = _simhash_banded(new_fps, key_col)
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    if base_banded is not None:
        a = nb.select(
            F.col(key_col).alias("a"), F.col("simhash").alias("fa"), "band", "chunk"
        )
        vs_base = a.join(
            base_banded.select(
                F.col(key_col).alias("b"), F.col("simhash").alias("fb"),
                "band", "chunk",
            ),
            ["band", "chunk"],
        ).select("a", "b", "fa", "fb")
        vs_new = (
            a.join(
                nb.select(
                    F.col(key_col).alias("b"), F.col("simhash").alias("fb"),
                    "band", "chunk",
                ),
                ["band", "chunk"],
            )
            .filter(F.col("a") < F.col("b"))
            .select("a", "b", "fa", "fb")
        )
        return (
            vs_base.unionByName(vs_new)
            .distinct()
            .withColumn("hamming", hamming)
            .filter(F.col("hamming") <= 3)
            .select("a", "b", "hamming")
        )
    probe = _simhash_banded(base_fps, key_col).select(
        F.col(key_col).alias("b"), F.col("simhash").alias("fb"),
        "band", "chunk", F.lit(False).alias("_bn"),
    ).unionByName(
        nb.select(
            F.col(key_col).alias("b"), F.col("simhash").alias("fb"),
            "band", "chunk", F.lit(True).alias("_bn"),
        )
    )
    a = nb.select(F.col(key_col).alias("a"), F.col("simhash").alias("fa"), "band", "chunk")
    cand = (
        a.join(probe, ["band", "chunk"])
        .filter((~F.col("_bn")) | (F.col("a") < F.col("b")))
        .select("a", "b", "fa", "fb")
        .distinct()
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("a", "b", "hamming")
    )


def duplicate_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 50,
    min_df: int = 2,
    keep_first: bool = False,
    bucket_chars: int = 4096,
) -> DataFrame:
    """Exact duplicate-substring detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find,
    per document, the character spans covered by length->=k substrings
    that occur at least ``min_df`` times in the corpus (across documents
    OR repeated within one) — the spans a substring-level dedup pass
    would cut from training data. Returns one row per maximal span:
    (key_col, span_start, span_end), 1-based, end exclusive.

    Unlike the suffix-array construction of the paper (global sort of
    every suffix), the k-gram formulation is shuffle-native: any
    duplicated substring of length >= k contains a duplicated k-gram at
    every offset, so the union of duplicated-k-gram intervals [p, p+k)
    is exactly the paper's duplicated-span set restricted to spans
    >= k — no global suffix order needed.

    Plan (scale contract):
    1. One scan explodes each document's k-gram stream to slim
       (key, pos, xxhash64(gram)) rows — 8 B keys, never the gram text.
    2. Duplicated grams come from a map-side-combinable COUNT per hash
       (NOT collect_list — a boilerplate gram shared by 10^9 documents
       must become a count of 10^9, not a 10^9-element reducer row),
       then an inner hash join back onto the gram stream; AQE's skew
       split handles hot hashes on the join side.
    3. Span assembly is a BOUNDED-BUFFER two-level interval merge
       (interval union is associative, so it composes): positions first
       group by (document, ``pos div bucket_chars``) — at most
       ``bucket_chars`` distinct positions fit a bucket, so no reducer
       row ever holds more, even for a pathological single document
       whose every gram is duplicated (a 1 GiB boilerplate file yields
       ~L/bucket_chars rows of <= bucket_chars positions, not one row of
       10^9) — and merge in-row to per-bucket maximal intervals
       (sort_array + aggregate fold: same-length intervals merge iff
       successive positions differ by <= k). Level two groups the tiny
       per-bucket interval lists by document and folds them the same way
       (flatten + sort + merge; a doc's interval count is bounded by
       L / 2k — the size of the ANSWER — not by its duplicate-position
       count), then one explode. Same-k intervals never nest, so
       sorted-by-start implies sorted-by-end and the fold stays a
       single pass.
    Exactness rides on 64-bit gram hashes: at N total grams the
    collision expectation is ~N^2/2^65 (document-level false spans only
    on collision; negligible below ~10^8 grams per corpus — beyond
    that, raise to a 128-bit hash pair).

    ``keep_first=True`` excludes each gram's corpus-wide first occurrence
    (min (key, pos)) from span assembly — the Lee et al. policy of
    keeping one copy of the duplicated content; the canonical occurrence
    is a map-side-combinable ``min(struct(key, pos))`` in the same
    aggregation that counts, so it costs no extra shuffle. Note the
    keep-first exclusion is per GRAM, so a self-overlapping periodic run
    (e.g. a 200-char pad of one character) collapses past its first k
    characters even in the first document — later positions of the run
    are non-canonical occurrences and still mark their intervals
    (pinned by test_excise_duplicate_substrings_keep_first's reference).
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    # gram extraction is SEGMENTED, not a direct substring(c, i, k) per
    # position: JVM substring locates a char offset by scanning from the
    # string start (UTF8String is variable-width), so per-position
    # extraction over one long document is O(L^2) — measured 74 s for a
    # single 160 KB doc vs ~1 s segmented. The (?s)(?<=\G.{N}) chunk
    # split is the O(L) fixed-width idiom; each chunk is overlapped with
    # the next chunk's first k-1 chars so boundary grams exist, local
    # gram starts stay within the chunk's own bucket_chars, and the
    # global position is off + local. This also bounds the per-row gram
    # array (one segment's worth, never the whole document) and lets the
    # gram build of ONE huge document parallelize across tasks after the
    # segment explode.
    seg = bucket_chars
    # fast path: a doc that fits one segment (the overwhelming majority
    # of a web corpus) skips the chunk-split regex — the lookbehind costs
    # O(len * seg) worst-case per doc, pure overhead when it can only
    # ever yield one chunk
    chunks = F.when(F.length(c) <= seg, F.array(c)).otherwise(
        F.split(c, "(?s)(?<=\\G.{" + str(seg) + "})", -1)
    )
    seg_structs = F.transform(
        F.sequence(F.lit(0), F.size(chunks) - 1),
        lambda b: F.struct(
            (b * seg).alias("off"),
            F.concat(
                F.element_at(chunks, b + 1),
                F.substring(
                    # try_: the last chunk has no successor (ANSI mode
                    # makes plain element_at THROW on out-of-bounds)
                    F.coalesce(F.try_element_at(chunks, b + 2), F.lit("")),
                    1,
                    k - 1,
                ),
            ).alias("t"),
        ),
    )
    segs = df.select(F.col(key_col), F.explode(seg_structs).alias("sg")).select(
        key_col, "sg.off", "sg.t"
    )
    # local gram starts: 1..min(len(t)-k+1, seg) — the min caps a middle
    # chunk (len = seg+k-1) at exactly its own seg positions, while the
    # tail chunk (no overlap appended) stops at its own last gram.
    # sequence(1, n) DESCENDS when n < 1, so short segments must yield an
    # empty gram array explicitly, not a clamped sequence
    n_local = F.least(F.length(F.col("t")) - F.lit(k - 1), F.lit(seg))
    loc_positions = F.when(
        n_local >= 1, F.sequence(F.lit(1), n_local)
    ).otherwise(F.array().cast("array<int>"))
    grams = segs.select(
        F.col(key_col),
        F.explode(
            F.transform(
                loc_positions,
                lambda i: F.struct(
                    (F.col("off") + i).alias("pos"),
                    F.xxhash64(F.substring(F.col("t"), i, k)).alias("h"),
                ),
            )
        ).alias("g"),
    ).select(key_col, "g.pos", "g.h")
    dup = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min(F.struct(F.col(key_col).alias("k"), F.col("pos").alias("p"))).alias(
                "first"
            ),
        )
        .filter(F.col("df") >= min_df)
        .select("h", "first")
    )
    merged = F.aggregate(
        F.array_sort(F.col("ps")),
        F.array().cast("array<struct<s:int,e:int>>"),
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (p <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        (p + F.lit(k)).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(p.alias("s"), (p + F.lit(k)).alias("e"))))
        ),
    )
    matched = grams.join(dup, "h")
    if keep_first:
        matched = matched.filter(
            ~((F.col(key_col) == F.col("first.k")) & (F.col("pos") == F.col("first.p")))
        )
    # level 1: per (doc, position-range bucket) — the collect_list buffer
    # is bounded by bucket_chars distinct positions, see docstring #3
    per_bucket = matched.groupBy(
        key_col, F.floor((F.col("pos") - 1) / F.lit(bucket_chars)).alias("_bk")
    ).agg(F.collect_list("pos").alias("ps"))
    # level 2: merge the per-bucket maximal intervals (answer-sized rows)
    iv_merged = F.aggregate(
        F.array_sort(F.flatten(F.col("ivs"))),
        F.array().cast("array<struct<s:int,e:int>>"),
        lambda acc, sp: F.when(
            (F.size(acc) > 0) & (sp["s"] <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"), sp["e"].alias("e")
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(sp))),
    )
    return (
        per_bucket.select(key_col, merged.alias("_iv"))
        .groupBy(key_col)
        .agg(F.collect_list("_iv").alias("ivs"))
        .select(key_col, F.explode(iv_merged).alias("sp"))
        .select(
            key_col,
            F.col("sp.s").alias("span_start"),
            F.col("sp.e").alias("span_end"),
        )
    )


def excise_duplicate_substrings(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 50,
    min_df: int = 2,
    keep_first: bool = True,
    clean_col: str = "clean",
    bucket_chars: int = 4096,
) -> DataFrame:
    """The rewrite half of substring dedup: cut the duplicated spans out
    of every document, keeping (by default) each duplicated gram's
    corpus-wide first occurrence — the Lee et al. 2022 "remove all but
    one copy" policy. Adds ``clean_col`` with the excised text; all
    other columns pass through.

    Scale contract: span detection is ``duplicate_substring_spans`` (its
    plan notes apply); the rewrite itself is one left join of the slim
    span table back onto the corpus and a row-local fold — the spans
    sort in-row, and the kept segments assemble with one pass of
    ``substring``/``concat`` per span (native, no UDF).
    """
    spans = duplicate_substring_spans(
        df, text_col=text_col, key_col=key_col, k=k, min_df=min_df,
        keep_first=keep_first, bucket_chars=bucket_chars,
    )
    per_doc = spans.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"), F.col("span_end").alias("e")
                )
            )
        ).alias("_sps")
    )
    c = F.coalesce(F.col(text_col), F.lit(""))
    folded = F.aggregate(
        F.coalesce(F.col("_sps"), F.array().cast("array<struct<s:int,e:int>>")),
        F.struct(F.lit(1).alias("last"), F.lit("").alias("acc")),
        lambda acc, sp: F.struct(
            sp["e"].alias("last"),
            F.concat(
                acc["acc"], F.substring(c, acc["last"], sp["s"] - acc["last"])
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"], F.substring(c, acc["last"], F.length(c) - acc["last"] + 1)
        ),
    )
    return (
        df.join(per_doc, key_col, "left")
        .withColumn(clean_col, folded)
        .drop("_sps")
    )


def lsh_collision_prob(jaccard: float, bands: int, rows_per_band: int) -> float:
    """P[candidate] for a pair at the given Jaccard under (b, r) banding:
    ``1 - (1 - j^r)^b`` — the S-curve every banded-LSH guarantee in this
    module quotes. Driver-side math, used to pick and to audit bandings."""
    return 1.0 - (1.0 - jaccard**rows_per_band) ** bands


def choose_bands(num_hashes: int, threshold: float) -> tuple[int, int]:
    """Pick ``(bands, rows_per_band)`` with ``bands * rows_per_band ==
    num_hashes`` whose S-curve midpoint ``(1/b)^(1/r)`` sits closest to
    the target Jaccard ``threshold`` (Mining of Massive Datasets §3.4.3):
    pairs above the threshold are near-certain candidates, pairs below
    fall off steeply. Driver-side; feed the result to
    ``minhash_lsh_candidates(bands=b, rows_per_band=r)``."""
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        if b < 1:
            continue
        midpoint = (1.0 / b) ** (1.0 / r)
        score = abs(midpoint - threshold)
        if best is None or score < best[0]:
            best = (score, b, r)
    return best[1], best[2]
