"""Corpus hygiene: boilerplate-line removal (CCNet/RefinedWeb-style).

A line (trimmed, non-empty) that recurs across many *distinct* documents —
cookie banners, nav menus, license headers, newsletter footers — is
boilerplate and is stripped from every document; document-unique lines are
kept in original order.

Scale shape: one explode + one aggregation to build the boilerplate
dictionary (map-side partial ``count distinct`` keeps the shuffle thin —
the dictionary is tiny by construction: only lines that repeat across docs
survive the HAVING), then a **broadcast anti-join** back onto the exploded
lines — the 100 TB side is never shuffled. Reassembly groups by the doc
key, which re-uses the source partitioning when the input is already
bucketed by key.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def boilerplate_lines(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", min_docs: int = 2
) -> DataFrame:
    """Distinct trimmed lines appearing in >= min_docs distinct documents.
    Returns a single-column frame ``bline`` (small: broadcast it)."""
    lines = df.select(
        key_col, F.explode(F.split(F.col(text_col), "\n")).alias("line")
    )
    t = F.trim(F.col("line"))
    return (
        lines.filter(t != "")
        .groupBy(t.alias("bline"))
        .agg(F.count_distinct(key_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("bline")
    )


def _flag_contaminated_arrow(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    key_col: str,
    bench_text_col: str,
    k: int,
    min_overlap: int,
    shingles_col: str | None = None,
) -> DataFrame:
    """Arrow-batched decontamination kernel (r8): per-document distinct
    gram set + overlap count against the broadcast benchmark dictionary,
    computed in ONE pass over the corpus — no Generate, no join, no
    shuffle. The former shape exploded ~n_tokens rows per document
    through an interpreted-HOF gram build and hash-joined the expansion
    against the broadcast dictionary; the kernel moves only (key, text)
    across the Arrow boundary and hands each batch to a set-membership
    loop (guide §4.2 — same argument as ``text.repetition_stats``).

    Exactness contract (pinned by
    ``test_flag_contaminated_arrow_equals_join``): the tokenizer is the
    shared Python twin of ``ws_tokens`` (Java ``\\s`` is ASCII-only,
    ``F.trim`` strips 0x20 only, split on a literal space, full-Unicode
    lower — Python's ``str.lower`` is locale-free, so parity assumes the
    JVM lower-cases in the ROOT locale; under a Turkish/Azeri default
    locale the JVM maps 'I' to dotless 'ı' and the kernel's grams stop
    matching the JVM-built benchmark grams), the gram rule replicates
    ``shingles`` exactly (greatest(W-k+1,
    1) grams, short docs yield one truncated gram, distinct-set
    semantics), the BENCHMARK side's grams are still JVM-built (the same
    expression the join path broadcasts, collected once — eval sets are
    orders of magnitude smaller than the corpus, the operator's
    documented broadcast assumption), counts are exact integers, and the
    division + round(6) stay JVM-side through the identical expressions.
    Null-text docs are pre-filtered — the join path drops them too (a
    null gram never equi-joins).

    ``shingles_col``: consume a PRECOMPUTED shingle-array column instead
    of rebuilding grams from text (the pipeline-composition hook). The
    kernel then does pure membership counting over JVM-built strings on
    both sides — no tokenization replication at all — and replicates the
    explode + join + count semantics element-by-element (a duplicate
    gram in the array counts twice, ``n_sh`` is the array length), so it
    is faithful for arbitrary arrays, not just distinct ones. At scale
    this removes the decon stage's per-document aggregation exchange:
    the count never leaves the document's row."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from .dedup import shingles
    from .text import _JAVA_WS

    bench_grams = {
        r[0]
        for r in benchmark.select(
            F.explode(shingles(bench_text_col, k)).alias("_g")
        )
        .distinct()
        .collect()
    }
    bset = df.sparkSession.sparkContext.broadcast(bench_grams)
    schema = T.StructType(
        [
            T.StructField("n_sh", T.IntegerType()),
            T.StructField("n_overlap", T.LongType()),
        ]
    )

    if shingles_col is None:

        def one(s: str) -> tuple:
            toks = _JAVA_WS.sub(" ", s).lower().strip(" ").split(" ")
            n = max(len(toks) - (k - 1), 1)
            gs = {" ".join(toks[i : i + k]) for i in range(n)}
            bs = bset.value
            return (len(gs), sum(1 for g in gs if g in bs))

    else:

        def one(arr) -> tuple:
            bs = bset.value
            n_ov = 0
            for g in arr:
                if g in bs:
                    n_ov += 1
            return (len(arr), n_ov)

    @pandas_udf(schema)
    def _overlap_udf(cells: pd.Series) -> pd.DataFrame:
        rows = [one(c) for c in cells]
        return pd.DataFrame(rows, columns=["n_sh", "n_overlap"])

    # deterministic, but the flag stops the optimizer duplicating the
    # kernel below the pushed-down min_overlap filter (two
    # ArrowEvalPython nodes — guide §4.4, the repetition-kernel lesson)
    overlap_udf = _overlap_udf.asNondeterministic()
    in_col = shingles_col if shingles_col is not None else text_col
    staged = df.filter(F.col(in_col).isNotNull()).select(
        F.col(key_col), overlap_udf(F.col(in_col)).alias("_c")
    )
    return (
        staged.select(
            key_col,
            F.col("_c.n_overlap").alias("n_overlap"),
            F.col("_c.n_sh").alias("_n_sh"),
        )
        .filter(F.col("n_overlap") >= min_overlap)
        .select(
            key_col,
            "n_overlap",
            F.round(F.col("n_overlap") / F.greatest("_n_sh", F.lit(1)), 6).alias(
                "overlap_frac"
            ),
        )
    )


def flag_contaminated(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    bench_text_col: str = "text",
    k: int = 3,
    min_overlap: int = 10,
    broadcast: bool = True,
    shingles_col: str | None = None,
    via: str = "auto",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing >=
    ``min_overlap`` DISTINCT word k-gram shingles with an
    evaluation/benchmark corpus — the standard leakage guard before
    pretraining (the GPT-3/PaLM appendix n-gram-overlap check).

    Scale shape: the benchmark's distinct shingle set is small by
    construction (eval sets are orders of magnitude smaller than the
    training corpus) and is **broadcast** by default; the 100 TB side
    explodes its shingles and hash-joins against it without ever
    shuffling the corpus, then one map-side-combinable count per doc.
    For benchmark sets too large to broadcast, pass ``broadcast=False``
    and the same plan becomes a shuffle hash join keyed on the shingle.

    Returns (key_col, n_overlap, overlap_frac) for flagged documents
    only; ``shingles`` emits distinct grams per doc, so n_overlap counts
    distinct shared shingles and ``overlap_frac = n_overlap /
    n_doc_shingles`` — the length-normalized form whose threshold
    transfers across document lengths (absolute counts over-flag long
    docs). The per-doc shingle total is in-row array math carried through
    the explode as a grouping key, so it costs no extra scan or join.

    ``via`` (r8): 'arrow' computes the corpus side in one Arrow-batched
    pass (no Generate, no join, no aggregation exchange — see
    ``_flag_contaminated_arrow``; with ``shingles_col`` it counts
    membership over the precomputed arrays, with text it rebuilds the
    grams in the kernel); 'join' keeps the explode + hash-join plan;
    'auto' (default) picks 'arrow' exactly when the dictionary is
    broadcastable (a too-big-to-broadcast benchmark keeps the
    shuffle-join shape). Both paths return identical rows (pinned by
    ``test_flag_contaminated_arrow_equals_join``).
    """
    from .dedup import shingles

    if via not in ("auto", "arrow", "join"):
        raise ValueError(f"via must be auto|arrow|join, got {via!r}")
    if via == "arrow" or (via == "auto" and broadcast):
        return _flag_contaminated_arrow(
            df, benchmark, text_col, key_col, bench_text_col, k, min_overlap,
            shingles_col=shingles_col,
        )

    bench = benchmark.select(
        F.explode(shingles(bench_text_col, k)).alias("_g")
    ).distinct()
    if broadcast:
        bench = F.broadcast(bench)
    # two-step select so the shingle array is built once per row and both
    # the size and the explode consume the same materialized column;
    # ``shingles_col`` skips the build entirely and reads a precomputed
    # column (the pipeline-composition hook, see minhash_signatures).
    # explode_OUTER, deliberately: for a plain (non-outer) Generate over a
    # named array column, InferFiltersFromGenerate adds a size(arr)>0
    # filter that is pushed below the upstream exchange — re-evaluating
    # the whole shingle build a second time on the raw scan partitions
    # (measured 4.1s -> 1.2s at sf0.1 from this one change). Outer
    # generates get no inferred filter; the rows it would have dropped
    # (null/empty arrays -> null _g) are dropped by the inner join anyway.
    src = F.col(shingles_col) if shingles_col else shingles(text_col, k)
    doc_g = df.select(key_col, src.alias("_sh")).select(
        key_col, F.size("_sh").alias("_n_sh"), F.explode_outer("_sh").alias("_g")
    )
    return (
        doc_g.join(bench, "_g")
        .groupBy(key_col, "_n_sh")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
        .select(
            key_col,
            "n_overlap",
            F.round(F.col("n_overlap") / F.greatest("_n_sh", F.lit(1)), 6).alias(
                "overlap_frac"
            ),
        )
    )


def strip_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    min_docs: int = 2,
    carry: tuple[str, ...] = (),
    via: str = "auto",
) -> DataFrame:
    """Remove boilerplate lines from every document.

    Returns (key_col, *carry, clean_text): non-boilerplate lines rejoined
    with \\n in original order; a document that was pure boilerplate
    yields ''. ``carry`` (r8) passes metadata columns through on the
    existing per-doc join — a downstream pipeline that needs, say, the
    stratum column no longer pays a SECOND corpus-sized join against the
    raw frame to get it back (at 100 TB that join is a full shuffle of
    corpus keys).

    ``via`` (r8): stripping is a pure per-document rewrite once the
    recurring-line dictionary exists, and the dictionary is the thing
    the join path already assumes broadcastable. 'arrow' collects it
    once and rewrites each document in ONE Arrow-batched pass — the
    corpus is never exploded by line, never re-grouped by key, and
    never joined back: at 100 TB the 'join' plan's reassembly groupBy
    and carry join are two full corpus-text exchanges, and the kernel
    has zero. 'join' keeps the explode -> broadcast-anti-join ->
    reassemble -> join-back plan (and is the path for dictionaries too
    big to hold per worker). 'auto' (default) = 'arrow'. Exactness: the
    kernel replicates the JVM line semantics exactly — split on a
    literal newline (trailing empty lines kept), ``F.trim`` strips
    0x20 only, membership against the identical JVM-built dictionary
    strings — pinned row-identical to the join plan by
    ``test_strip_boilerplate_arrow_equals_join``. Keys are assumed
    unique per row (the corpus contract; the join path's line-merging
    behaviour on duplicate keys was an artifact of the groupBy, not a
    semantic)."""
    if via not in ("auto", "arrow", "join"):
        raise ValueError(f"via must be auto|arrow|join, got {via!r}")
    if via in ("auto", "arrow"):
        from pyspark.sql import types as T
        from pyspark.sql.functions import pandas_udf

        bp_set = {
            r[0]
            for r in boilerplate_lines(df, text_col, key_col, min_docs).collect()
        }
        bset = df.sparkSession.sparkContext.broadcast(bp_set)

        def one(s: str) -> str:
            if s is None:
                return ""
            bs = bset.value
            return "\n".join(
                line for line in s.split("\n") if line.strip(" ") not in bs
            )

        @pandas_udf(T.StringType())
        def _strip_udf(texts: pd.Series) -> pd.Series:
            return pd.Series([one(t) for t in texts], dtype="object")

        # deterministic, but the flag stops pushed-down downstream
        # filters from duplicating the kernel (guide §4.4)
        strip_udf = _strip_udf.asNondeterministic()
        return df.select(
            key_col, *carry, strip_udf(F.col(text_col)).alias("clean_text")
        )

    bp = boilerplate_lines(df, text_col, key_col, min_docs)
    lines = df.select(
        key_col, F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    )
    kept = lines.join(
        F.broadcast(bp), F.trim(lines["line"]) == bp["bline"], "left_anti"
    )
    reassembled = kept.groupBy(key_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text")
    )
    # keep fully-boilerplate docs as empty strings rather than dropping them
    return (
        df.select(key_col, *carry)
        .join(reassembled, key_col, "left")
        .fillna({"clean_text": ""})
    )
