"""End-to-end pretraining-data curation: the composition a real 100 TB
run would execute, as ONE DataFrame DAG over the library operators:

    hygiene (boilerplate strip + PII scrub)
      -> quality / repetition gates
      -> exact dedup -> MinHash->LSH->Jaccard near-dedup
      -> benchmark decontamination
      -> stratified mix -> deterministic train/test split

Every stage is individually oracle-checked elsewhere; this module proves
they COMPOSE — column contracts line up, and the shared ``shingles``
builder keeps gram semantics identical across dedup/decontamination.
Building the cascade is not free of jobs: ``strip_boilerplate`` and
``flag_contaminated`` each run one job at construction time to collect
their dictionary (recurring lines, benchmark shingles) to the driver and
broadcast it. Everything else stays a lazy plan cut by the barriers
below.

Output is a per-document ledger (doc_id, kept, stage, split): ``stage``
is the first stage that dropped the doc ('quality', 'repetition',
['classifier',] 'exact_dup', 'near_dup', 'contaminated', 'mix') or
'kept'; ``split`` is
'train'/'test' for kept docs, null otherwise.

Scale shape: the cleaned corpus (clean text + per-doc quality/repetition
stats) is computed ONCE and lazily checkpointed — it feeds six consumers
(two gate filters, fingerprint dedup, shingle signatures, decon explode,
the final union), which at 100 TB you would persist as an intermediate
table instead. The per-stage survivor/drop-key frames are likewise
lazily checkpointed: they are tiny, but their LINEAGE is the expensive
part of the DAG, and without truncation every union branch that
references a later stage replays the MinHash->LSH->Jaccard subgraph
(measured 3.1x end-to-end at sf0.1: 58.3s with an identity barrier vs
18.8s truncated, same 5,209-row ledger; the gap grows with stage
count). Stage scan counts over
the materialized base: exact dedup 1 (a window over a slim (key, hash)
projection; the loser keys attach by anti-join), near-dedup 2
(signature agg + candidate verify), decontamination 1 (one Arrow-batched
membership pass over the precomputed shingle column, against the
collected benchmark dictionary), mix/split 0 extra (pure projections on
survivors). Nothing all-pairs; the only collects are the two dictionaries
above.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import minhash_lsh_candidates, minhash_signatures, ngram_jaccard_pairs
from .hygiene import flag_contaminated, strip_boilerplate
from .sampling import stratified_sample, train_test_split
from .text import quality_score, repetition_stats, scrub_pii


def _drop(df: DataFrame, key_col: str, stage: str) -> DataFrame:
    return df.select(
        key_col,
        F.lit(False).alias("kept"),
        F.lit(stage).alias("stage"),
        F.lit(None).cast("string").alias("split"),
    )


def pretraining_pipeline(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    strata_col: str = "source",
    min_quality: float = 0.7,
    max_dup_word_frac: float = 0.7,
    max_top_2gram_frac: float = 0.125,
    jaccard_threshold: float = 0.8,
    contamination_frac: float = 0.5,
    mix_fractions: dict[str, int] | None = None,
    boilerplate_min_docs: int = 5,
    shingle_k: int = 3,
    paragraph_dedup: bool = False,
    paragraph_min_chars: int = 1,
    substring_dedup: bool = False,
    substring_k: int = 50,
    classifier_weights: dict[str, int] | None = None,
    classifier_threshold: float = 0.0,
    materialize: Callable[[DataFrame, str], DataFrame] | None = None,
) -> DataFrame:
    """Run the full curation cascade; returns the per-doc ledger.

    ``docs``: (key_col, strata_col, text_col) raw corpus.
    ``benchmark``: (text_col,) eval corpus for decontamination (may
    overlap the training corpus — leaked eval sets are the point).
    Near-dedup drops the larger key of every verified pair (deterministic
    and non-recursive; cluster-representative dedup is
    ``connected_components`` composed downstream if wanted).

    ``materialize``: optional ``(df, stage_name) -> df`` barrier hook.
    Default is ``localCheckpoint(eager=False)`` — in-memory lineage
    truncation, right at test scale. Pass an
    ``io_tables.StageMaterializer`` (or any writer that persists and
    re-reads) to make every barrier a durable intermediate table: the
    run becomes resumable per stage via the stage ledger (a rerun over
    the same root reuses completed stages), which is the 100 TB shape
    the module docstring describes. Stage names, in write order:
    cleaned, base, s2, sigs, dup_keys, [paragraphs,] [excised,]
    flagged, kept_mix.

    ``paragraph_dedup``: insert a paragraph-grain dedup stage (the
    RefinedWeb rule) between near-dedup and the substring/decon tail —
    each distinct paragraph keeps only its corpus-wide first occurrence
    (lowest ``(key, idx)``), documents are REWRITTEN in place (no new
    drop stage), and the shingle column rebuilds from the rewritten
    text. Paragraphs shorter than ``paragraph_min_chars`` pass through.
    Stage name: 'paragraphs'. Composes with ``substring_dedup`` —
    paragraph grain first (cheap exact line hashing), substring spans
    on what survives.

    ``substring_dedup``: insert a substring-level dedup stage (Lee et
    al. 2022) between near-dedup and decontamination — duplicated
    >= ``substring_k``-char spans are excised from the survivors,
    keeping each duplicated gram's corpus-wide first copy. The stage
    REWRITES documents rather than dropping them (the ledger gains no
    new drop stage); with a durable ``materialize`` the 'excised' table
    is the run's curated-text artifact. The shingle column is REBUILT
    from the excised text so decontamination judges what training will
    actually see, not pre-excision grams.

    ``classifier_weights``: enable the model-based quality gate (the
    CCNet / Llama 'quality classifier' stage): a trained token -> integer
    milli-weight vocabulary applied via ``text.classifier_logit`` over
    the CLEANED text; docs whose mean-pooled logit is <=
    ``classifier_threshold`` drop with stage 'classifier'. The gate runs
    AFTER the heuristic quality/repetition gates (cheap rules first,
    model second — the standard cascade order) and adds no shuffle: the
    logit is an in-row fold over the already-barriered base.
    """
    mix_fractions = mix_fractions or {}
    barrier = materialize or (lambda df, stage: df.localCheckpoint(eager=False))

    # -- hygiene: boilerplate strip, then PII scrub on the survivor lines.
    # The barrier here is as much about PLAN size as data reuse: the scrub
    # chain over the line-reassembly aggregate is a large expression tree,
    # and without the cut Catalyst re-optimizes a copy of it inlined into
    # every downstream consumer (quality, stats, hashing, shingling) —
    # at sf0.1 driver-side planning dominated wall time before the cut.
    # r8: the stratum column rides the hygiene join (carry=) and the
    # repetition statistics are computed IN-LINE on the cleaned frame —
    # the former shape joined the stats frame back and joined the raw
    # corpus again for the stratum, i.e. two corpus-keyed joins (at
    # 100 TB: two full shuffles of corpus keys) for columns that are
    # pure per-row functions of data already in hand.
    cleaned = (
        strip_boilerplate(
            docs,
            text_col=text_col,
            key_col=key_col,
            min_docs=boilerplate_min_docs,
            carry=(strata_col,),
        )
        .select(key_col, strata_col, scrub_pii(F.col("clean_text")).alias("clean"))
    )
    cleaned = barrier(cleaned, "cleaned")
    base = (
        repetition_stats(
            cleaned,
            text_col="clean",
            key_col=key_col,
            ns=(2,),
            carry=("clean", strata_col),
        )
        .drop("dup_line_frac", "dup_para_frac")
        .withColumn("quality", quality_score("clean"))
    )
    # one materialization feeding every downstream consumer; with the
    # default barrier the first action below realizes it (lazy -> no
    # extra job). At real scale this is a written intermediate table
    # (materialize= makes exactly that happen).
    base = barrier(base, "base")

    # -- quality / repetition gates
    q_ok = F.col("quality") >= min_quality
    r_ok = (F.col("dup_word_frac") <= max_dup_word_frac) & (
        F.col("top_2gram_frac") <= max_top_2gram_frac
    )
    drops_quality = _drop(base.filter(~q_ok), key_col, "quality")
    drops_rep = _drop(base.filter(q_ok & ~r_ok), key_col, "repetition")

    # -- model-based quality gate (optional): cheap heuristic rules
    # above prune first, the classifier judges only their survivors —
    # in-row fold over the barriered base, no new scan, no shuffle
    if classifier_weights is not None:
        from .text import classifier_logit

        c_ok = (
            classifier_logit(F.col("clean"), classifier_weights)
            > classifier_threshold
        )
        drops_clf = _drop(base.filter(q_ok & r_ok & ~c_ok), key_col, "classifier")
        s1 = base.filter(q_ok & r_ok & c_ok)
    else:
        drops_clf = None
        s1 = base.filter(q_ok & r_ok)

    # -- exact dedup (lowest key survives). r8: decide with small rows,
    # move big rows never (guide §8) — the former shape ranked a window
    # partitioned by sha2(clean) over the FULL base rows, i.e. the whole
    # cleaned corpus (text + stats + stratum) crossed one exchange keyed
    # by content hash. The decision only needs (key, hash): rank a slim
    # two-column projection, keep the loser KEYS (exact-duplicate docs —
    # small relative to the corpus), and attach them with semi/anti
    # joins on the doc key. Locally AQE broadcasts the loser set (no
    # corpus shuffle at all); at run scale the base is a persisted table
    # bucketed by key, so the id-keyed attach is co-partitioned where a
    # content-hash window could never be. The loser set is identical to
    # the window's _rn > 1 rows by construction (same partition key,
    # same orderBy, same row_number rule). Like ``dedup.exact_dedup`` it
    # assumes unique, non-null keys (unchecked — a check costs a pass):
    # a loser key shared by several rows removes all of them, and a
    # null-key loser is never removed (a null never equi-joins), though
    # the ledger still records it as an exact_dup drop.
    #
    # s2 is checkpointed with the doc's shingle SET materialized as a
    # column: four downstream consumers (signatures, pair verify x2,
    # decontamination) read the column instead of each rebuilding the
    # gram expression — one gram build per doc and one optimization of
    # that tree, not four.
    from .dedup import shingles

    w = Window.partitionBy("_h").orderBy(key_col)
    losers = (
        s1.select(key_col, F.sha2(F.col("clean"), 256).alias("_h"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(key_col)
        .localCheckpoint(eager=False)
    )
    drops_exact = _drop(losers, key_col, "exact_dup")
    s2 = (
        s1.join(losers, key_col, "left_anti")
        .withColumn("_sh", shingles("clean", shingle_k))
    )
    s2 = barrier(s2, "s2")

    # -- near-dedup: MinHash -> banded LSH -> exact Jaccard verify.
    # Signatures get their own barrier: the banded self-join consumes
    # them on BOTH sides, and the 64-wide min aggregate is the single
    # most expensive subplan for Catalyst — without the cut it is
    # optimized twice. (At run scale the signature table is persisted
    # anyway — it is the unit of incremental dedup.)
    sigs = barrier(
        minhash_signatures(s2, key_col=key_col, num_hashes=64, shingles_col="_sh"),
        "sigs",
    )
    # sigs and s2 are already barriered above — skip the operators'
    # internal lineage cut (it would be a redundant second copy)
    cand = minhash_lsh_candidates(
        sigs, key_col=key_col, bands=16, rows_per_band=4, truncate_lineage=False
    )
    pairs = ngram_jaccard_pairs(
        s2,
        cand,
        key_col=key_col,
        threshold=jaccard_threshold,
        shingles_col="_sh",
        truncate_lineage=False,
    )
    # the drop-key frames are TINY but their lineage is the expensive
    # part of the whole DAG — checkpoint them (lazily) so the
    # MinHash->LSH->Jaccard subgraph runs ONCE, not once per consumer
    # branch of the final union (measured 3.1x end-to-end at sf0.1 via
    # the identity-barrier hook; the gap grows with the number of stages)
    dup_keys = barrier(
        pairs.select(F.col("b").alias(key_col)).distinct(), "dup_keys"
    )
    drops_near = _drop(s2.join(dup_keys, key_col, "left_semi"), key_col, "near_dup")
    s3 = s2.join(dup_keys, key_col, "left_anti")

    if paragraph_dedup:
        # -- paragraph-grain dedup (RefinedWeb): excise every non-first
        # occurrence of each distinct paragraph from the near-dedup
        # survivors. Whole-document grain above caught copies; this
        # catches the shared LINE (quote blocks, license footers, the
        # corpus-wide scrubbed-PII line) inside otherwise-distinct docs.
        # Shingles rebuild so downstream stages judge the rewritten text.
        from .dedup import paragraph_dedup as _paragraph_dedup

        s3 = (
            _paragraph_dedup(
                s3, text_col="clean", key_col=key_col,
                min_chars=paragraph_min_chars, clean_col="clean",
            )
            .drop("n_dropped")
            .withColumn("_sh", shingles("clean", shingle_k))
        )
        s3 = barrier(s3, "paragraphs")

    if substring_dedup:
        # -- substring-level dedup (Lee et al. 2022): cut duplicated
        # >= substring_k-char spans out of the near-dedup survivors,
        # keep-first. Whole-document grain above caught copies; this
        # catches the shared boilerplate/citation/disclaimer RUNS inside
        # otherwise-distinct documents. Shingles rebuild from the excised
        # text — decontamination must judge post-excision content — and
        # the stage barriers: the span join subgraph is expensive lineage
        # every downstream consumer would otherwise replay.
        from .dedup import excise_duplicate_substrings

        s3 = (
            excise_duplicate_substrings(
                s3, text_col="clean", key_col=key_col, k=substring_k,
                keep_first=True, clean_col="clean",
            )
            .withColumn("_sh", shingles("clean", shingle_k))
        )
        s3 = barrier(s3, "excised")

    # -- benchmark decontamination, length-normalized threshold
    flagged = (
        flag_contaminated(
            s3, benchmark, text_col="clean", key_col=key_col,
            bench_text_col=text_col, k=shingle_k, min_overlap=1,
            shingles_col="_sh",
        )
        .filter(F.col("overlap_frac") >= contamination_frac)
        .select(key_col)
    )
    flagged = barrier(flagged, "flagged")
    drops_con = _drop(s3.join(flagged, key_col, "left_semi"), key_col, "contaminated")
    # decontamination is the last consumer of clean/_sh — carry only the
    # columns mix/split read, so the mix barrier persists keys+strata,
    # not per-doc text and shingle arrays
    s4 = s3.join(flagged, key_col, "left_anti").select(key_col, strata_col)

    # -- pretraining mix (per-stratum deterministic downsample)
    kept_mix = barrier(
        stratified_sample(s4, mix_fractions, strata_col=strata_col, key_col=key_col),
        "kept_mix",
    )
    drops_mix = _drop(s4.join(kept_mix.select(key_col), key_col, "left_anti"), key_col, "mix")

    # -- deterministic split on the final kept set
    kept = train_test_split(kept_mix, key_col=key_col).select(
        key_col,
        F.lit(True).alias("kept"),
        F.lit("kept").alias("stage"),
        F.col("split"),
    )

    out = kept
    parts = [drops_quality, drops_rep, drops_exact, drops_near, drops_con, drops_mix]
    if drops_clf is not None:
        parts.insert(2, drops_clf)
    for part in parts:
        out = out.unionByName(part)
    return out
