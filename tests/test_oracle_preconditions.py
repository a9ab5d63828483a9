"""Runtime assertions for the CORPUS preconditions the engine-vs-oracle
hash equality of three contract queries rests on (docs/COVERAGE.md).

The oracles for dedup_jaccard / dedup_lsh_verified / pipeline_e2e are
all-pairs while the engine is banded-LSH, and sim_ivf compares BLAS
reductions against DuckDB's sequential inner products — both equalities
are properties of THIS test corpus. If /root/testdata is ever
regenerated, these tests fail with a clear message naming the violated
precondition instead of the contract tests failing with an opaque hash
diff.
"""

import os

import duckdb
import numpy as np
import pytest

import __spark_entry__ as entry

SF_DIR = entry.ORACLE_SF_DIR

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "documents.parquet")),
    reason="oracle corpus not present",
)


def _con():
    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        f"read_parquet('{os.path.join(SF_DIR, 'documents.parquet')}')"
    )
    return con


def test_raw_corpus_jaccard_band_is_empty():
    """dedup_jaccard (threshold 0.5) and dedup_lsh_verified (0.8) assume
    every qualifying pair on the raw(+planted twins) corpus sits at
    j >= 0.9, where the 16x4 banding cannot miss (per-pair miss
    probability ~4e-8) — i.e. the band [0.35, 0.9) is EMPTY. Measured on
    the shipped corpus: max below-band j = 0.067."""
    row = _con().execute("""
      with base as (select doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') as toks from documents),
      twin as (select doc_id + 1000000000000 as doc_id,
                      string_split(trim(regexp_replace(lower(text || ' zq'), '\\s+', ' ', 'g')), ' ') as toks
               from documents where doc_id % 10 = 0),
      allr as (select * from base union all select * from twin),
      sets as (select doc_id, list_distinct(list_transform(range(greatest(len(toks)-2,1)),
                      i -> array_to_string(toks[i+1:i+3], ' '))) as s from allr),
      j as (select len(list_intersect(a.s, b.s)) * 1.0
                     / len(list_distinct(list_concat(a.s, b.s))) as j
            from sets a join sets b on a.doc_id < b.doc_id)
      select count(*) filter (where j >= 0.35 and j < 0.9) as in_band,
             max(case when j < 0.9 then j end) as max_below
      from j
    """).fetchone()
    in_band, max_below = row
    assert in_band == 0, (
        f"ORACLE PRECONDITION VIOLATED: {in_band} pairs in the jaccard band "
        f"[0.35, 0.9) on the raw corpus (max below-band j={max_below}); the "
        "banded-LSH engine may now miss qualifying pairs the all-pairs "
        "dedup_jaccard/dedup_lsh_verified oracles enumerate — regenerate the "
        "corpus or re-derive the thresholds (docs/COVERAGE.md)"
    )


@pytest.mark.parametrize("plant", [False, True], ids=["e2e", "substring"])
def test_pipeline_lsh_candidates_cover_qualifying_pairs(spark, plant):
    """pipeline_e2e's near-dedup (threshold 0.8, CLEANED text) does NOT
    have an empty band — 8 qualifying pairs sit in [0.857, 0.898) on the
    shipped corpus — so its engine-vs-oracle equality rests on the stronger,
    deterministic fact asserted here: the fixed-seed 16x4 MinHash banding
    produces a candidate set that covers EVERY all-pairs qualifying pair
    of the cleaned corpus. (The pipeline's s2 stage is a subset of the
    cleaned corpus, so coverage here implies coverage there.) Checked on
    BOTH corpora: the pipeline_e2e one and the substring-planted
    pipeline_substring one (plants perturb shingle sets slightly)."""
    from pyspark.sql import functions as F

    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
    )
    from smartlogic_concordance_transformer_spark.datapipe.hygiene import (
        strip_boilerplate,
    )
    from smartlogic_concordance_transformer_spark.datapipe.text import scrub_pii

    raw, _ = entry._pipeline_raw(spark, SF_DIR, plant_substrings=plant)
    cleaned = strip_boilerplate(raw, min_docs=5).select(
        "doc_id", scrub_pii(F.col("clean_text")).alias("text")
    ).localCheckpoint(eager=False)

    sigs = minhash_signatures(cleaned, num_hashes=64, k=3)
    cand = minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)
    cand_pairs = {(r.a, r.b) for r in cand.collect()}

    # all-pairs qualifying set (test scale only — oracles don't scale)
    ids = cleaned.select("doc_id")
    all_pairs = (
        ids.alias("x")
        .crossJoin(ids.alias("y"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
    )
    qualifying = {
        (r.a, r.b)
        for r in ngram_jaccard_pairs(cleaned, all_pairs, k=3, threshold=0.8).collect()
    }
    assert qualifying, "expected planted near-dup pairs in the pipeline corpus"
    missed = qualifying - cand_pairs
    assert not missed, (
        f"ORACLE PRECONDITION VIOLATED: banded LSH misses {len(missed)} "
        f"qualifying pair(s) {sorted(missed)[:5]} of the cleaned pipeline "
        "corpus; pipeline_e2e's engine (banded) would diverge from its "
        "all-pairs oracle — regenerate the corpus or widen the banding"
    )


def test_pipeline_substring_stage_fires(spark):
    """pipeline_substring's engine-vs-oracle hash equality would also hold
    if the excision stage silently no-opped (both sides would emit the
    unrewritten text) — assert the planted duplication actually fires on
    the shipped corpus: keep-first leaves exactly ONE copy of the planted
    cross-doc disclaimer and of the corpus-wide scrubbed PII line, and
    every planted within-doc back-to-back repeat is collapsed."""
    con = _con()
    firsts = dict(
        con.execute(
            "select doc_id, substr(text, 1, 60) from read_parquet(?) "
            "where doc_id % 45 = 13",
            [os.path.join(SF_DIR, "documents.parquet")],
        ).fetchall()
    )
    by_id = {
        r.doc_id: r.clean for r in entry.q_pipeline_substring(spark, SF_DIR).collect()
    }
    disc_docs = [i for i in by_id if i % 30 == 7]
    assert len(disc_docs) >= 2, "planted disclaimer docs dropped before excision"
    assert sum(entry._SUB_DISC in by_id[i] for i in disc_docs) == 1
    pii = "contact <EMAIL> or <PHONE> ssn <SSN> card <CC> ip <IP>"
    assert sum(pii in c for c in by_id.values()) == 1
    rep_docs = [i for i in by_id if i % 45 == 13]
    assert rep_docs, "planted within-doc repeat docs dropped before excision"
    for i in rep_docs:
        u = firsts[i]
        assert u + u not in by_id[i] and by_id[i].count(u) <= 1


def test_pipeline_paragraph_stage_fires(spark):
    """pipeline_paragraph's engine-vs-oracle hash equality would also hold
    if the paragraph stage silently no-opped — assert the planted
    duplication actually fires on the shipped corpus: keep-first leaves
    exactly ONE copy of each planted community-guidelines group line and
    exactly ONE copy of the corpus-wide scrubbed PII line, and every
    non-winner planted doc had its line excised (not the doc dropped)."""
    by_id = {
        r.doc_id: r.clean for r in entry.q_pipeline_paragraph(spark, SF_DIR).collect()
    }
    planted = [i for i in by_id if i % 55 == 19]
    assert len(planted) >= 4, "planted paragraph docs dropped before the stage"
    for g in range(3):
        line = f"community guidelines apply to group {g}"
        group_docs = [i for i in planted if i % 3 == g]
        if not group_docs:
            continue
        hits = [i for i in group_docs if line in by_id[i]]
        assert hits == [min(group_docs)], (g, hits, group_docs)
    pii = "contact <EMAIL> or <PHONE> ssn <SSN> card <CC> ip <IP>"
    assert sum(pii in c for c in by_id.values()) == 1


def test_sim_ivf_float_separation():
    """sim_ivf's hash equality needs no two cell distances (per corpus
    row), probe distances (per query), or rerank scores (per query) to be
    within ~1 ulp — BLAS vs sequential summation could then order them
    differently. Measured margins on the shipped corpus: min cell gap
    3.2e-6, min probe gap 2.5e-4, min rerank score gap 9.2e-7; asserted
    with >=100x headroom over the thresholds below."""
    import pyarrow.parquet as pq

    from smartlogic_concordance_transformer_spark.datapipe.similarity import (
        lloyd_kmeans,
    )

    path = os.path.join(SF_DIR, "embeddings.parquet")
    if not os.path.exists(path):
        pytest.skip("embeddings parquet not present (sim_ivf degrades to rows-only)")
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    vec_ids = np.asarray(t.column("vec_id"))
    X = np.asarray(t.column("embedding").to_pylist(), dtype="float64")
    order = np.argsort(vec_ids, kind="stable")
    even = vec_ids[order] % 2 == 0
    C = np.asarray(
        lloyd_kmeans(
            X[order][even][: entry._IVF_MAX_TRAIN],
            k=entry._IVF_K,
            iters=entry._IVF_ITERS,
            seed=entry._IVF_SEED,
        ),
        dtype="float64",
    )

    # corpus-side cell assignment margins: ||c||^2 - 2 x.c per centroid
    s = (C * C).sum(1)[None, :] - 2.0 * X @ C.T
    ss = np.sort(s, axis=1)
    cell_gap = float(np.diff(ss, axis=1).min())
    assert cell_gap > 1e-8, (
        f"ORACLE PRECONDITION VIOLATED: two IVF cell distances within "
        f"{cell_gap:.2e} — sim_ivf assignment may tie-break differently "
        "across engines (docs/COVERAGE.md)"
    )

    # query-side probe + rerank margins for the 5 contract queries
    q = X[np.isin(vec_ids, [0, 1, 2, 3, 4])]
    d = ((q[:, None, :] - C[None, :, :]) ** 2).sum(2)
    probe_gap = float(np.diff(np.sort(d, axis=1), axis=1).min())
    assert probe_gap > 1e-8, (
        f"ORACLE PRECONDITION VIOLATED: two IVF probe distances within "
        f"{probe_gap:.2e} — probe selection may differ across engines"
    )

    cells = s.argmin(1)
    norms = np.linalg.norm(X, axis=1)
    for qi in range(len(q)):
        probes = np.argsort(d[qi])[:4]
        mask = np.isin(cells, probes)
        sc = np.sort((X[mask] @ q[qi]) / (norms[mask] * np.linalg.norm(q[qi])))
        score_gap = float(np.diff(sc).min())
        assert score_gap > 1e-9, (
            f"ORACLE PRECONDITION VIOLATED: query {qi} has two rerank "
            f"scores within {score_gap:.2e} — sim_ivf top-k order may "
            "differ across engines"
        )


def test_events_click_view_timestamps_unique_per_user():
    """asof_join / asof_tolerance / asof_nearest hash equality rests on
    (user_id, ts) being UNIQUE within clicks and within views: duplicate
    right timestamps would make DuckDB's ASOF pick among them arbitrary
    while the engine picks deterministically by input order (and nearest's
    backward/forward composition would diverge the same way)."""
    p = os.path.join(SF_DIR, "events.parquet")
    if not os.path.exists(p):
        pytest.skip("events corpus not present")
    con = duckdb.connect()
    dups = con.execute(f"""
      select event_type, count(*) from (
        select event_type, user_id, ts, count(*) as c
        from read_parquet('{p}')
        where event_type in ('click', 'view')
        group by 1, 2, 3 having count(*) > 1)
      group by 1
    """).fetchall()
    assert dups == [], (
        f"duplicate (user_id, ts) rows in {dups} — the ASOF oracles' pick "
        "among equal timestamps is undefined; regenerate or re-key the corpus"
    )


def test_corpus_has_no_record_separator_char():
    """The text_bpe_merges oracle encodes its list_reduce accumulator as
    a chr(30)-joined string — a corpus token containing chr(30) would
    corrupt the symbol-list round-trip."""
    n = _con().execute(
        "select count(*) from documents where contains(text, chr(30))"
    ).fetchone()[0]
    assert n == 0, "corpus contains chr(30); pick another separator for _bpe_oracle"


def test_semantic_cell_and_pair_margins():
    """dedup_semantic's hash equality rests on engine (numpy BLAS) and
    oracle (DuckDB sequential) float reductions agreeing on every
    DISCRETE decision: (a) the argmax cell per corpus row, (b) each
    within-cell pair's >= 0.99 threshold comparison, (c) the keep rule's
    ordering (planted pairs tie bit-exactly — x2 scaling commutes with
    IEEE rounding — so min-key decides in both engines). Reductions in
    different orders agree to ~1e-13 relative; assert every margin is
    orders of magnitude wider."""
    import pyarrow.parquet as pq

    C = np.asarray(entry._oracle_centroid_matrix(), dtype="float64")
    t = pq.read_table(
        os.path.join(SF_DIR, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    vec_ids = np.asarray(t.column("vec_id"))
    X = np.asarray(t.column("embedding").to_pylist(), dtype="float64")
    base = X[vec_ids < 1000]
    base_ids = vec_ids[vec_ids < 1000]
    # + the incremental query's new batch: x2-scaled twins AND byte-exact
    # re-ingests (identical vectors add no new margins, included for form)
    corpus = np.vstack(
        [base, 2.0 * base[base_ids % 7 == 0], base[base_ids % 25 == 0]]
    )

    cn = np.sqrt((C * C).sum(axis=1))
    xn = np.sqrt((corpus * corpus).sum(axis=1))
    scores = (corpus @ C.T) / (xn[:, None] * cn[None, :])
    top2 = np.sort(scores, axis=1)[:, -2:]
    cell_margin = (top2[:, 1] - top2[:, 0]).min()
    assert cell_margin > 1e-6, (
        f"argmax cell margin {cell_margin:.3e} too thin for cross-engine "
        "float agreement — regenerate corpus or raise k"
    )

    cells = scores.argmax(axis=1)
    n_base = len(base)
    margins = []
    for cell in range(len(C)):
        idx = np.where(cells == cell)[0]
        if len(idx) < 2:
            continue
        V = corpus[idx] / xn[idx][:, None]
        cos = V @ V.T
        iu = np.triu_indices(len(idx), k=1)
        # planted pairs are (i, i+n_base) with cos == 1; margin is how
        # far every pair sits from the 0.99 threshold
        margins.append(np.abs(cos[iu] - 0.99).min())
    pair_margin = min(margins)
    assert pair_margin > 1e-3, (
        f"within-cell pair cosine sits {pair_margin:.3e} from the 0.99 "
        "threshold — too close for cross-engine float agreement"
    )


def test_pipeline_classifier_stage_fires(spark):
    """pipeline_classifier's hash equality would also hold if the model
    gate silently no-opped AND no doc were planted — assert the gate
    actually decides on the shipped corpus: every planted 35k+11 base
    doc reaches the classifier (not eaten by an earlier stage) and
    drops there with >=10x logit margin, and no unplanted doc is
    touched by it (invented tokens => logit exactly 0.0)."""
    rows = entry.q_pipeline_classifier(spark, SF_DIR).collect()
    by_stage: dict[str, list[int]] = {}
    for r in rows:
        by_stage.setdefault(r["stage"], []).append(r["doc_id"])
    clf = by_stage.get("classifier", [])
    planted = [
        i for i in {r["doc_id"] for r in rows}
        if i % 35 == 11 and i < 200000  # base family, not twin/spam ids
    ]
    assert planted, "corpus has no 35k+11 docs"
    assert sorted(clf) == sorted(planted), (
        "classifier stage must catch exactly the planted family: "
        f"extra={sorted(set(clf) - set(planted))[:5]} "
        f"missed={sorted(set(planted) - set(clf))[:5]}"
    )
    # margin check: the weakest planted doc clears the threshold 5x even
    # on RAW text (banner/PII/footer tokens included — the actual gate
    # runs on CLEANED text, which is strictly shorter, i.e. strictly
    # more negative than this bound)
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        classifier_logit,
    )

    raw, _ = entry._pipeline_raw(spark, SF_DIR, plant_classifier=True)
    import pyspark.sql.functions as F

    worst = (
        raw.filter((F.pmod("doc_id", 35) == 11) & (F.col("doc_id") < 200000))
        .select(classifier_logit("text", entry._CLF_WEIGHTS).alias("lg"))
        .agg(F.max("lg"))
        .collect()[0][0]
    )
    assert worst <= entry._CLF_THRESHOLD * 5
