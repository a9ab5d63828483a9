"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from smartlogic_concordance_transformer_spark.datapipe import (
    FEATURE_SCHEMA,
    MEDIA_SCHEMA,
    brute_force_topk,
    detect_language,
    exact_dedup,
    extract_features,
    fingerprint,
    frame_sample_plan,
    lsh_ann_topk,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_score,
    simhash,
    simhash_near_dups,
    token_count,
    winnowing_fingerprints,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm sun and the birds sing in the tall green trees all day"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE, "en", "web", len(BASE)),
        (2, BASE, "en", "web", len(BASE)),  # exact dup of 1
        (3, BASE.replace("lazy", "sleepy"), "en", "web", 10),  # near dup of 1
        (4, "der hund und die katze sind nicht auf der wiese mit dem ball", "de", "web", 10),
        (5, "le chat et le chien sont dans la maison pour une fete", "fr", "web", 10),
        (6, "el perro y el gato en la casa por una fiesta grande", "es", "web", 10),
        (7, "completely different text about spark query engines and shuffles at scale", "en", "web", 10),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_exact_dedup(docs):
    kept = exact_dedup(docs)
    ids = {r.doc_id for r in kept.collect()}
    assert 1 in ids and 2 not in ids  # lowest key wins
    assert ids == {1, 3, 4, 5, 6, 7}


def test_minhash_lsh_finds_near_dup(docs):
    sig = minhash_signatures(docs, num_hashes=64, k=3)
    cand = minhash_lsh_candidates(sig, bands=16, rows_per_band=4)
    pairs = {(r.a, r.b) for r in cand.collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup collides w.h.p.
    verified = ngram_jaccard_pairs(docs, cand, k=3, threshold=0.8)
    vp = {(r.a, r.b): r.jaccard for r in verified.collect()}
    assert vp[(1, 2)] == 1.0
    # doc 7 shares essentially nothing with doc 1
    assert (1, 7) not in vp


def test_simhash_near_dups(docs):
    fps = simhash(docs)
    vals = {r.doc_id: r.simhash for r in fps.collect()}
    assert vals[1] == vals[2]
    nd = {(r.a, r.b) for r in simhash_near_dups(fps).collect()}
    assert (1, 2) in nd
    assert (1, 7) not in nd


def test_langid_on_real_sentences(docs):
    got = {r.doc_id: r.pred for r in docs.select("doc_id", detect_language("text").alias("pred")).collect()}
    assert got[1] == "en" and got[4] == "de" and got[5] == "fr" and got[6] == "es"


def test_token_count_and_quality(docs, spark):
    rows = docs.select("doc_id", token_count("text").alias("tc"), quality_score("text").alias("qs")).collect()
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].tc == len(BASE.split())
    assert 0.0 <= by_id[7].qs <= 1.0
    junk = spark.createDataFrame([(9, "!!! ### $$$ %%%", "x", "web", 10)], docs.schema)
    qs = junk.select(quality_score("text").alias("q")).first().q
    assert qs <= 0.25


def test_fingerprint_normalization(spark, docs):
    a = spark.createDataFrame([(1, "Hello   World", "en", "w", 1)], docs.schema)
    b = spark.createDataFrame([(2, "hello world", "en", "w", 1)], docs.schema)
    fa = a.select(fingerprint("text").alias("f")).first().f
    fb = b.select(fingerprint("text").alias("f")).first().f
    assert fa == fb


def test_winnowing_overlap(docs):
    fps = docs.select("doc_id", winnowing_fingerprints("text").alias("w")).collect()
    by_id = {r.doc_id: set(r.w) for r in fps}
    sim_13 = len(by_id[1] & by_id[3]) / len(by_id[1] | by_id[3])
    sim_17 = len(by_id[1] & by_id[7]) / len(by_id[1] | by_id[7])
    assert sim_13 > 0.5 > sim_17


def test_winnow_fingerprint_sets_matches_expression_form(docs):
    # the DataFrame op (two projections, hash array materialized) must
    # produce the same fingerprint sets as the one-expression form
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        winnow_fingerprint_sets,
    )

    expr = {
        r.doc_id: sorted(r.w)
        for r in docs.select("doc_id", winnowing_fingerprints("text").alias("w")).collect()
    }
    dfop = {r.doc_id: sorted(r.fps) for r in winnow_fingerprint_sets(docs).collect()}
    assert expr == dfop
    # the hash-array build must appear exactly once in the plan (the
    # O(n_windows x n_grams) re-evaluation this op exists to avoid)
    plan = winnow_fingerprint_sets(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("xxhash64") == 1, plan


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((50, 8)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], i % 3) for i in range(50)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk_matches_numpy(emb):
    data = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk(emb, queries, k=5).collect()
    for qid in (0, 1):
        q = data[qid]
        sims = {
            i: float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
            for i, v in data.items()
        }
        expect = [i for i, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]]
        mine = [r.vec_id for r in sorted((r for r in got if r.query_id == qid), key=lambda r: r.rank)]
        assert mine == expect


def test_lsh_ann_self_hit(emb):
    queries = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    got = lsh_ann_topk(emb, queries, dim=8, k=3)
    top1 = {r.query_id: r.vec_id for r in got.collect() if r.rank == 1}
    # a vector's nearest neighbor in its own bucket is itself
    assert all(top1[q] == q for q in top1)


def test_multimodal_plumbing(spark):
    media = spark.createDataFrame(
        [(i, "image", "image/png", bytes([i % 256]) * 32, 8, 8, None) for i in range(20)]
        + [(100, "video", "video/mp4", b"v", None, None, 3000)],
        MEDIA_SCHEMA,
    )
    feats = extract_features(media, fake=True)
    assert feats.schema == FEATURE_SCHEMA
    rows = feats.collect()
    assert len(rows) == 21 and all(len(r.feature) == 16 for r in rows)
    # deterministic: same payload -> same feature
    again = {r.media_id: r.feature for r in extract_features(media, fake=True).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)
    assert frame_sample_plan(media).count() == 4  # 0,1000,2000,3000
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        extract_features(media, fake=False).count()


def test_ivf_search_recall(spark, emb):
    from smartlogic_concordance_transformer_spark.datapipe.similarity import (
        ivf_search,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(emb, k=8, seed=3)
    assert len(cents) == 8 and len(cents[0]) == 8
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_search(emb, queries, cents, k=5, nprobe=4)
    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, recall
    # self-hit must always be found (query vector is in its own cell)
    top1 = {r.query_id: r.vec_id for r in approx.collect() if r.rank == 1}
    assert all(top1[q] == q for q in top1)


def test_ivf_training_collect_is_row_bounded(spark, emb):
    # the driver-side training collect is capped by ROW COUNT, not fraction
    # (a fraction scales with corpus size — unsafe at 10^9 rows). With
    # max_train_rows < k, k-means can only return as many centroids as
    # training rows, proving the limit reached the collect.
    from smartlogic_concordance_transformer_spark.datapipe.similarity import (
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(emb, k=16, sample_fraction=1.0, max_train_rows=7)
    assert len(cents) == 7


def test_scrub_pii(spark):
    from smartlogic_concordance_transformer_spark.datapipe import scrub_pii

    rows = [
        (1, "mail me at jane.doe+x@corp.example.co.uk please"),
        (2, "call +1 (415) 555-0137 or 415-555-0137 today"),
        (3, "ssn 123-45-6789 card 4111-1111-1111-1111 and 4111 1111 1111 1111"),
        (4, "server at 10.0.42.7 port 80"),
        (5, "no pii here, just words and the number 12345"),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    out = {r.id: r.c for r in df.select("id", scrub_pii("t").alias("c")).collect()}
    assert out[1] == "mail me at <EMAIL> please"
    assert out[2] == "call <PHONE> or <PHONE> today"
    assert out[3] == "ssn <SSN> card <CC> and <CC>"
    assert out[4] == "server at <IP> port 80"
    assert out[5] == rows[4][1]


def test_strip_boilerplate(spark):
    from smartlogic_concordance_transformer_spark.datapipe import (
        boilerplate_lines,
        strip_boilerplate,
    )

    hdr, ftr = "== accept cookies ==", "unsubscribe here"
    rows = [(i, f"{hdr}\nbody line {i}\nsecond body {i}\n{ftr}") for i in range(4)]
    rows.append((9, f"{hdr}\n{ftr}"))  # pure boilerplate -> empty doc
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    bp = {r.bline for r in boilerplate_lines(df, min_docs=3).collect()}
    assert bp == {hdr, ftr}
    out = {r.doc_id: r.clean_text for r in strip_boilerplate(df, min_docs=3).collect()}
    assert out[2] == "body line 2\nsecond body 2"  # order preserved
    assert out[9] == ""  # fully-boilerplate doc kept as empty, not dropped
    assert set(out) == {0, 1, 2, 3, 9}


def test_strip_boilerplate_arrow_equals_join(spark):
    # r8: the default Arrow rewrite kernel must return rows IDENTICAL to
    # the explode -> broadcast-anti-join -> reassemble -> join-back plan.
    # Adversarial rows: lines matching the dictionary only modulo
    # 0x20-trim (F.trim strips spaces only — tab-prefixed lines are
    # DIFFERENT dictionary keys), \r kept by the literal-\n split,
    # trailing newline (trailing empty line preserved), interior empty
    # lines, pure-boilerplate docs, null and empty texts, docs with no
    # newline at all, and carry columns.
    from smartlogic_concordance_transformer_spark.datapipe import strip_boilerplate

    hdr = "== accept cookies =="
    rows = [
        (0, "s0", f"{hdr}\nbody zero\n\nmore zero"),
        (1, "s0", f"  {hdr}  \nbody one\r\nbody one b"),   # trims to hdr; \r survives split
        (2, "s1", f"\t{hdr}\nbody two"),                   # tab-prefixed: NOT the dictionary line
        (3, "s1", f"{hdr}\n{hdr}"),                        # pure boilerplate -> ''
        (4, "s0", f"{hdr}\nbody four\n"),                  # trailing newline -> trailing empty line
        (5, "s1", None),
        (6, "s0", ""),
        (7, "s1", "single line no newline"),
        (8, "s0", hdr),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a = {
        tuple(r)
        for r in strip_boilerplate(df, min_docs=3, carry=("source",)).collect()
    }
    j = {
        tuple(r)
        for r in strip_boilerplate(
            df, min_docs=3, carry=("source",), via="join"
        ).collect()
    }
    assert a == j, a ^ j
    got = {r[0]: r[2] for r in a}
    assert got[2] == f"\t{hdr}\nbody two"  # tab line kept: trim is 0x20-only
    assert got[3] == "" and got[5] == "" and got[6] == ""
    assert got[4] == "body four\n"  # trailing empty line survives


def test_repetition_stats(spark):
    from smartlogic_concordance_transformer_spark.datapipe import repetition_stats

    rows = [
        (1, "a b c d e f g h"),              # all distinct, all bigrams distinct
        (2, "spam spam spam spam"),          # 3/4 duplicate words, bigram "spam spam" = 3/3
        (3, "x y x y x y"),                  # dup 4/6; bigrams: "x y"x3, "y x"x2 -> 3/5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[1].dup_word_frac == 0.0
    assert got[1].top_2gram_frac == round(1 / 7, 6)
    assert got[2].dup_word_frac == 0.75
    assert got[2].top_2gram_frac == 1.0
    assert got[3].dup_word_frac == round(4 / 6, 6)
    assert got[3].top_2gram_frac == 0.6
    # 3-grams of doc 3: "x y x"x2, "y x y"x2 -> 2/4
    assert got[3].top_3gram_frac == 0.5
    # 4-grams of doc 3: "x y x y"x2, "y x y x"x1 -> 2/3
    assert got[3].top_4gram_frac == round(2 / 3, 6)


def test_repetition_char_dup_fractions(spark):
    # Gopher A1 second half: fraction of characters in duplicated n-grams,
    # weighted form (c-1)*chars(g) / sum c*chars(g) — hand-computed goldens
    from smartlogic_concordance_transformer_spark.datapipe import repetition_stats

    rows = [
        # 5-grams: "a b c d e" x2 (9 chars), five singles (9 chars each)
        # -> (2-1)*9 / (2*9 + 5*9) = 9/63
        (1, "a b c d e a b c d e x"),
        # all 5-grams distinct -> 0.0
        (2, "p q r s t u v w"),
        # 2-grams: "x y" x3, "y x" x2 -> ((3-1)+(2-1))*3 / (5*3) = 9/15
        (3, "x y x y x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in repetition_stats(df, ns=(2,), char_dup_ns=(2, 5)).collect()
    }
    assert got[1].dup_5gram_char_frac == round(9 / 63, 6)
    assert got[2].dup_5gram_char_frac == 0.0
    assert got[3].dup_2gram_char_frac == 0.6
    # a size in both ns and char_dup_ns feeds both columns from one stream
    assert got[3].top_2gram_frac == 0.6


def test_minhash_inrow_fold_equals_explode_agg(spark):
    # the r8 in-row signature fold must be bit-equal to the former
    # explode + per-seed min aggregation (the same xxhash64 chain with
    # the same int-typed seeds) over the real corpus
    from pyspark.sql import functions as F

    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        minhash_signatures,
        shingles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ref = (
        docs.select("doc_id", F.explode(shingles("text", 3)).alias("_sh"))
        .select("doc_id", F.xxhash64("_sh").alias("_h"))
        .groupBy("doc_id")
        .agg(*[F.min(F.xxhash64(F.col("_h"), F.lit(s))).alias(f"m{s}") for s in range(16)])
        .select("doc_id", F.array(*[f"m{s}" for s in range(16)]).alias("signature"))
    )
    a = {(r.doc_id, tuple(r.signature)) for r in ref.collect()}
    b = {
        (r.doc_id, tuple(r.signature))
        for r in minhash_signatures(docs, k=3, num_hashes=16).collect()
    }
    assert a == b


def test_repetition_arrow_equals_fold(spark):
    # the Arrow kernel vs the pure-SQL fold of tests/reference_repetition:
    # independent implementations of the same per-document statistics
    # must return bit-identical rows — on the real corpus AND on an
    # adversarial set exercising the tokenizer's JVM-parity edges (empty text, null,
    # whitespace-only, non-ASCII letters + case, NBSP which Java \s does
    # NOT treat as whitespace, blank lines, short docs below every gram
    # size, heavy exact repetition, overlapping duplicated grams)
    from smartlogic_concordance_transformer_spark.datapipe import repetition_stats
    from tests.reference_repetition import repetition_fold

    adversarial = [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "one"),
        (4, "a b"),
        (5, "spam " * 50),
        (6, "a b c a b c a b c d"),
        (7, "x\n\ny\n\nx\n\n  \n\nz"),
        (8, "line1\nline1\n line1 \nLine1"),
        (9, "Größe STRASSE Größe nbsp\xa0joined x nbsp\xa0joined"),
        (10, "tab\tsep\ttab\tsep and ls and ls"),
        (11, "İstanbul İSTANBUL istanbul i̇stanbul"),
        (12, "w1 w2 w3 w4 w5 w1 w2 w3 w4 w5 w1 w2"),
    ]
    adv = spark.createDataFrame(adversarial, "doc_id long, text string")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for frame in (docs, adv):
        a = repetition_stats(
            frame, ns=(2, 3), char_dup_ns=(2, 5), char_coverage_ns=(2, 5)
        )
        b = repetition_fold(
            frame, ns=(2, 3), char_dup_ns=(2, 5), char_coverage_ns=(2, 5)
        )
        assert a.columns == b.columns
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_repetition_fold_has_no_shuffle(spark):
    # every A1 statistic is per-document: the operator must stay a pure
    # projection — no Exchange, no explode-driven Generate — so at
    # 100 TB it runs at scan speed with zero cross-executor traffic
    from smartlogic_concordance_transformer_spark.datapipe import repetition_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = repetition_stats(
        docs, ns=(2, 3, 4), char_dup_ns=(5, 6, 7, 8, 9, 10)
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_minhash_incremental_candidates(spark):
    # the daily-ingest shape: new batch vs existing corpus + itself;
    # existing near-dup pairs must NOT be reported (no existing
    # self-join), new-new pairs exactly once, and every pair leads with
    # the new key
    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        minhash_incremental_candidates,
        minhash_signatures,
    )

    base_rows = [
        (1, "the quick brown fox jumps over the lazy dog today and every day"),
        # 2 and 3 are near-dups WITHIN the existing corpus — must not appear
        (2, "an existing document about spark shuffles and parquet readers in production"),
        (3, "an existing document about spark shuffles and parquet readers in production zz"),
    ]
    new_rows = [
        (101, "the quick brown fox jumps over the lazy dog today and every day qq"),  # ~ 1
        (102, "the quick brown fox jumps over the lazy dog today and every day qq rr"),  # ~ 1, ~101
        (103, "a completely fresh document sharing nothing with anything else at all"),
    ]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    cand = minhash_incremental_candidates(
        minhash_signatures(new, num_hashes=64, k=3),
        minhash_signatures(base, num_hashes=64, k=3),
        bands=16,
        rows_per_band=4,
    )
    pairs = {(r.a, r.b) for r in cand.collect()}
    assert all(a >= 101 for a, _ in pairs)          # every pair leads with a new key
    assert (2, 3) not in pairs and (3, 2) not in pairs  # existing never self-joined
    assert (101, 1) in pairs and (102, 1) in pairs  # new vs existing
    assert (101, 102) in pairs and (102, 101) not in pairs  # new-new once, a < b
    assert not any(a == 103 or b == 103 for a, b in pairs)  # fresh doc matches nothing


def test_repetition_char_dup_empty_and_null_text(spark):
    # empty/whitespace/null text tokenizes to a single zero-length gram:
    # the char-frac denominator would be 0 — must yield 0.0, not an ANSI
    # divide-by-zero abort (the defined-stats contract)
    from smartlogic_concordance_transformer_spark.datapipe import repetition_stats

    rows = [(1, ""), (2, "   "), (3, None), (4, "a b c d e f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r for r in repetition_stats(df, ns=(2,), char_dup_ns=(5,)).collect()
    }
    assert len(got) == 4
    for i in (1, 2, 3):
        assert got[i].dup_5gram_char_frac == 0.0
    assert got[4].dup_5gram_char_frac == 0.0


def test_repetition_stats_lines_paras_and_null_text(spark):
    from smartlogic_concordance_transformer_spark.datapipe import repetition_stats

    rows = [
        # non-empty lines: "dup line" x2, "same" x2 -> (4-2)/4 = 0.5
        # paragraphs (split on \n\n): "dup line\ndup line", "same", "same" -> 1/3
        (1, "dup line\ndup line\n\nsame\n\nsame"),
        (2, None),  # null text must still yield a defined-stats row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[1].dup_line_frac == 0.5
    assert got[1].dup_para_frac == round(1 / 3, 6)
    assert got[2].dup_word_frac == 0.0
    assert got[2].dup_line_frac == 0.0
    assert got[2].dup_para_frac == 0.0
    assert got[2].top_2gram_frac == 1.0  # the single empty gram


def test_flag_contaminated(spark):
    from smartlogic_concordance_transformer_spark.datapipe import flag_contaminated

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),  # verbatim leak
            (2, "a quick brown fox jumps over a lazy dog sometimes it happens"),  # partial overlap
            (3, "completely unrelated text about query engines and shuffles at scale"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in flag_contaminated(train, bench, k=3, min_overlap=3).collect()}
    assert 1 in got and got[1].n_overlap >= 9   # verbatim doc shares every shingle
    assert got[1].overlap_frac == 1.0           # ... which is ALL of its shingles
    assert 3 not in got                         # unrelated doc not flagged
    if 2 in got:
        assert got[2].overlap_frac < 1.0
    # tighter threshold keeps only the verbatim leak
    strict = {r.doc_id for r in flag_contaminated(train, bench, k=3, min_overlap=9).collect()}
    assert strict == {1}
    # broadcast=False falls back to a shuffle hash join with identical rows
    nb = {r.doc_id: r for r in flag_contaminated(train, bench, k=3, min_overlap=3, broadcast=False).collect()}
    assert {k: (v.n_overlap, v.overlap_frac) for k, v in nb.items()} == {
        k: (v.n_overlap, v.overlap_frac) for k, v in got.items()
    }


def test_flag_contaminated_arrow_equals_join(spark):
    # r8: the default Arrow decontamination kernel must return rows
    # IDENTICAL to the explode + hash-join plan — corpus-side grams are
    # Python-built against the JVM-built dictionary, so the tokenizer/
    # gram parity contract is exercised byte-for-byte through set
    # membership. Adversarial rows: tabs/vertical-ws (Java \s is
    # ASCII-only), NBSP (NOT Java \s), full-Unicode lower incl. U+0130,
    # empty/null/whitespace-only docs, docs shorter than the gram size
    # (one truncated gram), leading/trailing spaces, accents.
    from smartlogic_concordance_transformer_spark.datapipe import flag_contaminated

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "THE\tQUICK brown  fox\n jumps"),
        (3, ""),
        (4, None),
        (5, "one"),
        (6, "İstanbul İstanbul i̇stanbul x y z"),
        (7, "  leading and trailing   "),
        (8, "a b nbsp is not java ws"),
        (9, "a b c"),
        (10, "a b c d"),
        (11, "\x0b\f\r\t\n"),
        (12, "ss ß STRASSE strasse"),
        (13, "café CAFÉ naïve NAÏVE"),
        (14, "a b c d e"),
    ]
    adv = spark.createDataFrame(rows, "doc_id long, text string")
    bench = adv.filter(F.col("doc_id").isin([1, 2, 3, 5, 6, 8, 12, 14]))
    for mo in (1, 2):
        arrow = {
            tuple(r)
            for r in flag_contaminated(adv, bench, k=3, min_overlap=mo).collect()
        }
        join = {
            tuple(r)
            for r in flag_contaminated(
                adv, bench, k=3, min_overlap=mo, via="join"
            ).collect()
        }
        assert arrow == join, (mo, arrow ^ join)
    assert any(r.doc_id == 1 for r in flag_contaminated(adv, bench, k=3, min_overlap=1).collect())
    # precomputed-shingles path: the kernel counts membership over the
    # JVM-built arrays (duplicate grams count per occurrence, n_sh is the
    # array length) — must equal the explode + join + count plan, incl.
    # over a deliberately NON-distinct array
    from smartlogic_concordance_transformer_spark.datapipe import shingles

    pre = adv.withColumn("_sh", shingles("text", 3))
    pa = {
        tuple(r)
        for r in flag_contaminated(
            pre, bench, k=3, min_overlap=1, shingles_col="_sh"
        ).collect()
    }
    pj = {
        tuple(r)
        for r in flag_contaminated(
            pre, bench, k=3, min_overlap=1, shingles_col="_sh", via="join"
        ).collect()
    }
    assert pa == pj, pa ^ pj
    dup_arr = adv.withColumn("_sh", shingles("text", 3, distinct=False))
    da = {
        tuple(r)
        for r in flag_contaminated(
            dup_arr, bench, k=3, min_overlap=1, shingles_col="_sh"
        ).collect()
    }
    dj = {
        tuple(r)
        for r in flag_contaminated(
            dup_arr, bench, k=3, min_overlap=1, shingles_col="_sh", via="join"
        ).collect()
    }
    assert da == dj, da ^ dj


def test_langid_cjk_scripts(spark):
    rows = [
        (1, "これは日本語のテキストです"),
        (2, "한국어로 작성된 문장입니다"),
        (3, "这是一段比较长的中文文本内容"),
        (4, "the cat sat on the mat and it was good"),
        # one stray CJK char in English text must NOT flip the branch
        (5, "the cat sat on the mat and it was good for the dog 字"),
        # Japanese mixes kanji and kana -> ja, not zh
        (6, "漢字とかなが混ざった文章です"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.pred for r in df.select("doc_id", detect_language("text").alias("pred")).collect()}
    assert got[1] == "ja" and got[2] == "ko" and got[3] == "zh"
    assert got[4] == "en" and got[5] == "en" and got[6] == "ja"


def test_langid_other_script_families(spark):
    rows = [
        (1, "это довольно длинный русский текст для проверки"),
        (2, "هذا نص عربي طويل بما يكفي للاختبار"),
        (3, "यह परीक्षण के लिए एक लंबा हिंदी वाक्य है"),
        (4, "นี่คือข้อความภาษาไทยที่ยาวพอสำหรับการทดสอบ"),
        # one stray Cyrillic char in English must NOT flip the branch
        (5, "the cat sat on the mat and it was good for д"),
        # CJK wins over a Cyrillic minority when both are present
        (6, "这是一段比较长的中文文本内容 привет"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.pred
        for r in df.select("doc_id", detect_language("text").alias("pred")).collect()
    }
    assert got[1] == "ru" and got[2] == "ar" and got[3] == "hi" and got[4] == "th"
    assert got[5] == "en" and got[6] == "zh"


def test_simhash_md5_token_hash_variant(docs):
    from smartlogic_concordance_transformer_spark.datapipe.dedup import md5_token_hash

    fps = simhash(docs, token_hash=md5_token_hash)
    vals = {r.doc_id: r.simhash for r in fps.collect()}
    assert vals[1] == vals[2]  # identical docs -> identical fingerprints
    assert all(v >= 0 for v in vals.values())  # 60-bit hash stays positive
    nd = {(r.a, r.b) for r in simhash_near_dups(fps).collect()}
    assert (1, 2) in nd and (1, 7) not in nd


def test_ivf_assign_null_and_empty_vectors(spark):
    from smartlogic_concordance_transformer_spark.datapipe.similarity import ivf_assign

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None), (4, [])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r._cell for r in ivf_assign(emb, [[1.0, 0.0], [0.0, 1.0]]).collect()}
    assert got[1] == 0 and got[2] == 1
    assert got[3] is None and got[4] is None


def test_chunk_documents_packing(spark):
    from smartlogic_concordance_transformer_spark.datapipe import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b"), (3, None)],
        "doc_id long, text string",
    )
    # disjoint chunks of 4: doc 1 -> 3 chunks (4, 4, 2 tokens)
    got = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens)
        for r in chunk_documents(df, chunk_tokens=4).collect()
    }
    assert got[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert got[(1, 1)] == ("w4 w5 w6 w7", 4)
    assert got[(1, 2)] == ("w8 w9", 2)
    assert got[(2, 0)] == ("a b", 2)
    assert (3, 0) in got  # null text -> one empty-ish chunk, not a dropped doc
    # overlapping windows: chunk 4, stride 2 -> starts 0,2,4,6,8
    ov = {
        r.chunk_id: r.chunk_text
        for r in chunk_documents(df.filter("doc_id = 1"), chunk_tokens=4, stride=2).collect()
    }
    assert ov[0] == "w0 w1 w2 w3" and ov[1] == "w2 w3 w4 w5" and ov[4] == "w8 w9"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=0)
    with _pytest.raises(ValueError):
        # stride=0 must raise, not silently coerce to disjoint chunks
        chunk_documents(df, chunk_tokens=4, stride=0)
    with _pytest.raises(ValueError, match="skip"):
        # stride > chunk would produce gap windows that DROP tokens
        chunk_documents(df, chunk_tokens=4, stride=5)


def test_chunk_documents_disjoint_is_lossless(docs):
    # packing with stride == chunk must reconstruct the normalized text
    from smartlogic_concordance_transformer_spark.datapipe import chunk_documents

    out = chunk_documents(docs, chunk_tokens=7).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text))
    originals = {r.doc_id: " ".join(r.text.split()) for r in docs.collect()}
    for doc_id, chunks in by_doc.items():
        rebuilt = " ".join(t for _, t in sorted(chunks))
        assert rebuilt == originals[doc_id]


def test_token_frequencies(spark):
    from smartlogic_concordance_transformer_spark.datapipe import token_frequencies

    df = spark.createDataFrame(
        [(1, "the cat and The dog"), (2, "the bird"), (3, None)],
        "doc_id long, text string",
    )
    got = {r.token: r["count"] for r in token_frequencies(df).collect()}
    assert got["the"] == 3  # case-folded
    assert got["cat"] == 1 and "" not in got
    cut = {r.token for r in token_frequencies(df, min_count=3).collect()}
    assert cut == {"the"}


def test_shingles_col_reuse_is_equivalent(spark, docs):
    # the pipeline-composition hook: consuming a precomputed shingle-array
    # column must be row-identical to rebuilding the grams from text
    from smartlogic_concordance_transformer_spark.datapipe import (
        flag_contaminated,
        shingles,
    )

    pre = docs.withColumn("_sh", shingles("text", 3))
    sig_a = {(r.doc_id, tuple(r.signature)) for r in minhash_signatures(docs, k=3, num_hashes=16).collect()}
    sig_b = {
        (r.doc_id, tuple(r.signature))
        for r in minhash_signatures(pre, num_hashes=16, shingles_col="_sh").collect()
    }
    assert sig_a == sig_b
    cand = minhash_lsh_candidates(
        minhash_signatures(docs, k=3, num_hashes=64), bands=16, rows_per_band=4
    )
    pj_a = {tuple(r) for r in ngram_jaccard_pairs(docs, cand, k=3).collect()}
    pj_b = {
        tuple(r) for r in ngram_jaccard_pairs(pre, cand, shingles_col="_sh").collect()
    }
    assert pj_a == pj_b
    bench = docs.filter(F.col("doc_id") == 1)
    fc_a = {tuple(r) for r in flag_contaminated(docs, bench, k=3, min_overlap=1).collect()}
    fc_b = {
        tuple(r)
        for r in flag_contaminated(
            pre, bench, k=3, min_overlap=1, shingles_col="_sh"
        ).collect()
    }
    assert fc_a == fc_b


def test_pretraining_pipeline_stage_attribution(spark):
    from smartlogic_concordance_transformer_spark.datapipe.curation import (
        pretraining_pipeline,
    )

    bodies = [
        "the red fox runs across the open field and the morning light falls "
        "gently on the quiet hills while distant birds call softly from the "
        "old oak trees near the river bend",
        "a small boat drifts slowly down the winding river as the fisherman "
        "casts his line into the deep water hoping that the evening catch "
        "will feed his family for the week",
        "inside the busy kitchen the chef prepares a rich stew with fresh "
        "herbs and root vegetables while steam rises from the copper pots "
        "hanging above the worn wooden counter",
        "the old library holds thousands of dusty books about science "
        "history and art where students wander for hours between tall "
        "shelves looking for that one perfect page of insight",
        "heavy rain fell on the city all night filling the storm drains and "
        "washing the empty streets clean before the sun returned to dry the "
        "pavement in the early light",
    ]
    hdr = "=== COOKIE BANNER ==="
    rows = [
        # five distinct docs (also make the header recur >= 5x); doc 0
        # carries a PII line so its copies below clean to the same bytes
        (0, "web", f"{hdr}\n{bodies[0]}\nmail x@y.io"),
        *[(i, "web", f"{hdr}\n{bodies[i]}") for i in range(1, 5)],
        # exact dups of doc 0 after cleaning (same body, DIFFERENT PII)
        (10, "web", f"{hdr}\n{bodies[0]}\nmail a@b.co"),
        (11, "web", f"{hdr}\n{bodies[0]}\nmail c@d.org"),
        # near dup of doc 1 (one word changed)
        (12, "web", f"{hdr}\n" + bodies[1].replace("boat", "raft")),
        # keyword-stuffed spam (passes quality, fails repetition)
        (13, "web", f"{hdr}\n" + ("spam " * 60) + "doc13"),
        # junk (fails quality)
        (14, "web", "!!! ### $$$"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    bench = spark.createDataFrame([(bodies[4],)], "text string")
    out = {
        r.doc_id: r
        for r in pretraining_pipeline(
            docs, bench, mix_fractions={}, boilerplate_min_docs=5
        ).collect()
    }
    assert len(out) == len(rows)  # exactly one ledger row per input doc
    assert out[14].stage == "quality" and not out[14].kept
    assert out[13].stage == "repetition"
    # doc 0 survives; its PII-differing copies dedup exactly AFTER scrub
    assert out[0].kept and out[10].stage == "exact_dup" and out[11].stage == "exact_dup"
    assert out[12].stage == "near_dup" and out[1].kept
    assert out[4].stage == "contaminated"  # leaked eval doc caught
    kept = [r for r in out.values() if r.kept]
    assert all(r.stage == "kept" and r.split in ("train", "test") for r in kept)
    dropped = [r for r in out.values() if not r.kept]
    assert all(r.split is None for r in dropped)


def test_pretraining_pipeline_substring_stage(spark):
    """substring_dedup=True: duplicated >=k-char runs are excised from
    the near-dedup survivors (keep-first), the 'excised' barrier carries
    the rewritten text, and decontamination judges the POST-excision
    shingles — a doc whose only benchmark overlap lives inside an excised
    span must flip from contaminated (flag-only run) to kept."""
    from smartlogic_concordance_transformer_spark.datapipe.curation import (
        pretraining_pipeline,
    )

    hdr = "=== COOKIE BANNER ==="
    disc = "all rights reserved no part of this text may be reproduced in any form"
    unit = "the silver train hums along the quiet valley line "  # 51 chars
    bodies = {
        0: "the red fox runs across the open field and the morning light falls "
           "gently on the quiet hills while distant birds call softly from the "
           "old oak trees near the river bend",
        1: "a small boat drifts slowly down the winding river as the fisherman "
           "casts his line into the deep water hoping that the evening catch "
           "will feed his family for the week",
        2: "inside the busy kitchen the chef prepares a rich stew with fresh "
           "herbs and root vegetables while steam rises from the copper pots "
           "hanging above the worn wooden counter",
        3: "the old library holds thousands of dusty books about science "
           "history and art where students wander for hours between tall "
           "shelves looking for that one perfect page of insight",
        4: "heavy rain fell on the city all night filling the storm drains and "
           "washing the empty streets clean before the sun returned to dry the "
           "pavement in the early light",
        # cross-doc duplication: 20 and 21 share the disclaimer sentence
        # embedded in doc-specific lines (so hygiene cannot strip it: the
        # trimmed LINES differ); keep-first keeps doc 20's copy
        20: "wind turbines spin steadily on the far ridge while engineers "
            "check the gearbox readings and log every small vibration in "
            "their worn field notebooks before the evening shift",
        21: "the night market fills with the smell of grilled corn and sweet "
            "tea as vendors call out prices and children weave between the "
            "crowded stalls under strings of paper lanterns",
        # within-doc duplication: 22 repeats a 51-char run back to back
        22: "the observatory dome opens slowly at dusk and the astronomer "
            "aligns the mirror toward a faint cluster while crickets sing "
            "in the dry grass outside the white walls",
    }
    rows = (
        [(i, "web", f"{hdr}\n{bodies[i]}") for i in range(5)]
        + [
            (20, "web", f"{hdr}\n{bodies[20]}\nnote20 {disc}"),
            (21, "web", f"{hdr}\n{bodies[21]}\nnote21 {disc}"),
            (22, "web", f"{hdr}\n{bodies[22]}\nrep22 {unit}{unit}"),
        ]
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    bench = spark.createDataFrame([(disc,)], "text string")

    captured = {}

    def hook(df, stage):
        out = df.localCheckpoint(eager=False)
        captured[stage] = out
        return out

    kwargs = dict(mix_fractions={}, boilerplate_min_docs=5, contamination_frac=0.15)
    out = {
        r.doc_id: r
        for r in pretraining_pipeline(
            docs, bench, substring_dedup=True, substring_k=30,
            materialize=hook, **kwargs
        ).collect()
    }
    assert len(out) == len(rows)  # rewrite stage drops no ledger rows
    ex = {r.doc_id: r.clean for r in captured["excised"].collect()}
    # keep-first: doc 20 (corpus-wide first occurrence) keeps the
    # disclaimer; doc 21's copy is excised
    assert disc in ex[20]
    assert "rights reserved" not in ex[21] and bodies[21] in ex[21]
    # within-doc: the back-to-back second copy collapses to one
    assert ex[22].count("silver train") == 1 and bodies[22] in ex[22]
    # decontamination judged POST-excision text: the disclaimer keeper is
    # flagged, the doc whose copy was excised survives
    assert out[20].stage == "contaminated" and not out[20].kept
    assert out[21].kept and out[22].kept
    # ...and flipping the stage off makes doc 21 contaminated — the
    # excision, not the corpus, is what saved it
    out_plain = {
        r.doc_id: r
        for r in pretraining_pipeline(docs, bench, **kwargs).collect()
    }
    assert out_plain[21].stage == "contaminated"
    assert out_plain[20].stage == "contaminated"


def test_asof_join_backward_semantics(spark):
    from smartlogic_concordance_transformer_spark.datapipe.asof import asof_join

    l = spark.createDataFrame(
        [("u1", 10, "a"), ("u1", 20, "b"), ("u1", 5, "c"), ("u2", 15, "d")],
        "user string, ts long, tag string",
    )
    r = spark.createDataFrame(
        [("u1", 7, 1.0), ("u1", 10, 2.0), ("u1", 18, 3.0), ("u3", 1, 9.0)],
        "user string, ts long, v double",
    )
    out = {
        (x.user, x.ts): (x.asof_ts, x.asof_v)
        for x in asof_join(l, r, on="ts", by=["user"]).collect()
    }
    assert out[("u1", 10)] == (10, 2.0)   # equal timestamp is visible (<=)
    assert out[("u1", 20)] == (18, 3.0)   # most recent prior
    assert out[("u1", 5)] == (None, None) # nothing at-or-before
    assert out[("u2", 15)] == (None, None)  # keyed: u3's rows invisible


def test_asof_join_null_value_in_matched_row_is_kept(spark):
    # the matched right row's null must NOT be replaced by a stale value
    # from an older right row (atomic row semantics, like merge_asof)
    from smartlogic_concordance_transformer_spark.datapipe.asof import asof_join

    l = spark.createDataFrame([("u1", 10)], "user string, ts long")
    r = spark.createDataFrame(
        [("u1", 5, 1.0, "x"), ("u1", 8, None, "y")],
        "user string, ts long, v double, w string",
    )
    row = asof_join(l, r, on="ts", by=["user"]).first()
    assert row.asof_ts == 8
    assert row.asof_v is None       # null from the matched row survives
    assert row.asof_w == "y"        # all values come from the SAME row


def test_asof_join_duplicate_right_rows_tie_break(spark):
    # multiple right rows at the same (by, on): keep the LAST one in
    # right input order — pandas merge_asof's rule — deterministically,
    # both via the implicit input-order seq and an explicit seq_col
    import pandas as pd
    from smartlogic_concordance_transformer_spark.datapipe.asof import asof_join

    l = spark.createDataFrame([("u1", 10)], "user string, ts long")
    rows = [("u1", 8, 1.0, 0), ("u1", 8, 2.0, 1), ("u1", 8, 3.0, 2)]
    r = spark.createDataFrame(rows, "user string, ts long, v double, seq long")

    expected = pd.merge_asof(
        pd.DataFrame({"user": ["u1"], "ts": [10]}),
        pd.DataFrame([x[:3] for x in rows], columns=["user", "ts", "v"]),
        on="ts",
        by="user",
    ).iloc[0]["v"]
    assert expected == 3.0

    got = asof_join(l, r.drop("seq"), on="ts", by=["user"]).first()
    assert got.asof_v == expected
    got_seq = asof_join(l, r, on="ts", by=["user"], seq_col="seq").first()
    assert got_seq.asof_v == expected


def test_asof_join_rejects_reserved_and_colliding_names(spark):
    import pytest
    from smartlogic_concordance_transformer_spark.datapipe.asof import asof_join

    l = spark.createDataFrame([("u1", 10)], "user string, ts long")
    r = spark.createDataFrame([("u1", 8, 1.0)], "user string, ts long, v double")

    with pytest.raises(ValueError, match="reserved"):
        asof_join(l.withColumn("_side", l.ts), r, on="ts", by=["user"])
    with pytest.raises(ValueError, match="reserved"):
        asof_join(l, r.withColumn("_r", r.ts), on="ts", by=["user"])
    with pytest.raises(ValueError, match="collide"):
        asof_join(l.withColumn("asof_v", l.ts), r, on="ts", by=["user"])


def test_stratified_sample(spark):
    from smartlogic_concordance_transformer_spark.datapipe.sampling import (
        stratified_sample,
    )

    rows = [(i, "web" if i % 2 == 0 else "books") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    kept = stratified_sample(df, {"web": 64}, strata_col="source")
    by_src = {r.source: r.n for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src["books"] == 200            # absent strata kept whole
    assert 30 <= by_src["web"] <= 70         # ~25% of 200, hash-binomial spread

    # determinism + nested-subset: growing the fraction only ADDS rows
    small = {r.doc_id for r in stratified_sample(df, {"web": 64}, strata_col="source").collect()}
    again = {r.doc_id for r in stratified_sample(df, {"web": 64}, strata_col="source").collect()}
    assert small == again
    big = {r.doc_id for r in stratified_sample(df, {"web": 128}, strata_col="source").collect()}
    assert small <= big

    # boundaries: 0 drops the stratum entirely, 256 keeps it whole
    none = stratified_sample(df, {"web": 0}, strata_col="source")
    assert none.filter(F.col("source") == "web").count() == 0
    full = stratified_sample(df, {"web": 256}, strata_col="source")
    assert full.count() == 400
    with pytest.raises(ValueError):
        stratified_sample(df, {"web": 257}, strata_col="source")


def test_train_test_split_boundaries(spark):
    from smartlogic_concordance_transformer_spark.datapipe.sampling import (
        train_test_split,
    )

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    all_test = train_test_split(df, test_buckets=256)
    assert all_test.filter("split = 'train'").count() == 0
    none_test = train_test_split(df, test_buckets=0)
    assert none_test.filter("split = 'test'").count() == 0
    some = train_test_split(df, test_buckets=26)
    frac = some.filter("split = 'test'").count() / 500
    assert 0.03 < frac < 0.25  # ~26/256 with hash noise at n=500


def test_asof_join_matches_pandas_merge_asof(spark):
    # independent model: pandas merge_asof (backward, allow_exact_matches)
    # over randomized keyed timelines, including null values in the right
    import pandas as pd

    from smartlogic_concordance_transformer_spark.datapipe.asof import asof_join

    rng = np.random.default_rng(11)
    for case in range(4):
        n_l, n_r = 40, 30
        lpd = pd.DataFrame({
            "user": rng.integers(0, 4, n_l).astype(str),
            "ts": rng.integers(0, 100, n_l).astype("int64"),
        }).drop_duplicates(["user", "ts"])
        rpd = pd.DataFrame({
            "user": rng.integers(0, 4, n_r).astype(str),
            "ts": rng.integers(0, 100, n_r).astype("int64"),
            "v": rng.normal(size=n_r),
        }).drop_duplicates(["user", "ts"])
        rpd.loc[rpd.index % 5 == 0, "v"] = None  # nulls in the right values
        want = pd.merge_asof(
            lpd.sort_values("ts"), rpd.sort_values("ts"),
            on="ts", by="user", direction="backward", suffixes=("", "_r"),
        )
        l = spark.createDataFrame(lpd)
        r = spark.createDataFrame(rpd)
        got = {
            (x.user, x.ts): x.asof_v
            for x in asof_join(l, r, on="ts", by=["user"]).collect()
        }
        for _, row in want.iterrows():
            g = got[(row.user, row.ts)]
            if pd.isna(row.v):
                assert g is None, (case, row.user, row.ts, g)
            else:
                assert g is not None and abs(g - row.v) < 1e-12, (case, row.user, row.ts)


def test_asof_join_forward_matches_pandas(spark):
    # direction='forward': smallest right.ts >= left.ts; pandas
    # merge_asof(direction='forward') is the independent model, with and
    # without a tolerance bound
    import pandas as pd

    from smartlogic_concordance_transformer_spark.datapipe.asof import asof_join

    rng = np.random.default_rng(17)
    lpd = pd.DataFrame({
        "user": rng.integers(0, 3, 40).astype(str),
        "ts": rng.integers(0, 100, 40).astype("int64"),
    }).drop_duplicates(["user", "ts"])
    rpd = pd.DataFrame({
        "user": rng.integers(0, 3, 25).astype(str),
        "ts": rng.integers(0, 100, 25).astype("int64"),
        "v": rng.normal(size=25),
    }).drop_duplicates(["user", "ts"])
    for tol in (None, 10):
        want = pd.merge_asof(
            lpd.sort_values("ts"), rpd.sort_values("ts"),
            on="ts", by="user", direction="forward", tolerance=tol,
            suffixes=("", "_r"),
        )
        got = {
            (x.user, x.ts): (x.asof_ts, x.asof_v)
            for x in asof_join(
                spark.createDataFrame(lpd), spark.createDataFrame(rpd),
                on="ts", by=["user"], direction="forward", tolerance=tol,
            ).collect()
        }
        for _, row in want.iterrows():
            g_ts, g_v = got[(row.user, row.ts)]
            if pd.isna(row.v):
                assert g_v is None, (tol, row.user, row.ts, g_v)
            else:
                assert g_v is not None and abs(g_v - row.v) < 1e-12, (tol, row.user, row.ts)
                assert g_ts >= row.ts

    import pytest as _pytest

    with _pytest.raises(ValueError, match="direction"):
        asof_join(
            spark.createDataFrame(lpd), spark.createDataFrame(rpd),
            on="ts", by=["user"], direction="sideways",
        )
    with _pytest.raises(ValueError, match="tolerance"):
        asof_join(
            spark.createDataFrame(lpd), spark.createDataFrame(rpd),
            on="ts", by=["user"], tolerance=-5,
        )


def test_asof_join_forward_duplicate_right_rows(spark):
    # pandas forward keeps the FIRST duplicate right row at an equal ts
    # (backward keeps the LAST) — the negated-timeline reduction must
    # mirror the seq too, or the last dup wins in both directions
    import pandas as pd

    from smartlogic_concordance_transformer_spark.datapipe.asof import asof_join

    lpd = pd.DataFrame({"ts": pd.array([3, 7], dtype="int64")})
    rpd = pd.DataFrame({"ts": pd.array([5, 5], dtype="int64"), "v": [1.0, 2.0]})
    want = pd.merge_asof(lpd, rpd, on="ts", direction="forward")
    assert want.v.iloc[0] == 1.0 and pd.isna(want.v.iloc[1])  # pandas rule, pinned
    got = {
        r.ts: r.asof_v
        for r in asof_join(
            spark.createDataFrame(lpd), spark.createDataFrame(rpd),
            on="ts", direction="forward",
        ).collect()
    }
    assert got[3] == 1.0 and got[7] is None
    # backward at the same data keeps the LAST duplicate
    want_b = pd.merge_asof(lpd, rpd, on="ts", direction="backward")
    got_b = {
        r.ts: r.asof_v
        for r in asof_join(
            spark.createDataFrame(lpd), spark.createDataFrame(rpd),
            on="ts", direction="backward",
        ).collect()
    }
    assert got_b[7] == want_b.v.iloc[1] == 2.0
    # column order parity between directions (positional consumers)
    cols_b = asof_join(
        spark.createDataFrame(lpd), spark.createDataFrame(rpd), on="ts"
    ).columns
    cols_f = asof_join(
        spark.createDataFrame(lpd), spark.createDataFrame(rpd),
        on="ts", direction="forward",
    ).columns
    assert cols_b == cols_f


def test_asof_join_nearest_matches_pandas(spark):
    # direction='nearest': closer of backward/forward, backward wins ties
    import pandas as pd

    from smartlogic_concordance_transformer_spark.datapipe.asof import asof_join

    rng = np.random.default_rng(19)
    lpd = pd.DataFrame({
        "user": rng.integers(0, 3, 40).astype(str),
        "ts": rng.integers(0, 100, 40).astype("int64"),
    }).drop_duplicates(["user", "ts"])
    rpd = pd.DataFrame({
        "user": rng.integers(0, 3, 25).astype(str),
        "ts": rng.integers(0, 100, 25).astype("int64"),
        "v": rng.normal(size=25),
    }).drop_duplicates(["user", "ts"])
    for tol in (None, 7):
        want = pd.merge_asof(
            lpd.sort_values("ts"), rpd.sort_values("ts"),
            on="ts", by="user", direction="nearest", tolerance=tol,
            suffixes=("", "_r"),
        )
        got = {
            (x.user, x.ts): (x.asof_ts, x.asof_v)
            for x in asof_join(
                spark.createDataFrame(lpd), spark.createDataFrame(rpd),
                on="ts", by=["user"], direction="nearest", tolerance=tol,
            ).collect()
        }
        assert len(got) == len(lpd)  # no row duplication from the recombine join
        for _, row in want.iterrows():
            g_ts, g_v = got[(row.user, row.ts)]
            if pd.isna(row.v):
                assert g_v is None, (tol, row.user, row.ts, g_v)
            else:
                assert g_v is not None and abs(g_v - row.v) < 1e-12, (tol, row.user, row.ts)

    # explicit equidistant tie: backward wins (pandas rule, verified)
    l1 = spark.createDataFrame([(10,)], "ts long")
    r1 = spark.createDataFrame([(5, 1.0), (15, 2.0)], "ts long, v double")
    row = asof_join(l1, r1, on="ts", direction="nearest").collect()[0]
    assert row.asof_ts == 5 and row.asof_v == 1.0


def test_asof_join_tolerance_matches_pandas(spark):
    # tolerance discards matches older than left.ts - tol, atomically —
    # pandas merge_asof(tolerance=...) is the independent model
    import pandas as pd

    from smartlogic_concordance_transformer_spark.datapipe.asof import asof_join

    rng = np.random.default_rng(13)
    lpd = pd.DataFrame({
        "user": rng.integers(0, 3, 40).astype(str),
        "ts": rng.integers(0, 100, 40).astype("int64"),
    }).drop_duplicates(["user", "ts"])
    rpd = pd.DataFrame({
        "user": rng.integers(0, 3, 25).astype(str),
        "ts": rng.integers(0, 100, 25).astype("int64"),
        "v": rng.normal(size=25),
    }).drop_duplicates(["user", "ts"])
    want = pd.merge_asof(
        lpd.sort_values("ts"), rpd.sort_values("ts"),
        on="ts", by="user", direction="backward", tolerance=10,
        suffixes=("", "_r"),
    )
    got = {
        (x.user, x.ts): (x.asof_ts, x.asof_v)
        for x in asof_join(
            spark.createDataFrame(lpd), spark.createDataFrame(rpd),
            on="ts", by=["user"], tolerance=10,
        ).collect()
    }
    for _, row in want.iterrows():
        g_ts, g_v = got[(row.user, row.ts)]
        if pd.isna(row.v):
            # either no match at all or a too-old one: both null atomically
            assert g_v is None, (row.user, row.ts, g_v)
        else:
            assert g_v is not None and abs(g_v - row.v) < 1e-12
            assert g_ts is not None and row.ts - g_ts <= 10


def test_asof_join_tolerance_zero_and_validation(spark):
    # tolerance=0 means exact-timestamp matches only — pandas merge_asof
    # accepts 0 and rejects only negatives (verified), so parity demands
    # the same here (the r5 ADVICE item: `not tolerance > 0` rejected 0)
    import pandas as pd

    from smartlogic_concordance_transformer_spark.datapipe.asof import asof_join

    lpd = pd.DataFrame({"ts": pd.array([3, 5, 9], dtype="int64")})
    rpd = pd.DataFrame({"ts": pd.array([3, 8], dtype="int64"), "v": [1.0, 2.0]})
    want = pd.merge_asof(lpd, rpd, on="ts", tolerance=0)
    got = {
        r.ts: r.asof_v
        for r in asof_join(
            spark.createDataFrame(lpd), spark.createDataFrame(rpd),
            on="ts", tolerance=0,
        ).collect()
    }
    for _, row in want.iterrows():
        if pd.isna(row.v):
            assert got[row.ts] is None
        else:
            assert got[row.ts] == row.v

    # output-name collision raises UP FRONT for every direction — the r5
    # ADVICE gap: forward/nearest validated only the RENAMED recursion
    # frames, so a left column named like an output (asof_v) silently
    # produced a duplicate output column instead of the backward path's
    # ValueError
    l2 = spark.createDataFrame([(1, 0.0)], "ts long, asof_v double")
    r2 = spark.createDataFrame([(1, 1.0)], "ts long, v double")
    for direction in ("backward", "forward", "nearest"):
        with pytest.raises(ValueError, match="collide"):
            asof_join(l2, r2, on="ts", direction=direction)

    # forward/nearest require a numeric on column (negated-timeline
    # reduction): a timestamp must fail fast with an actionable message,
    # not a deep analyzer error from negating a timestamp
    lt = spark.createDataFrame([("2024-01-01 00:00:00",)], "s string").select(
        F.col("s").cast("timestamp").alias("ts")
    )
    rt = spark.createDataFrame([("2024-01-01 00:00:00", 1.0)], "s string, v double").select(
        F.col("s").cast("timestamp").alias("ts"), "v"
    )
    for direction in ("forward", "nearest"):
        with pytest.raises(TypeError, match="numeric"):
            asof_join(lt, rt, on="ts", direction=direction)
    # backward needs no reduction, so timestamps keep working
    assert asof_join(lt, rt, on="ts").collect()[0].asof_v == 1.0


def test_simhash_incremental_candidates(spark):
    # SimHash mirror of the daily-ingest shape: existing near-dup pairs
    # must NOT be reported (no existing self-join), new-new pairs exactly
    # once with a < b, every pair leads with the new key, and the base
    # fingerprint table appears in the plan ONCE (the probe-side scan)
    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        simhash,
        simhash_incremental_candidates,
    )

    # long docs: a one/two-token perturbation of a 120-token doc moves
    # only a few fingerprint bits (short docs would exceed hamming 3)
    d1 = " ".join(f"alpha{i} beta{i}" for i in range(60))
    d2 = " ".join(f"gamma{i} delta{i}" for i in range(60))
    d3 = " ".join(f"omega{i} sigma{i}" for i in range(60))
    base_rows = [(1, d1), (2, d2), (3, d2 + " zz")]
    new_rows = [(101, d1 + " qq"), (102, d1 + " qq rr"), (103, d3)]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    cand = simhash_incremental_candidates(simhash(new), simhash(base))
    pairs = {(r.a, r.b) for r in cand.collect()}
    assert all(a >= 101 for a, _ in pairs)
    assert (2, 3) not in pairs and (3, 2) not in pairs
    assert (101, 1) in pairs and (102, 1) in pairs
    assert (101, 102) in pairs and (102, 101) not in pairs
    # hamming values are exact popcounts <= 3
    assert all(0 <= r.hamming <= 3 for r in cand.collect())


def test_learn_bpe_merges_matches_reference(spark):
    # independent pure-Python BPE (Sennrich et al. merge loop, sequential
    # left-to-right rewrite) — pins the fold-rewrite equivalence incl.
    # the overlapping-run case ('aaaa' with pair (a,a) -> aa,aa) and the
    # (count desc, left, right) tie-break
    from collections import Counter

    from smartlogic_concordance_transformer_spark.datapipe.text import (
        learn_bpe_merges,
    )

    rows = [
        (1, "low lower lowest low low"),
        (2, "aaaa aa banana bandana"),
        (3, "low lowest newer new"),
    ]

    def ref_bpe(texts, n_merges):
        wf = Counter(w for t in texts for w in t.lower().split())
        vocab = {tuple(w): c for w, c in wf.items()}
        merges = []
        for rank in range(n_merges):
            counts = Counter()
            for syms, c in vocab.items():
                for i in range(len(syms) - 1):
                    counts[(syms[i], syms[i + 1])] += c
            if not counts:
                break
            (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((rank, a, b, cnt))

            def mw(syms):
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                return tuple(out)

            vocab = {mw(s): c for s, c in vocab.items()}
        return merges

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.rank, r.merge_left, r.merge_right, r.pair_count)
        for r in learn_bpe_merges(df, n_merges=6).orderBy("rank").collect()
    ]
    assert got == ref_bpe([t for _, t in rows], 6)
    # early stop: single-char vocabulary has no pairs at all
    tiny = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    assert learn_bpe_merges(tiny, n_merges=4).count() == 0


def test_apply_bpe_merges_matches_reference(spark):
    # the encode half: per-doc piece counts after applying the learned
    # merges in rank order must equal the sequential-scan reference
    # (same overlapping-run semantics as the learner's fold); also pins
    # checkpoint_every=1 (lineage cut every rank) bit-identical, the
    # DataFrame-vs-list merges input equivalence, and that token-less
    # docs drop out
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        apply_bpe_merges,
        learn_bpe_merges,
    )

    rows = [
        (1, "low lower lowest low low"),
        (2, "aaaa aa banana bandana"),
        (3, "low lowest newer new"),
        (4, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges_df = learn_bpe_merges(df, n_merges=6)
    pairs = [
        (r.merge_left, r.merge_right) for r in merges_df.orderBy("rank").collect()
    ]

    def encode(word):
        syms = list(word)
        for a, b in pairs:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    exp = {}
    for d, t in rows:
        ws = t.lower().split()
        if ws:
            exp[d] = (len(ws), sum(len(encode(w)) for w in ws))
    got = {
        r.doc_id: (r.n_tokens, r.n_pieces) for r in apply_bpe_merges(df, merges_df).collect()
    }
    assert got == exp
    assert 4 not in got  # whitespace-only doc has no tokens
    got_list = {
        r.doc_id: (r.n_tokens, r.n_pieces)
        for r in apply_bpe_merges(df, pairs, checkpoint_every=1).collect()
    }
    assert got_list == exp


def test_semantic_dedup_keep_rule(spark):
    # hand fixture, explicit centroids: component {1, 2, 3} in cell 0
    # (2 = 2x-scaled 1, 3 a close neighbor); the SemDeDup keep rule
    # retains the member with the LOWEST centroid cosine (3), 1 and 2 tie
    # bit-exactly (power-of-two scaling) and both drop; 4 sits alone in
    # cell 1; a null vector gets a null cell and is kept
    from smartlogic_concordance_transformer_spark.datapipe.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        (1, [1.0, 0.2]),
        (2, [2.0, 0.4]),
        (3, [1.0, 0.21]),
        (4, [0.3, 1.0]),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")

    pairs = sorted(
        (r.a, r.b, r.cell)
        for r in semantic_dedup_pairs(
            df, cents, threshold=0.999, vec_col="v", key_col="vec_id"
        ).collect()
    )
    assert pairs == [(1, 2, 0), (1, 3, 0), (2, 3, 0)]

    led = {
        r.vec_id: (r.cell, r.kept)
        for r in semantic_dedup(
            df, cents, threshold=0.999, vec_col="v", key_col="vec_id"
        ).collect()
    }
    assert led[3] == (0, True)
    assert led[1] == (0, False) and led[2] == (0, False)
    assert led[4] == (1, True)
    assert led[5] == (None, True)


def test_semantic_dedup_incremental_semantics(spark):
    # the daily-ingest contract: existing-existing duplicates are NOT
    # reported (the persisted corpus is never self-joined), new-existing
    # pairs lead with the new key, new-new pairs appear once with a < b
    from smartlogic_concordance_transformer_spark.datapipe.similarity import (
        semantic_dedup_incremental_pairs,
        spherical_assign,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    existing = spark.createDataFrame(
        [(1, [1.0, 0.2]), (2, [2.0, 0.4])],  # exact-dup pair, must NOT appear
        "vec_id long, v array<double>",
    )
    assigned = spherical_assign(existing, cents, "v").select(
        "vec_id", F.col("_cell").alias("cell"), "v"
    )
    new = spark.createDataFrame(
        [(10, [1.0, 0.2]), (11, [0.3, 1.0]), (12, [0.31, 1.0])],
        "vec_id long, v array<double>",
    )
    got = sorted(
        (r.a, r.b, r.cell)
        for r in semantic_dedup_incremental_pairs(
            new, assigned, cents, threshold=0.999, vec_col="v", key_col="vec_id"
        ).collect()
    )
    assert got == [(10, 1, 0), (10, 2, 0), (11, 12, 1)]


def test_duplicate_substring_spans_matches_reference(spark):
    # brute-force reference: count every raw k-gram, mark positions whose
    # gram occurs >= 2 times corpus-wide (cross-doc OR within-doc), merge
    # touching [p, p+k) intervals sequentially — pins the island fold,
    # the within-doc repeat case, and that short/null docs emit nothing
    # (sequence(1, n<1) would otherwise DESCEND and fabricate grams)
    from collections import Counter

    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        duplicate_substring_spans,
    )

    shared = "the quick brown fox jumps over the lazy dog again!"
    rows = [
        (1, "AAA " + shared + " unique tail one blah blah blah"),
        (2, "BBBBBB " + shared + " other tail entirely different"),
        (3, "no duplicated content here at all, pure one-off text"),
        (4, "xyxyxyxy " + "Z" * 120 + " qq " + "Z" * 120),
        (5, None),
        (6, "short"),
    ]
    k = 50
    out = duplicate_substring_spans(
        spark.createDataFrame(rows, "doc_id long, text string"), k=k
    )
    got = sorted((r.doc_id, r.span_start, r.span_end) for r in out.collect())

    texts = {d: (t or "") for d, t in rows}
    cnt = Counter(t[i : i + k] for t in texts.values() for i in range(len(t) - k + 1))
    exp = []
    for d, t in texts.items():
        ps = [i + 1 for i in range(len(t) - k + 1) if cnt[t[i : i + k]] >= 2]
        spans, cur = [], None
        for p in ps:
            if cur and p <= cur[1]:
                cur[1] = p + k
            else:
                cur = [p, p + k]
                spans.append(cur)
        exp += [(d, s, e) for s, e in spans]
    assert got == sorted(exp)
    assert {d for d, _, _ in got} == {1, 2, 4}


def test_excise_duplicate_substrings_keep_first(spark):
    # keep_first excludes each gram's corpus-wide first occurrence (min
    # (key, pos)) from span assembly, and the excise fold rebuilds the
    # text from the kept segments — both pinned against the sequential
    # reference; doc 1 (owner of the first occurrence) keeps the shared
    # block, doc 2 loses exactly it
    from collections import defaultdict

    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        duplicate_substring_spans,
        excise_duplicate_substrings,
    )

    shared = "the quick brown fox jumps over the lazy dog again!"
    rows = [
        (1, "AAA " + shared + " unique tail one blah blah blah"),
        (2, "BBBBBB " + shared + " other tail entirely different"),
        (3, "no duplicated content here at all, pure one-off text"),
        (4, "xyxyxyxy " + "Z" * 120 + " qq " + "Z" * 120),
        (6, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k = 50
    texts = {d: t for d, t in rows}
    occ = defaultdict(list)
    for d in sorted(texts):
        t = texts[d]
        for i in range(len(t) - k + 1):
            occ[t[i : i + k]].append((d, i + 1))

    marked = defaultdict(list)
    for os_ in occ.values():
        if len(os_) >= 2:
            first = min(os_)
            for o in os_:
                if o != first:
                    marked[o[0]].append(o[1])
    exp_spans = []
    for d, ps in marked.items():
        cur = None
        for p in sorted(ps):
            if cur and p <= cur[1]:
                cur[1] = p + k
            else:
                cur = [p, p + k]
                exp_spans.append((d, cur))
    exp_spans = sorted((d, s, e) for d, (s, e) in exp_spans)
    got_spans = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_substring_spans(df, k=k, keep_first=True).collect()
    )
    assert got_spans == exp_spans
    assert 1 not in {d for d, _, _ in got_spans}  # first occurrence kept

    def ref_excise(d):
        t = texts[d]
        out, last = [], 1
        for dd, s, e in exp_spans:
            if dd == d:
                out.append(t[last - 1 : s - 1])
                last = e
        out.append(t[last - 1 :])
        return "".join(out)

    got = {r.doc_id: r.clean for r in excise_duplicate_substrings(df, k=k).collect()}
    assert got == {d: ref_excise(d) for d in texts}
    assert got[1] == texts[1]  # untouched
    assert shared not in got[2] and got[2].startswith("BBBBBB")


def test_duplicate_substring_spans_pathological_doc(spark):
    """The bounded-buffer guarantee: a single periodic document whose
    EVERY gram is duplicated (~1.2M duplicate positions) must not funnel
    all positions into one reducer row — the two-level merge holds at
    most bucket_chars positions per level-1 group, and the exact result
    is still the single full-document span."""
    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        duplicate_substring_spans,
    )

    n = 150_000
    text = "ab" * n  # 300k chars; every 50-gram occurs ~n times
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    spans = duplicate_substring_spans(df, k=50).collect()
    assert [(r.doc_id, r.span_start, r.span_end) for r in spans] == [(1, 1, 2 * n + 1)]


def test_duplicate_substring_spans_merge_across_buckets(spark):
    """Intervals produced in different level-1 buckets must re-merge at
    level 2: with bucket_chars=64, a duplicated run crossing the 64-char
    boundary still comes back as ONE maximal span (and a run that stops
    short of another bucket's run stays split)."""
    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        duplicate_substring_spans,
    )

    k = 8
    run = "zqwxvujh" * 20  # 160 chars, crosses the 64 and 128 boundaries
    docs = [
        (1, "a" * 0 + run + "-filler one 1-" + "m" * 40),
        (2, "prefix two 2 " + run + "n" * 40),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_substring_spans(df, k=k, bucket_chars=64).collect()
    )
    ref = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_substring_spans(df, k=k, bucket_chars=1 << 20).collect()
    )
    assert got == ref
    # doc 1's run starts at position 1 and is 160 chars: one maximal span
    assert (1, 1, 161) in got


def test_ngram_perplexity_matches_reference(spark):
    # pure-Python interpolated bigram LM with the identical rounding
    # discipline (per-token round(log,9), exact decimal sum, final
    # round(,6)) — pins the smoothing arithmetic, the first-token
    # unigram-only branch, the repeated-text-low / rare-words-high
    # ordering, and that empty/null docs drop out
    import math
    from collections import Counter
    from decimal import Decimal

    from smartlogic_concordance_transformer_spark.datapipe.text import (
        ngram_perplexity,
    )

    rows = [
        (1, "the cat sat on the mat and the cat ran"),
        (2, "the the the the the"),
        (3, "zebra quark flux omega"),
        (4, None),
        (5, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.ppl) for r in ngram_perplexity(df).collect()}

    texts = {d: (t or "") for d, t in rows}

    def toks(t):
        import re

        t = re.sub(r"\s+", " ", t).lower().strip()
        return [w for w in t.split(" ") if w] if t else []

    uni = Counter(w for t in texts.values() for w in toks(t))
    N, V = sum(uni.values()), len(uni)
    bi = Counter()
    for t in texts.values():
        tk = toks(t)
        for i in range(1, len(tk)):
            bi[(tk[i - 1], tk[i])] += 1
    lam, a = 0.7, 1.0
    exp = {}
    for d, t in texts.items():
        tk = toks(t)
        if not tk:
            continue
        s = Decimal(0)
        for i, w in enumerate(tk):
            pu = (uni.get(w, 0) + a) / (N + a * V)
            if i == 0:
                p = pu
            else:
                pb = (bi.get((tk[i - 1], w), 0) + a) / (uni.get(tk[i - 1], 0) + a * V)
                p = lam * pb + (1.0 - lam) * pu
            s += Decimal(str(round(math.log(p), 9)))
        H = -float(s) / len(tk)
        exp[d] = (len(tk), round(math.exp(H), 6))
    assert got == exp
    assert got[2][1] < got[1][1] < got[3][1]  # repetition < normal < rare


def test_token_budget_mix_matches_reference(spark):
    # deterministic hash-ordered take-until per source: the reference
    # replays md5 ordering and the cumulative rule; budget 1 must yield
    # exactly one (overshooting) doc, a huge budget the whole source,
    # unnamed sources nothing
    import hashlib
    import re

    from smartlogic_concordance_transformer_spark.datapipe import token_budget_mix

    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    budgets = {"src0": 500, "src1": 137, "src2": 1, "src3": 10**9}
    got = {
        r.doc_id: (r.source, r.n_tokens, r.cum_tokens)
        for r in token_budget_mix(df, budgets).collect()
    }

    def ntok(t):
        t = re.sub(r"\s+", " ", t or "").strip()
        return len(t.split(" "))

    rows = df.select("doc_id", "source", "text").collect()
    exp = {}
    for s, b in budgets.items():
        docs = sorted(
            (hashlib.md5(f"mix:{r.doc_id}".encode()).hexdigest(), r.doc_id, ntok(r.text))
            for r in rows
            if r.source == s
        )
        cum = 0
        for _, d, n in docs:
            if cum < b:
                cum += n
                exp[d] = (s, n, cum)
            else:
                break
    assert got == exp
    by_src = {}
    for d, (s, n, c) in got.items():
        by_src.setdefault(s, 0)
        by_src[s] += 1
    assert by_src["src2"] == 1  # budget 1 -> exactly one doc
    assert by_src["src3"] == 25  # huge budget -> whole source
    assert not any(s == "src4" for s, _, _ in got.values())
    with pytest.raises(ValueError, match="at least one source"):
        token_budget_mix(df, {})


def test_bpe_encode_oracle_survives_merge_dry_out(spark):
    # the round-6 latent divergence: _bpe_chain built v{i+1} via CROSS
    # JOIN with b{i}, so a pair table running dry before n_merges made
    # every later vocabulary EMPTY and the encode oracle returned zero
    # rows while the engine (which just stops rewriting) returned full
    # per-doc output. The LEFT JOIN passthrough must keep them equal on
    # a corpus whose merges dry out (2 possible merges, k=8 requested)
    import duckdb

    import __spark_entry__ as entry
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        apply_bpe_merges,
        learn_bpe_merges,
    )

    rows = [(1, "ab ab ab"), (2, "ab cd"), (3, "cd cd")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = learn_bpe_merges(df, n_merges=8)
    assert merges.count() < 8  # the fixture genuinely dries out
    got = {
        r.doc_id: (r.n_tokens, r.n_pieces)
        for r in apply_bpe_merges(df, merges).collect()
    }

    con = duckdb.connect()
    con.execute("create table documents(doc_id bigint, text varchar)")
    con.executemany("insert into documents values (?, ?)", rows)
    exp = {
        d: (n, p)
        for d, n, p in con.execute(entry._bpe_encode_oracle(k=8)).fetchall()
    }
    assert got == exp and len(got) == 3


def test_dup_ngram_char_coverage_matches_reference(spark):
    # the TRUE Rae et al. A1 metric: unique character positions of the
    # normalized token stream covered by occurrences beyond the first of
    # duplicated word n-grams — overlap-heavy fixtures where the old
    # occurrence-weighted proxy double-counts. Reference: brute-force
    # char-mask over the space-joined tokens.
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        repetition_stats,
    )

    rows = [
        (1, "a b c a b c a b c"),          # chained overlapping dups
        (2, "x y z w q r"),                # no dup grams at all
        (3, "spam spam spam spam spam"),   # one word repeated
        (4, "the cat sat . the cat sat . on the mat"),
        (5, ""),                           # empty
        (6, None),                         # null text
        (7, "a a a b a a a"),              # palindromic overlap
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ns_cov = (2, 3)
    got = {
        r.doc_id: tuple(
            r[f"dup_{n}gram_char_coverage"] for n in ns_cov
        )
        for r in repetition_stats(
            df, ns=(2,), char_dup_ns=(2,), char_coverage_ns=ns_cov
        ).collect()
    }

    def cover(text, n):
        words = (text or "").lower().split()
        if not words:
            words = [""]
        norm = " ".join(words)
        # char start offset of each word in norm
        starts, off = [], 0
        for w in words:
            starts.append(off)
            off += len(w) + 1
        k = max(len(words) - (n - 1), 1)
        grams = [" ".join(words[i : i + n]) for i in range(k)]
        seen, mask = set(), [False] * len(norm)
        from collections import Counter

        counts = Counter(grams)
        first_seen = set()
        for i, g in enumerate(grams):
            if counts[g] > 1 and g in first_seen:
                lo = starts[i]
                hi = starts[min(i + n - 1, len(words) - 1)] + len(
                    words[min(i + n - 1, len(words) - 1)]
                )
                for p in range(lo, hi):
                    mask[p] = True
            first_seen.add(g)
        return round(sum(mask) / max(len(norm), 1), 6)

    exp = {d: tuple(cover(t, n) for n in ns_cov) for d, t in rows}
    assert got == exp
    # sanity anchors: doc 3 "spam"x5 at n=2 — occurrences 2..4 of
    # 'spam spam' cover chars 5..24 of a 24-char stream
    assert exp[3][0] == round(19 / 24, 6)
    assert exp[2] == (0.0, 0.0) and exp[5] == (0.0, 0.0)
    assert exp[6] == (0.0, 0.0)
    # coverage never double-counts: <= 1 even on doc 1's chained overlaps
    assert all(0.0 <= v <= 1.0 for t in got.values() for v in t)


# ---- md5 bridge / classifier / weighted sampling --------------------------


def _h60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_md5_long60_matches_hashlib(spark):
    from smartlogic_concordance_transformer_spark.datapipe import md5_long60

    keys = ["", "hello", "tok42", "Ünïcødé", "1234567890"]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = {r["k"]: r["h"] for r in df.select("k", md5_long60("k", "s").alias("h")).collect()}
    for k in keys:
        assert got[k] == _h60(f"s:{k}"), k


def _py_tokens(text: str) -> list[str]:
    import re

    return re.sub(r"\s+", " ", text or "").lower().strip().split(" ")


def test_quality_classifier_matches_pure_python(spark):
    from smartlogic_concordance_transformer_spark.datapipe import quality_classifier

    texts = [
        (1, "The quick brown fox  jumps\tover the lazy dog"),
        (2, ""),
        (3, None),
        (4, "spam spam SPAM!!! buy now"),
        (5, "  padded   whitespace  everywhere   "),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in quality_classifier(df).collect()}
    for doc_id, text in texts:
        toks = _py_tokens(text)
        ws = sum(_h60(f"qw:{t}") % 2001 - 1000 for t in toks)
        logit = ws / (len(toks) * 1000.0)
        r = got[doc_id]
        assert r["n_tokens"] == len(toks)
        assert r["w_sum"] == ws
        assert r["logit"] == logit  # exact: integer sum + one division
        assert r["keep"] == (logit > 0.0)


def test_quality_classifier_literal_vocabulary(spark):
    from smartlogic_concordance_transformer_spark.datapipe import quality_classifier

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "spam spam offer")], ["doc_id", "text"]
    )
    wts = {"the": 500, "spam": -1000}
    got = {r["doc_id"]: r for r in quality_classifier(df, weights=wts).collect()}
    assert got[1]["w_sum"] == 500 and got[1]["keep"] is True
    assert got[2]["w_sum"] == -2000 and got[2]["keep"] is False
    import pytest as _pytest

    with _pytest.raises(ValueError):
        quality_classifier(df, weights={"x": 1001})


def _py_clock(key, weight, salt="ws") -> float:
    import math

    u = (_h60(f"{salt}:{key}") + 1) / float(1 << 60)
    return -math.log(u) / weight


def test_weighted_sample_matches_pure_python(spark):
    from smartlogic_concordance_transformer_spark.datapipe import weighted_sample

    rows = [(i, 1 + (i * 37) % 997) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "w"]).repartition(7)
    got = [(r["doc_id"], r["weight"], r["rank"]) for r in weighted_sample(df, 25, "w").collect()]
    expect = sorted(rows, key=lambda t: (_py_clock(t[0], t[1]), t[0]))[:25]
    assert sorted(got, key=lambda t: t[2]) == [
        (k, w, i + 1) for i, (k, w) in enumerate(expect)
    ]


def test_weighted_sample_is_repartition_invariant(spark):
    from smartlogic_concordance_transformer_spark.datapipe import weighted_sample

    rows = [(i, 1 + i % 13) for i in range(200)]
    a = spark.createDataFrame(rows, ["doc_id", "w"])
    b = a.repartition(17)
    ra = sorted(map(tuple, weighted_sample(a, 20, "w").collect()))
    rb = sorted(map(tuple, weighted_sample(b, 20, "w").collect()))
    assert ra == rb


def test_stratified_weighted_sample_matches_pure_python(spark):
    from smartlogic_concordance_transformer_spark.datapipe import (
        stratified_weighted_sample,
    )

    rows = [(i, f"s{i % 3}", 1 + (i * 11) % 101) for i in range(240)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "w"]).repartition(9)
    got = sorted(
        (r["source"], r["doc_id"], r["weight"], r["rank"])
        for r in stratified_weighted_sample(df, 7, "w", key_col="doc_id").collect()
    )
    expect = []
    for s in ("s0", "s1", "s2"):
        members = [(k, w) for k, src, w in rows if src == s]
        members.sort(key=lambda t: (_py_clock(t[0], t[1]), t[0]))
        expect += [(s, k, w, i + 1) for i, (k, w) in enumerate(members[:7])]
    assert got == sorted(expect)


def test_priority_separation_assert_fires():
    import pytest as _pytest

    from smartlogic_concordance_transformer_spark.datapipe.sampling import (
        _assert_priority_separation,
    )

    _assert_priority_separation([1.0, 2.0, 3.0], "ok")
    with _pytest.raises(AssertionError):
        _assert_priority_separation([1.0, 1.0 + 1e-12], "near-tie")


def test_pack_documents_matches_pure_python(spark):
    import hashlib
    import re

    from smartlogic_concordance_transformer_spark.datapipe import pack_documents

    rows = [
        (1, "a b c"),
        (2, ""),
        (3, None),
        (4, " ".join(f"t{i}" for i in range(700))),
        (5, "one  two\tthree\nfour"),
        (6, "x" * 50),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(5)
    got = {r["doc_id"]: tuple(r) for r in pack_documents(df, 256).collect()}

    def n_tok(t):
        return len(re.sub(r"\s+", " ", t or "").strip().split(" "))

    order = sorted(rows, key=lambda r: (hashlib.md5(f"pack:{r[0]}".encode()).hexdigest(), r[0]))
    cum = 0
    for doc_id, text in order:
        n = n_tok(text)
        start = cum
        cum += n
        assert got[doc_id] == (
            doc_id, n, start, start // 256, (cum - 1) // 256, start % 256
        ), doc_id
    # the packed stream is gapless: starts tile [0, total)
    assert cum == sum(v[1] for v in got.values())


def test_pack_documents_is_repartition_invariant(spark):
    from smartlogic_concordance_transformer_spark.datapipe import pack_documents

    rows = [(i, f"tok{i} " * (1 + i % 9)) for i in range(150)]
    a = spark.createDataFrame(rows, ["doc_id", "text"])
    ra = sorted(map(tuple, pack_documents(a, 64).collect()))
    rb = sorted(map(tuple, pack_documents(a.repartition(13), 64).collect()))
    assert ra == rb
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pack_documents(a, 0)


def test_recall_vs_exact_semantics(spark):
    from smartlogic_concordance_transformer_spark.datapipe.similarity import (
        recall_vs_exact,
    )

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30), (3, 31)],
        ["query_id", "vec_id"],
    )
    approx = spark.createDataFrame(
        # q1: both right; q2: one right one wrong; q3: all wrong
        [(1, 10), (1, 11), (2, 20), (2, 99), (3, 98), (3, 97)],
        ["query_id", "vec_id"],
    )
    got = {r["query_id"]: (r["n_hit"], r["recall"]) for r in
           recall_vs_exact(approx, exact, k=2).collect()}
    assert got == {1: (2, 1.0), 2: (1, 0.5), 3: (0, 0.0)}  # zero-hit kept
    import pytest as _pytest

    with _pytest.raises(ValueError):
        recall_vs_exact(approx, exact, k=0)


def test_normalize_url_goldens(spark):
    from smartlogic_concordance_transformer_spark.datapipe.web import (
        normalize_url,
        url_host,
    )

    cases = [
        # (raw, normalized, host)
        ("HTTPS://WWW.X.COM:443/A/b?b=2&a=1#frag", "https://www.x.com/A/b?a=1&b=2", "www.x.com"),
        ("http://X.com:80", "http://x.com/", "x.com"),
        ("http://X.com:8080/p", "http://x.com:8080/p", "x.com"),
        ("https://x.com:80/p", "https://x.com:80/p", "x.com"),  # not https default
        ("https://x.com/?", "https://x.com/", "x.com"),  # empty query dropped
        ("https://x.com/p?a=1&&b=2", "https://x.com/p?a=1&b=2", "x.com"),  # empty param
        ("not a url#frag", "not a url", ""),  # unparsed: defrag only
        (None, None, None),
    ]
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)], ["i", "u"]
    )
    got = {
        r["i"]: (r["n"], r["h"])
        for r in df.select(
            "i", normalize_url("u").alias("n"), url_host("u").alias("h")
        ).collect()
    }
    for i, (_, want_n, want_h) in enumerate(cases):
        assert got[i] == (want_n, want_h), (i, got[i])


def test_url_ops_are_zero_shuffle(spark):
    from smartlogic_concordance_transformer_spark.datapipe.web import (
        normalize_url,
        url_host,
    )

    df = spark.range(10).select(
        F.concat(F.lit("https://h"), F.col("id").cast("string"), F.lit(".com/p?b=1&a=2")).alias("u")
    ).select(normalize_url("u").alias("n"), url_host("u").alias("h"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


# --- fuzzy matching (SymSpell deletion-neighborhood blocking) ---


def _py_lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_deletion_neighborhood_golden(spark):
    from smartlogic_concordance_transformer_spark.datapipe import deletion_neighborhood

    df = spark.createDataFrame([("cat",), ("aa",)], "term string")
    rows = {r.term: sorted(r.n) for r in df.select("term", deletion_neighborhood("term").alias("n")).collect()}
    assert rows["cat"] == sorted(["cat", "at", "ct", "ca"])
    # repeated chars collapse — the neighborhood is a set
    assert rows["aa"] == ["a", "aa"]


def test_fuzzy_match_pairs_golden(spark):
    from smartlogic_concordance_transformer_spark.datapipe import fuzzy_match_pairs

    terms = ["cat", "cot", "cart", "dog", "", "cat"]  # dup + empty excluded
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {(r.a, r.b, r.dist) for r in fuzzy_match_pairs(df).collect()}
    # substitution (cat,cot), insertion (cat,cart); NOT (cart,cot) dist 2,
    # NOT dog, never the empty term
    assert got == {("cat", "cot", 1), ("cart", "cat", 1)}


def test_fuzzy_match_pairs_equals_all_pairs_python(spark):
    # random vocabulary over a small alphabet so every edit case
    # (insert/delete/substitute, repeated chars) occurs; blocking+verify
    # must equal the quadratic oracle exactly
    import random as _random

    from smartlogic_concordance_transformer_spark.datapipe import fuzzy_match_pairs

    rng = _random.Random(7)
    vocab = sorted({
        "".join(rng.choice("abc") for _ in range(rng.randrange(1, 6)))
        for _ in range(120)
    })
    expected = {
        (a, b, 1)
        for i, a in enumerate(vocab)
        for b in vocab[i + 1:]
        if _py_lev(a, b) <= 1
    }
    df = spark.createDataFrame([(t,) for t in vocab], "term string")
    got = {(r.a, r.b, r.dist) for r in fuzzy_match_pairs(df).collect()}
    assert got == expected
    assert expected, "oracle degenerate: no qualifying pairs"


# --- paragraph-grain dedup (RefinedWeb rule) ---


def test_paragraph_dedup_semantics(spark):
    from smartlogic_concordance_transformer_spark.datapipe import paragraph_dedup

    rows = [
        (1, "alpha\nshared footer\nbeta"),
        (2, "gamma\nshared footer\ngamma"),  # cross-doc dup + within-doc dup
        (3, "shared footer"),                # every paragraph lost -> ''
        (4, "delta\n\nepsilon"),             # blank line is structure, passes
        (5, None),                           # null text stays null
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: (r.clean, r.n_dropped) for r in paragraph_dedup(df).collect()}
    assert out == {
        1: ("alpha\nshared footer\nbeta", 0),
        2: ("gamma", 2),
        3: ("", 1),
        4: ("delta\n\nepsilon", 0),
        5: (None, 0),
    }


def test_paragraph_dedup_keep_first_is_key_then_index(spark):
    from smartlogic_concordance_transformer_spark.datapipe import paragraph_dedup

    # the duplicate appears EARLIER (idx 0) in the higher-keyed doc; the
    # lower key still wins (exact_dedup's lowest-key-wins discipline)
    rows = [(7, "x\ndup"), (2, "a\nb\ndup")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r.clean for r in paragraph_dedup(df).collect()}
    assert out == {2: "a\nb\ndup", 7: "x"}


def test_paragraph_dedup_min_chars_passthrough(spark):
    from smartlogic_concordance_transformer_spark.datapipe import paragraph_dedup

    # short paragraphs below min_chars never dedup, even when repeated
    rows = [(1, "ok\nlong paragraph one"), (2, "ok\nlong paragraph two")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r.clean for r in paragraph_dedup(df, min_chars=3).collect()}
    assert out == {1: "ok\nlong paragraph one", 2: "ok\nlong paragraph two"}


# --- bucketized interval (range) join ---


def test_interval_join_matches_brute_force(spark):
    import random as _random

    from smartlogic_concordance_transformer_spark.datapipe.asof import interval_join

    rng = _random.Random(13)
    ivs = []
    for i in range(60):
        lo = rng.randrange(-50, 200)
        ivs.append((i, lo, lo + rng.randrange(0, 40)))  # width 0 allowed
    pts = [(j, rng.randrange(-60, 260)) for j in range(150)]
    pts += pts[:5]  # duplicate point rows keep multiset semantics
    expected = sorted(
        (pid, p, iid, lo, hi)
        for pid, p in pts
        for iid, lo, hi in ivs
        if lo <= p <= hi
    )
    pdf = spark.createDataFrame(pts, "pid int, p long")
    idf = spark.createDataFrame(ivs, "iid int, lo long, hi long")
    for chunk in (1, 7, 64, 1000):  # boundary-insensitive in chunk choice
        got = sorted(
            (r.pid, r.p, r.iid, r.lo, r.hi)
            for r in interval_join(pdf, idf, "p", "lo", "hi", chunk=chunk).collect()
        )
        assert got == expected, f"chunk={chunk}"


def test_interval_join_left_keeps_unmatched_points(spark):
    from smartlogic_concordance_transformer_spark.datapipe.asof import interval_join

    pdf = spark.createDataFrame([(1, 5), (2, 500), (3, None)], "pid int, p long")
    idf = spark.createDataFrame([(9, 0, 10)], "iid int, lo long, hi long")
    got = {
        (r.pid, r.p, r.iid, r.lo, r.hi)
        for r in interval_join(pdf, idf, "p", "lo", "hi", chunk=8, how="left").collect()
    }
    assert got == {(1, 5, 9, 0, 10), (2, 500, None, None, None), (3, None, None, None, None)}


def test_interval_join_drops_null_and_inverted_intervals(spark):
    from smartlogic_concordance_transformer_spark.datapipe.asof import interval_join

    pdf = spark.createDataFrame([(1, 5)], "pid int, p long")
    idf = spark.createDataFrame(
        [(1, 0, 10), (2, 10, 0), (3, None, 10), (4, 0, None)],
        "iid int, lo long, hi long",
    )
    got = {r.iid for r in interval_join(pdf, idf, "p", "lo", "hi", chunk=4).collect()}
    assert got == {1}


def test_interval_join_validates_args(spark):
    from smartlogic_concordance_transformer_spark.datapipe.asof import interval_join

    pdf = spark.createDataFrame([(1, 5)], "pid int, p long")
    with pytest.raises(ValueError):
        interval_join(pdf, pdf, "p", "p", "p", chunk=0)
    with pytest.raises(ValueError):
        interval_join(pdf, pdf, "p", "p", "p", chunk=8, how="outer")


# --- salted skew join ---


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equals_plain_join(spark, how):
    from smartlogic_concordance_transformer_spark.datapipe import salted_join

    # hot key 'h' on the probe side, duplicate build keys, null keys, an
    # unmatched probe key — multiset equality with the plain join
    left = spark.createDataFrame(
        [("h", i) for i in range(200)] + [("x", 1), ("z", 2), (None, 3)],
        "k string, lv int",
    )
    right = spark.createDataFrame(
        [("h", 10), ("h", 11), ("x", 20), ("y", 30), (None, 40)],
        "k string, rv int",
    )
    plain = sorted(
        ((r.k, r.lv, r.rv) for r in left.join(right, ["k"], how).collect()),
        key=str,
    )
    for salt in (1, 4):
        got = sorted(
            ((r.k, r.lv, r.rv) for r in salted_join(left, right, ["k"], salt=salt, how=how).collect()),
            key=str,
        )
        assert got == plain, f"salt={salt}"


def test_salted_join_validates_args(spark):
    from smartlogic_concordance_transformer_spark.datapipe import salted_join

    df = spark.createDataFrame([("a", 1)], "k string, v int")
    with pytest.raises(ValueError):
        salted_join(df, df, ["k"], salt=0)
    with pytest.raises(ValueError):
        salted_join(df, df, ["k"], how="full")


# --- approximate sketches (bounded-error contract, not oracle-hashable) ---


def test_distinct_count_estimate_within_rsd(spark):
    from smartlogic_concordance_transformer_spark.datapipe import distinct_count_estimate

    e = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    exact = e.select("user_id").distinct().count()
    est = distinct_count_estimate(e, "user_id", rsd=0.02).first().n_distinct
    # 5 standard deviations of headroom on the configured rsd
    assert abs(est - exact) <= max(5 * 0.02 * exact, 1), (est, exact)
    # grouped: per event_type estimates also inside the bound
    by_type = {
        r.event_type: r.n_distinct
        for r in distinct_count_estimate(e, "user_id", ["event_type"], rsd=0.02).collect()
    }
    exact_by = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(__import__("pyspark").sql.functions.countDistinct("user_id").alias("n"))
        .collect()
    }
    for t, n in exact_by.items():
        assert abs(by_type[t] - n) <= max(5 * 0.02 * n, 1), (t, by_type[t], n)
    # HLL register maxima are order-insensitive: repartition-invariant
    est2 = distinct_count_estimate(e.repartition(7), "user_id", rsd=0.02).first().n_distinct
    assert est == est2


def test_quantile_estimate_within_rank_error(spark):
    from smartlogic_concordance_transformer_spark.datapipe import quantile_estimate

    e = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    vals = sorted(r.value for r in e.select("value").collect())
    n = len(vals)
    qs = [0.1, 0.5, 0.99]
    got = quantile_estimate(e, "value", qs, accuracy=10000).first().qs
    for q, est in zip(qs, got):
        # rank error <= n/accuracy (+1 slack for interpolation-free picks)
        rank = vals.index(min(vals, key=lambda v: abs(v - est)))
        assert abs(rank - q * n) <= n / 10000 + 2, (q, est, rank)
    with pytest.raises(ValueError):
        quantile_estimate(e, "value", [])
    with pytest.raises(ValueError):
        quantile_estimate(e, "value", [1.5])


# --- data-quality constraint suite ---


def test_run_checks_semantics(spark):
    from smartlogic_concordance_transformer_spark.datapipe import (
        in_range,
        in_set,
        matches,
        not_null,
        ref_integrity,
        run_checks,
        unique,
    )

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", -1.0), (2, None, 3.0), (4, "zz", 200.0)],
        "k long, s string, v double",
    )
    ref = spark.createDataFrame([(1,), (2,)], "rk long")
    rep = {
        (r.constraint, r.column): (r.total, r.violations, r.passed)
        for r in run_checks(
            df,
            [
                not_null("s"),
                in_range("v", 0, 100),
                matches("s", "^[a-z]$"),
                in_set("s", ["a", "b"]),
                unique("k"),
                ref_integrity("k", ref, "rk"),
            ],
        ).collect()
    }
    assert rep == {
        ("not_null", "s"): (4, 1, False),
        ("in_range", "v"): (4, 2, False),   # -1.0 and 200.0; nulls count
        ("matches", "s"): (4, 2, False),    # null and 'zz'
        ("in_set", "s"): (4, 2, False),
        ("unique", "k"): (4, 1, False),     # rows beyond first occurrence
        ("ref_integrity", "k"): (4, 1, False),  # k=4 orphan; nulls exempt
    }


def test_run_checks_clean_frame_passes(spark):
    from smartlogic_concordance_transformer_spark.datapipe import (
        not_null,
        run_checks,
        unique,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    rep = run_checks(df, [not_null("s"), unique("k", "s")]).collect()
    assert all(r.passed and r.violations == 0 for r in rep)
    with pytest.raises(ValueError):
        run_checks(df, [])


def test_run_checks_is_single_scan_for_predicates(spark):
    # every predicate constraint folds into ONE aggregate over one scan:
    # exactly one read of the source in the plan
    from smartlogic_concordance_transformer_spark.datapipe import (
        in_range,
        not_null,
        run_checks,
    )

    df = spark.range(1000).selectExpr("id as k", "id * 2.0 as v")
    rep = run_checks(df, [not_null("k"), in_range("v", 0, 1e9), not_null("v")])
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range (0, 1000") == 1, plan


# --- banding selection (S-curve) ---


def test_choose_bands_tracks_the_threshold():
    from smartlogic_concordance_transformer_spark.datapipe.dedup import (
        choose_bands,
        lsh_collision_prob,
    )

    # the shipped default (16x4 over 64 hashes) is what a 0.5-0.6-ish
    # threshold selects; high thresholds push toward more rows per band
    for n, t in [(64, 0.5), (64, 0.8), (64, 0.9), (128, 0.7), (60, 0.85)]:
        b, r = choose_bands(n, t)
        assert b * r == n
        mid = (1.0 / b) ** (1.0 / r)
        # no other factorization's midpoint is closer to the target
        for r2 in range(1, n + 1):
            if n % r2 == 0:
                assert abs(mid - t) <= abs((1.0 / (n // r2)) ** (1.0 / r2) - t) + 1e-12
        # the S-curve separates: well above the threshold is near-certain,
        # well below falls off
        assert lsh_collision_prob(min(t + 0.15, 0.99), b, r) > 0.9
        assert lsh_collision_prob(max(t - 0.3, 0.05), b, r) < 0.5
    assert choose_bands(64, 0.55) == (16, 4)  # the module default banding
    import pytest as _pytest

    with _pytest.raises(ValueError):
        choose_bands(1, 0.5)
    with _pytest.raises(ValueError):
        choose_bands(64, 1.0)


# --- KG negative sampling (consistent-hash successor rule) ---


def test_negative_samples_matches_python_ring(spark):
    import hashlib as _hashlib

    from smartlogic_concordance_transformer_spark.datapipe import negative_samples

    rows = [(f"e{i:03d}", "p", f"e{(i * 7 + 1) % 200:03d}") for i in range(200)]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {
        (r.subj, r.pred, r.obj, r.i): r.neg
        for r in negative_samples(df, n_neg=2, bits=3).collect()
    }

    def h60(s, salt):
        return int(_hashlib.md5(f"{salt}:{s}".encode()).hexdigest()[:15], 16)

    ents = sorted({r[0] for r in rows} | {r[2] for r in rows})
    ring = sorted((h60(e, "neg:e"), e) for e in ents)

    def pick(g):
        for h, e in ring:
            if h >= g:
                return e
        return ring[0][1]

    want = {}
    for s, p, o in rows:
        for i in (1, 2):
            n = pick(h60("\x1f".join([s, p, o, str(i)]), "neg:t"))
            if n != o:  # self-collisions drop, disclosed
                want[(s, p, o, i)] = n
    assert got == want
    assert len(want) < 2 * len(rows), "expected at least one dropped self-collision"


def test_negative_samples_rejects_empty_buckets_and_bad_args(spark):
    from smartlogic_concordance_transformer_spark.datapipe import negative_samples

    df = spark.createDataFrame([("a", "p", "b")], "subj string, pred string, obj string")
    with pytest.raises(ValueError, match="empty buckets"):
        negative_samples(df, bits=10)  # 2 entities over 1024 buckets
    with pytest.raises(ValueError):
        negative_samples(df, bits=0)
    with pytest.raises(ValueError):
        negative_samples(df, n_neg=0)
    with pytest.raises(ValueError):
        negative_samples(df, corrupt="pred")


def test_tfidf_terms_matches_python(spark):
    from smartlogic_concordance_transformer_spark.datapipe.ranking import tfidf_terms

    corpus = [
        (1, "apple banana apple cherry"),
        (2, "banana cherry cherry date"),
        (3, "apple date date date eel"),
        (4, "banana banana fig apple"),
        (5, None),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (r.doc_id, r.rank): (r.token, r.tf, r.score)
        for r in tfidf_terms(df, top_k=2, min_df=2, max_df_frac=0.8).collect()
    }

    import math
    from collections import Counter

    docs = {d: (t or "").lower().split() for d, t in corpus}
    n = len(corpus)
    dfreq = Counter()
    for toks in docs.values():
        dfreq.update(set(toks))
    band = {
        t: round(math.log(n / c), 9)
        for t, c in dfreq.items()
        if c >= 2 and c <= math.floor(0.8 * n)
    }
    want = {}
    for d, toks in docs.items():
        tf = Counter(toks)
        scored = sorted(
            ((round(tf[t] * band[t], 6), t) for t in tf if t in band),
            key=lambda s: (-s[0], s[1]),
        )
        for rank, (score, t) in enumerate(scored[:2], start=1):
            want[(d, rank)] = (t, tf[t], score)
    assert got == want
    # 'banana' (df 3) passes the band; 'date' (df 2) passes; a df-4 token
    # on 5 docs exceeds floor(0.8*5)=4? floor gives 4 so df=4 stays —
    # assert the band actually excluded nothing unexpectedly is implicit
    # in the dict equality above.


def test_bm25_scores_matches_python(spark):
    from smartlogic_concordance_transformer_spark.datapipe.ranking import bm25_scores

    corpus = [
        (1, "spark hash join hash"),
        (2, "merge sort join"),
        (3, "scan filter project"),
        (4, "hash hash hash spark spark join extra tokens here"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id: (r.n_matched, r.bm25) for r in
           bm25_scores(df, ["hash", "spark", "join"]).collect()}

    import math
    from collections import Counter
    from decimal import Decimal

    k1, b = 1.2, 0.75
    docs = {d: t.lower().split() for d, t in corpus}
    n = len(corpus)
    dls = {d: len(t) for d, t in docs.items()}
    avgdl = sum(dls.values()) / n
    terms = sorted({"hash", "spark", "join"})
    dfreq = {t: sum(1 for toks in docs.values() if t in toks) for t in terms}
    want = {}
    for d, toks in docs.items():
        tf = Counter(w for w in toks if w in terms)
        if not tf:
            continue
        parts = []
        for t, c in tf.items():
            idf = round(math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5)), 9)
            parts.append(round(
                idf * (c * (k1 + 1.0)) / (c + k1 * ((1.0 - b) + b * (dls[d] / avgdl))),
                9,
            ))
        total = sum(Decimal(repr(p)) for p in parts)
        want[d] = (len(tf), round(float(total), 6))
    assert got == want
    assert 3 not in got, "doc with no query terms must drop out"


def test_cooccurrence_pmi_matches_python(spark):
    from smartlogic_concordance_transformer_spark.datapipe.ranking import (
        cooccurrence_pmi,
    )

    corpus = [
        (1, "a b c a b"),
        (2, "b c d"),
        (3, "a a a b"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {(r.a, r.b): (r.co, r.pmi) for r in
           cooccurrence_pmi(df, window=2, min_count=2).collect()}

    import math
    from collections import Counter

    toks = {d: (t or "").lower().split() for d, t in corpus}
    pairs = Counter()
    uni = Counter()
    for ws in toks.values():
        uni.update(ws)
        for i in range(len(ws)):
            for j in range(i + 1, min(i + 2, len(ws) - 1) + 1):
                a, b = sorted((ws[i], ws[j]))
                pairs[(a, b)] += 1
    n = sum(uni.values())
    t = sum(pairs.values())
    want = {}
    for (a, b), co in pairs.items():
        if co < 2:
            continue
        x = (co / t) / ((uni[a] / n) * (uni[b] / n))
        want[(a, b)] = (co, round(math.log(x), 9))
    assert got == want
    assert all(a <= b for a, b in got), "pairs must be canonically ordered"


def test_snapshot_diff_semantics(spark):
    from smartlogic_concordance_transformer_spark.io_tables import snapshot_diff

    old = spark.createDataFrame(
        [("s1", "p", "o1"), ("s2", "p", "o2"), ("s3", "p", None), ("s4", "p", "o4")],
        "subj string, pred string, obj string",
    )
    new = spark.createDataFrame(
        [("s1", "p", "o1"),        # unchanged -> drops out
         ("s2", "p", "oX"),        # changed
         ("s3", "p", "o3"),        # null -> value = changed (null-safe)
         ("s5", "p", "o5")],       # added; s4 removed
        "subj string, pred string, obj string",
    )
    got = {r.subj: (r.change, r.old_obj, r.new_obj)
           for r in snapshot_diff(old, new, keys=["subj", "pred"]).collect()}
    assert got == {
        "s2": ("changed", "o2", "oX"),
        "s3": ("changed", None, "o3"),
        "s4": ("removed", "o4", None),
        "s5": ("added", None, "o5"),
    }

    import pytest as _pytest
    with _pytest.raises(ValueError, match="schema mismatch"):
        snapshot_diff(old, new.withColumnRenamed("obj", "val"), keys=["subj"])
    with _pytest.raises(ValueError, match="key columns"):
        snapshot_diff(old, new, keys=["nope"])


def test_heavy_hitters_misra_gries_bounds(spark):
    from smartlogic_concordance_transformer_spark.datapipe.sketches import (
        heavy_hitters,
    )
    from collections import Counter

    # skewed stream: value 'h0' ~ 1/3 of rows, 'h1' ~ 1/6, long tail
    vals = []
    for i in range(6000):
        if i % 3 == 0:
            vals.append("h0")
        elif i % 6 == 1:
            vals.append("h1")
        else:
            vals.append(f"t{i % 97}")
    truth = Counter(vals)
    n, k = len(vals), 10
    df = spark.createDataFrame([(v,) for v in vals], "val string")
    for parts in (2, 8):
        got = {r.val: r.est_count
               for r in heavy_hitters(df.repartition(parts), "val", k=k).collect()}
        # every true heavy hitter (> n/(k+1)) is present
        for v, f in truth.items():
            if f > n / (k + 1):
                assert v in got, (parts, v, f)
        # never overcounts; undercounts by at most n/(k+1)
        for v, est in got.items():
            assert est <= truth[v], (parts, v, est, truth[v])
            assert truth[v] - est <= n / (k + 1), (parts, v, est, truth[v])

    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must be"):
        heavy_hitters(df, "val", k=0)


def test_heavy_hitters_ignores_nulls(spark):
    from smartlogic_concordance_transformer_spark.datapipe.sketches import (
        heavy_hitters,
    )

    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "val string"
    )
    got = {r.val: r.est_count for r in heavy_hitters(df, "val", k=5).collect()}
    assert got == {"a": 2, "b": 1}


def test_corpus_report_matches_python(spark):
    from smartlogic_concordance_transformer_spark.datapipe.quality_checks import (
        corpus_report,
    )
    from smartlogic_concordance_transformer_spark.datapipe.text import STOPWORDS

    rows = [
        ("s1", "en", "the quick brown fox jumps over the lazy dog " * 8),
        ("s1", "de", "kurz"),
        ("s2", "en", "a b c"),
    ]
    df = spark.createDataFrame(rows, "source string, lang string, text string")
    got = {r.source: (r.n_docs, r.n_tokens, r.mean_quality, r.n_lang_en)
           for r in corpus_report(df).collect()}

    def quality(t):
        toks = [w for w in t.strip().split() if w]
        n_chars = len(t)
        alpha = sum(ch.isalpha() for ch in t) / max(n_chars, 1)
        stop = len(set(toks) & set(STOPWORDS["en"]))
        mwl = n_chars / max(len(toks), 1)
        s = (1.0 if 200 <= n_chars <= 100000 else 0.5 if n_chars >= 50 else 0.0)
        s += 1.0 if 3 <= mwl <= 12 else 0.0
        s += 1.0 if stop >= 2 else 0.5 if stop >= 1 else 0.0
        s += 1.0 if alpha >= 0.6 else 0.5 if alpha >= 0.4 else 0.0
        return s / 4

    import re
    def ntok(t):
        return len(re.split(r"\s+", t.strip()))

    for src in ("s1", "s2"):
        docs = [(l, t) for s, l, t in rows if s == src]
        want = (
            len(docs),
            sum(ntok(t) for _, t in docs),
            round(sum(quality(t) for _, t in docs) / len(docs), 6),
            sum(1 for l, _ in docs if l == "en"),
        )
        assert got[src] == want, (src, got[src], want)


def _posting_fixture_docs(spark):
    rows = [
        (1, "alpha beta gamma"),
        (2, "beta gamma delta"),
        (3, "gamma delta epsilon"),
        (4, "alpha epsilon"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_posting_store_incremental_equals_batch(spark, tmp_path):
    from smartlogic_concordance_transformer_spark.datapipe.ranking import (
        PostingStore,
        inverted_index,
    )

    docs = _posting_fixture_docs(spark)
    store = PostingStore(str(tmp_path / "idx"), n_buckets=8)
    store.ingest(docs.filter("doc_id <= 2"), batch_id=0)
    store.ingest(docs.filter("doc_id > 2"), batch_id=1)

    inc = {r.token: (r.df_t, tuple(r.postings))
           for r in store.posting_lists(spark, min_df=1, max_df_frac=1.0).collect()}
    full = {r.token: (r.df_t, tuple(r.postings))
            for r in inverted_index(docs, min_df=1, max_df_frac=1.0).collect()}
    assert inc == full
    # band-pass applies identically on the incremental path
    banded = {r.token for r in
              store.posting_lists(spark, min_df=2, max_df_frac=0.6).collect()}
    assert banded == {"alpha", "beta", "delta", "epsilon"}  # gamma df=3 > 0.6*4


def test_posting_store_replay_is_idempotent(spark, tmp_path):
    from smartlogic_concordance_transformer_spark.datapipe.ranking import (
        PostingStore,
    )

    docs = _posting_fixture_docs(spark)
    store = PostingStore(str(tmp_path / "idx"), n_buckets=8)
    store.ingest(docs.filter("doc_id <= 2"), batch_id=0)
    store.ingest(docs.filter("doc_id > 2"), batch_id=1)
    before = sorted(
        tuple(r) for r in store.read(spark).select("token", "key").collect()
    )
    store.ingest(docs.filter("doc_id <= 2"), batch_id=0)  # at-least-once replay
    after = sorted(
        tuple(r) for r in store.read(spark).select("token", "key").collect()
    )
    assert before == after


def test_posting_store_lookup_semantics_and_pruning(spark, tmp_path):
    from smartlogic_concordance_transformer_spark.datapipe.ranking import (
        PostingStore,
    )
    import pytest as _pytest

    docs = _posting_fixture_docs(spark)
    store = PostingStore(str(tmp_path / "idx"), n_buckets=8)
    store.ingest(docs, batch_id=0)
    got = [r.key for r in store.lookup(spark, "gamma").collect()]
    assert got == [1, 2, 3]
    assert store.lookup(spark, "nosuchtoken").count() == 0
    # the tb equality must reach the scan as a PARTITION filter
    plan = store.lookup(spark, "gamma")._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and any("tb" in l for l in scan), plan
    with _pytest.raises(ValueError, match="n_buckets"):
        PostingStore("/tmp/x", n_buckets=0)


def test_char_entropy_matches_python(spark):
    from smartlogic_concordance_transformer_spark.datapipe.text import char_entropy

    rows = [
        (1, "aaaa"),            # zero entropy
        (2, "abab"),            # 1 bit = ln 2 nats
        (3, "abcd"),            # ln 4
        (4, ""),                # empty -> 0.0 over 0 chars
        (5, None),              # null -> same as empty
        (6, "mississippi"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_chars, r.entropy) for r in char_entropy(df).collect()}

    import math
    from collections import Counter
    from decimal import Decimal

    want = {}
    for d, t in rows:
        t = t or ""
        n = len(t)
        if n == 0:
            want[d] = (0, 0.0)
            continue
        total = Decimal(0)
        for cnt in Counter(t).values():
            p = cnt / n
            total += Decimal(repr(round(-(p * math.log(p)), 9)))
        want[d] = (n, round(float(total), 6))
    assert got == want
    assert want[2][1] == round(math.log(2), 6)


def test_char_entropy_is_zero_shuffle(spark):
    from smartlogic_concordance_transformer_spark.datapipe.text import char_entropy

    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    plan = char_entropy(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # no explode either — pure fold


def test_compression_ratio_matches_zlib(spark):
    from smartlogic_concordance_transformer_spark.datapipe.text import (
        compression_ratio,
    )
    import zlib
    import pytest as _pytest

    rows = [
        (1, "a" * 400),                          # highly compressible
        (2, "the quick brown fox " * 20),
        (3, ""),                                 # empty -> 0.0 / 0 bytes
        (4, None),
        (5, "x1y2z3 " + "qwertyuiopasdfgh" * 3),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_bytes, r.ratio)
           for r in compression_ratio(df, level=6).collect()}
    want = {}
    for d, t in rows:
        raw = (t or "").encode("utf-8")
        want[d] = (
            len(raw),
            0.0 if not raw else round(len(zlib.compress(raw, 6)) / len(raw), 6),
        )
    assert got == want
    assert got[1][1] < 0.1 < got[5][1], "filler must compress far below prose"
    with _pytest.raises(ValueError, match="level"):
        compression_ratio(df, level=0)
