"""Training-data ops: dedup, similarity, textstats, multimodal."""

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def toy_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the river shore"),  # near dup of 1
        (4, "completely different text about spark shuffles and partitions here"),
        (5, "der hund läuft und das ist nicht ein problem mit der katze"),
        (6, "le chat est sur la table et les livres sont pas une surprise"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact(toy_docs):
    from defuddle_spark.ops.dedup import dedup_exact
    out = {r["doc_id"]: r["dup_count"] for r in dedup_exact(toy_docs).collect()}
    assert out[1] == 2          # doc 2 collapsed into doc 1
    assert 2 not in out
    assert out[3] == 1 and out[4] == 1


def test_dedup_paragraphs(spark):
    """Corpus-wide paragraph dedup: first (doc_id, idx) occurrence of
    each md5 survives; docs reassemble from survivors in original order;
    within-doc repeats collapse to the first position; NULL/empty/
    whitespace-only texts come back as shells with 0 counts."""
    from defuddle_spark.ops.dedup import dedup_paragraphs
    rows = [
        (1, "Cookie banner.\n\nReal content one."),
        (2, "Cookie banner.\n\nReal content two.\n\nReal content two."),
        (3, "  \n\nCookie banner.\n\n"),   # only a dup -> empty shell
        (4, None),
        (5, "   \n\n \n\n"),               # whitespace-only paragraphs
        (6, "Trailing spaces survive trim.   \n\nTrailing spaces survive trim."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_paragraphs(df).collect()}
    assert len(out) == 6                    # every input doc has a row
    assert out[1]["text"] == "Cookie banner.\n\nReal content one."
    assert (out[1]["n_paras"], out[1]["n_paras_kept"]) == (2, 2)
    # banner dropped (doc 1 owns it); within-doc repeat keeps idx-min only
    assert out[2]["text"] == "Real content two."
    assert (out[2]["n_paras"], out[2]["n_paras_kept"]) == (3, 1)
    assert out[3]["text"] == "" and out[3]["n_paras"] == 1
    assert out[3]["n_paras_kept"] == 0
    for d in (4, 5):
        assert (out[d]["text"], out[d]["n_paras"], out[d]["n_paras_kept"]) \
            == ("", 0, 0)
    # trim makes the two doc-6 paragraphs identical -> one survives
    assert out[6]["text"] == "Trailing spaces survive trim."
    assert (out[6]["n_paras"], out[6]["n_paras_kept"]) == (2, 1)


def test_dedup_paragraphs_first_doc_wins_across_corpus(spark):
    """The keep rule is the corpus-wide (doc_id, idx) minimum, not
    per-partition: a paragraph planted in many docs survives exactly
    once, in the lowest doc_id, at its earliest index there."""
    from defuddle_spark.ops.dedup import dedup_paragraphs
    shared = "Shared license blurb."
    rows = [(i, f"unique {i}\n\n{shared}\n\n{shared}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string") \
              .repartition(8)
    out = dedup_paragraphs(df)
    holders = [r["doc_id"] for r in out.collect()
               if shared in r["text"]]
    assert holders == [0]
    row0 = out.filter(F.col("doc_id") == 0).head()
    assert row0["text"] == f"unique 0\n\n{shared}"   # idx order preserved
    assert (row0["n_paras"], row0["n_paras_kept"]) == (3, 2)
    assert out.filter(F.col("doc_id") == 7).head()["text"] == "unique 7"


def test_ngram_jaccard_pairs(toy_docs):
    from defuddle_spark.ops.dedup import ngram_jaccard_pairs
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(toy_docs, k=3, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_lsh_finds_planted_neardups(toy_docs):
    from defuddle_spark.ops.dedup import minhash_lsh_candidates
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in minhash_lsh_candidates(toy_docs).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5
    assert not any((a == 4 or b == 4) for a, b in pairs)


def test_simhash_near_pairs(spark, toy_docs):
    from defuddle_spark.ops.dedup import simhash64, simhash_near_pairs
    sims = {r["doc_id"]: r["simhash"] for r in simhash64(toy_docs).collect()}
    assert sims[1] == sims[2]  # identical text → identical simhash
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_near_pairs(toy_docs, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0

    # long docs: 1 token changed out of ~70 → small hamming, caught by the
    # 4x16-bit chunk blocking (pigeonhole guarantees recall for hamming<=3)
    base = ("spark shuffle partition executor broadcast join aggregate window "
            "catalyst tungsten codegen arrow pandas kernel parquet iceberg "
            "manifest lineage checkpoint resume salting skew bucket hash " * 3).split()
    long_docs = spark.createDataFrame(
        [(10, " ".join(base)), (11, " ".join(base[:-1] + ["CHANGED"]))],
        ["doc_id", "text"])
    long_pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                  for r in simhash_near_pairs(long_docs, max_hamming=3).collect()}
    assert (10, 11) in long_pairs and long_pairs[(10, 11)] <= 3


def test_cosine_topk_exact(spark):
    from defuddle_spark.ops.similarity import cosine_topk
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = cosine_topk(emb, [1.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in out] == [0, 1, 2]
    assert out[0]["cos_sim"] == 1.0
    expected = 0.9 / math.sqrt(0.81 + 0.01)
    assert abs(out[1]["cos_sim"] - round(expected, 4)) < 1e-9


def test_lsh_topk_recalls_nearest(spark):
    from defuddle_spark.ops.similarity import lsh_topk
    import numpy as np
    rng = np.random.RandomState(7)
    base = rng.randn(64)
    rows = [(0, base.tolist())]
    for i in range(1, 50):
        rows.append((i, (base + rng.randn(64) * (0.05 if i < 5 else 2.0)).tolist()))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = [r["vec_id"] for r in lsh_topk(emb, base.tolist(), k=5).collect()]
    assert out[0] == 0
    assert set(out[:5]) & {1, 2, 3, 4}  # close vectors land in the bucket


def test_c4_line_filter(spark):
    """C4 §2.2 cleaning rules: terminal-punctuation lines with >= 3
    words survive, javascript lines drop, pages with '{' / 'lorem
    ipsum' / < 5 sentences drop; every input doc keeps an audit row."""
    from defuddle_spark.ops.corpus import c4_line_filter
    good = "\n".join(
        f"This is a perfectly fine sentence number {i}." for i in range(6))
    rows = [
        (1, good),
        (2, good + "\nEnable JavaScript to continue."),
        (3, good + "\nif (x) { y(); }"),
        (4, "Too short.\nNo terminal punct here\nok."),
        (5, "Lorem Ipsum dolor sit amet.\n" + good),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_line_filter(df).collect()}
    assert len(out) == 6
    assert out[1]["page_kept"] and out[1]["n_lines_kept"] == 6
    assert out[1]["text"] == good
    # the javascript line drops but the page survives
    assert out[2]["page_kept"] and (out[2]["n_lines"], out[2]["n_lines_kept"]) == (7, 6)
    assert "JavaScript" not in out[2]["text"]
    # '{' is a page-level kill even though the kept lines look fine
    assert not out[3]["page_kept"] and out[3]["n_lines_kept"] == 6
    # short lines and missing terminal punctuation all filtered
    assert (out[4]["n_lines"], out[4]["n_lines_kept"], out[4]["page_kept"]) \
        == (3, 0, False)
    assert not out[5]["page_kept"] and out[5]["n_lines_kept"] == 7
    assert (out[6]["n_lines"], out[6]["n_lines_kept"], out[6]["page_kept"]) \
        == (0, 0, False)


def test_unigram_cross_entropy(spark):
    """Hand-checked corpus LM scores; NULL/empty-text shells; the
    rare-token doc scores strictly higher than the common-token doc."""
    import math

    from defuddle_spark.ops.textstats import unigram_cross_entropy
    rows = [(1, "the the the the common words"),
            (2, "zyzzyva qwerty"),
            (3, None),
            (4, ""),          # empty pseudo-token must NOT enter the LM
            (5, " \t ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in unigram_cross_entropy(df).collect()}
    n_total = 8.0                       # docs 3-5 contribute nothing
    lp = lambda c: round(math.log(c / n_total), 9)
    assert out[1]["n_tokens"] == 6
    assert out[1]["cross_entropy"] == round(-(4 * lp(4) + 2 * lp(1)) / 6, 6)
    assert out[2]["cross_entropy"] == round(-lp(1), 6)
    assert out[2]["cross_entropy"] > out[1]["cross_entropy"]
    for d in (3, 4, 5):
        assert (out[d]["n_tokens"], out[d]["cross_entropy"]) == (0, None)


def test_whitespace_tokenization_engine_parity(spark):
    """Spark _tokens and the DuckDB _TOKENS oracle macro must split on
    the SAME byte set. Java's \\s includes \\x0B, RE2's does not — the
    explicit charclass pins them together; a vertical tab (plus every
    other ASCII whitespace) must tokenize identically on both engines."""
    import duckdb

    import __spark_entry__ as entrymod
    from defuddle_spark.ops.textstats import _tokens

    nasty = "a\x0bb\tc d\ne\ff\rg  h\x0b\x0b i"
    spark_toks = (spark.createDataFrame([(nasty,)], "text string")
                  .select(_tokens("text").alias("t")).head()["t"])
    duck_toks = duckdb.sql(
        f"SELECT {entrymod._TOKENS} AS t FROM (SELECT ? AS text)",
        params=[nasty]).fetchone()[0]
    assert spark_toks == duck_toks == list("abcdefgh") + ["i"]

    # bytes no corpus contains: \x0B splits; NBSP, the C0 separators
    # \x1c-\x1f, NEL and the ideographic space do not. Every Spark
    # tokenizer entry point must split on exactly [ \t\n\x0B\f\r]
    # (and trim only spaces).
    import re

    from defuddle_spark.ops.dedup import _token_shingles, simhash64
    from defuddle_spark.ops.textstats import repetition_signals
    rare = ("p\x0bq r\u00a0s\x1ct\x1du\x1ev\x1fw\u0085x\u3000y "
            "p\x0bq\x0b\x0br\u00a0s\x1ct\x1du\x1ev\x1fw\u0085x\u3000y "
            "\u00a0 p q")
    want = re.split("[ \t\n\x0b\f\r]+", rare.strip(" "))
    assert len(want) == 9 and "r\u00a0s\x1ct\x1du\x1ev\x1fw\u0085x\u3000y" in want
    df = spark.createDataFrame([(1, rare), (2, " ".join(want))],
                               "doc_id long, text string")
    row = df.filter("doc_id = 1").select(
        _tokens("text").alias("t"),
        _token_shingles("text", 1).alias("s")).head()
    assert row["t"] == row["s"] == want
    assert duckdb.sql(
        f"SELECT {entrymod._TOKENS} AS t FROM (SELECT ? AS text)",
        params=[rare]).fetchone()[0] == want
    # simhash64 explodes the same tokens as the space-joined reference
    sims = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}
    assert sims[1] == sims[2]
    # repetition_signals' n-gram coverage, from a Python reference over
    # the same tokens: the most frequent n-gram (ties: most characters)
    # times its joined length, over the text length
    from collections import Counter
    rep = repetition_signals(df.filter("doc_id = 1")).head()
    for n in (2, 3, 4):
        grams = Counter(tuple(want[i:i + n])
                        for i in range(len(want) - n + 1))
        cov = max((c, c * len(" ".join(g))) for g, c in grams.items())[1]
        assert rep[f"top_{n}gram_char_frac"] == round(
            min(1.0, cov / len(rare)), 6), n


def test_unigram_cross_entropy_layout_independent(spark):
    """The decimal fixed-point accumulation makes the score bit-identical
    across partition layouts (the property float sums lack)."""
    from defuddle_spark.ops.textstats import unigram_cross_entropy
    rows = [(i, f"tok{i % 11} shared words here tok{i % 7} " * (1 + i % 5))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["cross_entropy"]
         for r in unigram_cross_entropy(df.coalesce(1)).collect()}
    b = {r["doc_id"]: r["cross_entropy"]
         for r in unigram_cross_entropy(df.repartition(16)).collect()}
    assert a == b


def test_text_quality_and_fingerprint(spark, toy_docs):
    from defuddle_spark.ops.textstats import fingerprint, text_quality
    q = {r["doc_id"]: r for r in text_quality(toy_docs).collect()}
    assert q[1]["n_tokens"] == 13
    assert q[1]["stopword_ratio"] > 0.2  # 'the' x3, 'over' not in list
    fp = {r["doc_id"]: r for r in fingerprint(toy_docs).collect()}
    assert fp[1]["fp_md5"] == fp[2]["fp_md5"]
    assert fp[1]["fp_poly"] == fp[2]["fp_poly"]
    assert fp[1]["fp_md5"] != fp[3]["fp_md5"]


def test_lang_id_heuristic(spark):
    from defuddle_spark.ops.textstats import lang_id
    rows = [
        (1, "the cat is on the table and that is fine with the dog"),
        (2, "der hund und die katze das ist nicht ein problem mit der maus"),
        (3, "le chat est sur la table et les livres sont pas une surprise des"),
        (4, "el perro es una mascota que vive por los parques las calles"),
        (5, "这是 一个 中文 文档 关于 大数据 处理 系统"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "zh"}


def test_multimodal_features_and_frames(spark):
    from defuddle_spark.ops.multimodal import (
        decode_image, extract_features, frame_sample, synthesize_media)
    media = synthesize_media(spark, n=32)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(feats) == 32
    f0 = feats[0]
    assert f0["n_bytes"] == 1024
    assert len(f0["byte_histogram"]) == 16
    assert sum(f0["byte_histogram"]) == f0["n_bytes"]
    assert 0.0 < f0["byte_entropy"] <= 4.0
    frames = frame_sample(media).groupBy("media_id").count().collect()
    assert all(r["count"] >= 1 for r in frames)
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff")  # codec stub, clearly marked


def test_deterministic_across_runs(spark, toy_docs):
    from defuddle_spark.ops.dedup import minhash_signatures
    a = sorted(minhash_signatures(toy_docs).collect())
    b = sorted(minhash_signatures(toy_docs).collect())
    assert [r["sig"] for r in a] == [r["sig"] for r in b]


def test_events_sessionize_gap_logic(spark):
    import datetime as dt
    from defuddle_spark.ops.events import sessionize, windowed_counts
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 1, "click", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=10), 1, "click", 1.0, "{}"),
        (3, base + dt.timedelta(minutes=50), 1, "view", 1.0, "{}"),   # >30m gap → new session
        (4, base, 2, "click", 1.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    out = {r["user_id"]: r for r in sessionize(events).collect()}
    assert out[1]["n_sessions"] == 2
    assert out[1]["n_events"] == 3
    assert out[1]["longest_session_events"] == 2
    assert out[2]["n_sessions"] == 1
    w = windowed_counts(events).collect()
    assert sum(r["n_events"] for r in w) == 4


def test_simhash_block_widening_differential(spark):
    """Wider-key blocking (Manku-style combinations) finds the SAME pairs as
    the default 4x16-bit blocking — pigeonhole recall is exact for both."""
    from defuddle_spark.ops.dedup import simhash_near_pairs
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d2 = docs.select("doc_id", "text").unionByName(
        docs.selectExpr("doc_id + 10000 AS doc_id", "text"))
    base = sorted(tuple(r) for r in
                  simhash_near_pairs(d2, max_hamming=3).collect())
    wide = sorted(tuple(r) for r in
                  simhash_near_pairs(d2, max_hamming=3, n_blocks=6).collect())
    auto = sorted(tuple(r) for r in
                  simhash_near_pairs(d2, max_hamming=3,
                                     expected_docs=10**9).collect())
    assert base == wide == auto
    assert len(base) > 0


def test_hot_bucket_cap_bounds_pairs(spark, caplog):
    """A planted boilerplate cluster (one band bucket holding every doc)
    is dropped from the candidate join — and loudly logged, not silent."""
    import logging
    from defuddle_spark.ops.dedup import minhash_lsh_candidates
    docs = spark.createDataFrame(
        [(i, "exact same boilerplate text everywhere") for i in range(60)],
        "doc_id long, text string")
    with caplog.at_level(logging.WARNING, logger="defuddle_spark.ops.dedup"):
        capped = minhash_lsh_candidates(docs, hot_bucket_cap=10).collect()
    assert capped == []  # the only buckets were hot → all dropped
    assert any("hot bucket" in r.message for r in caplog.records)
    # with the cap above the cluster size the pairs come back
    full = minhash_lsh_candidates(docs, hot_bucket_cap=10000).count()
    assert full == 60 * 59 // 2


def test_minhash_candidates_match_round1_semantics(spark):
    """Id-only band join + signature re-attach returns the same candidate
    set and estimates as joining with signatures carried through."""
    from defuddle_spark.ops.dedup import minhash_lsh_candidates
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d2 = docs.select("doc_id", "text").unionByName(
        docs.selectExpr("doc_id + 10000 AS doc_id", "text"))
    out = {(r["id_a"], r["id_b"]): r["est_jaccard"]
           for r in minhash_lsh_candidates(d2).collect()}
    # every planted exact duplicate is a candidate with estimate 1.0
    for r in docs.select("doc_id").collect():
        assert out.get((r["doc_id"], r["doc_id"] + 10000)) == 1.0


def test_lsh_topk_inlist_equals_bitcount(spark):
    """The IN-list candidate filter is set-identical to bit_count(xor):
    sig IN {s : hamming(s, qsig) <= r} <=> bit_count(sig ^ qsig) <= r."""
    import numpy as np
    from pyspark.sql import functions as F
    from defuddle_spark.ops.similarity import (
        _sigs_within, ann_index, lsh_topk, query_signature)
    rng = np.random.RandomState(7)
    base = rng.randn(16)
    rows = [(i, (base + rng.randn(16) * (0.01 if i < 30 else 2.0)).tolist())
            for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    query = base.tolist()

    idx = ann_index(emb, dim=16)
    qsig = query_signature(query)
    inlist = set(r["vec_id"] for r in idx.filter(
        F.col("sig").isin(_sigs_within(qsig, 12, 2))).collect())
    bitcnt = set(r["vec_id"] for r in idx.filter(
        F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig))) <= 2).collect())
    assert inlist == bitcnt and inlist

    out = [r["vec_id"] for r in lsh_topk(emb, query, k=5).collect()]
    assert len(out) == 5


def test_ann_index_partition_pruning(spark, tmp_path):
    """lsh_topk over a written ann_index prunes at the scan: the physical
    plan's PartitionFilters carry the sig IN-list."""
    import numpy as np
    from defuddle_spark.ops.similarity import ann_index, lsh_topk, write_ann_index
    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).tolist()) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "annidx")
    write_ann_index(ann_index(emb, dim=8, planes=8), path)

    idx = spark.read.parquet(path)
    q = lsh_topk(idx, rng.randn(8).tolist(), k=5, planes=8)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "sig" in plan
    # and the filter actually prunes: no full-corpus fallback
    assert q.count() <= 5


def test_embedding_neardup_exact_and_lsh(spark):
    """Embedding-cosine near-dup: the exact variant finds every planted
    pair; the LSH variant's pairs are a subset with high recall and
    identical cosine values."""
    from pyspark.sql import functions as F
    from defuddle_spark.ops.similarity import (cosine_neardup_lsh,
                                               cosine_neardup_pairs)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("embedding"))
    pert = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(F.array(F.col("embedding")[0].cast("double") + 0.1),
                 F.transform(F.slice("embedding", 2, 10000),
                             lambda x: x.cast("double"))).alias("embedding"))
    e2 = base.unionByName(pert)
    exact = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in cosine_neardup_pairs(e2, threshold=0.9).collect()}
    n = emb.count()
    # every planted (i, i+10000) pair is found, nothing else qualifies
    assert set(exact) == {(r["vec_id"], r["vec_id"] + 10000)
                          for r in emb.select("vec_id").collect()}
    assert all(v >= 0.99 for v in exact.values())
    lsh = {(r["id_a"], r["id_b"]): r["cos_sim"]
           for r in cosine_neardup_lsh(e2, dim=64, threshold=0.9).collect()}
    assert set(lsh) <= set(exact)
    assert len(lsh) >= 0.9 * n  # probabilistic recall on planted pairs
    assert all(exact[k] == v for k, v in lsh.items())


def test_token_stats_bpe_regex(spark):
    from defuddle_spark.ops.textstats import token_stats
    docs = spark.createDataFrame(
        [(1, "It's 2024, tokenizers aren't free!")],
        "doc_id long, text string")
    row = token_stats(docs).collect()[0]
    # It|'s| 2024|,| tokenizers| aren|'t| free|! -> 9 BPE-ish tokens
    assert row["n_ws_tokens"] == 5
    assert row["n_bpe_tokens"] == 9


def test_cosine_neardup_bound_guard(spark):
    """The exact variant refuses corpora over max_vectors instead of
    collecting them to the driver (the LSH path is the scale variant)."""
    import pytest
    from defuddle_spark.ops.similarity import cosine_neardup_pairs
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="cosine_neardup_lsh"):
        cosine_neardup_pairs(emb, max_vectors=10)
    # at or under the bound the operator runs normally
    assert cosine_neardup_pairs(emb, threshold=0.99999,
                                max_vectors=20).count() >= 0


def test_cosine_neardup_string_ids(spark):
    """Pair schema follows the caller's id type: string doc keys survive
    the Arrow round trip (round-2 hardcoded 'long' broke them)."""
    from defuddle_spark.ops.similarity import cosine_neardup_pairs
    emb = spark.createDataFrame(
        [("doc-a", [1.0, 0.0]), ("doc-b", [1.0, 1e-6]), ("doc-c", [0.0, 1.0])],
        "vec_id string, embedding array<double>")
    pairs = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in cosine_neardup_pairs(emb, threshold=0.9).collect()}
    assert set(pairs) == {("doc-a", "doc-b")}
    assert pairs[("doc-a", "doc-b")] == 1.0


def test_ivf_fullprobe_equals_exact(spark):
    """nprobe == n_lists is exact search: every vector lives in exactly
    one list, so the probed union is the whole corpus."""
    import numpy as np
    from defuddle_spark.ops.similarity import (
        cosine_topk, ivf_index, ivf_topk, ivf_train)
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(8).tolist()) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_train(emb, n_lists=8, iters=2)
    assert len(cents) == 8 and len(cents[0]) == 8
    q = rng.randn(8).tolist()
    exact = [(r["vec_id"], r["cos_sim"]) for r in cosine_topk(emb, q, k=10).collect()]
    full = [(r["vec_id"], r["cos_sim"]) for r in
            ivf_topk(emb, cents, q, k=10, nprobe=8).collect()]
    assert full == exact
    # single assignment: list sizes sum to the corpus
    sizes = ivf_index(emb, cents).groupBy("list_id").count().collect()
    assert sum(r["count"] for r in sizes) == 300
    assert all(0 <= r["list_id"] < 8 for r in sizes)


def test_ivf_probe_recall(spark):
    """At nprobe < n_lists the probed lists still recall most of the
    exact top-k (clustered corpus: near neighbors share a list)."""
    import numpy as np
    from defuddle_spark.ops.similarity import cosine_topk, ivf_topk, ivf_train
    rng = np.random.RandomState(11)
    # 6 well-separated clusters of 50
    centers = rng.randn(6, 16) * 4
    rows = []
    for i in range(300):
        v = centers[i % 6] + rng.randn(16) * 0.3
        rows.append((i, v.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_train(emb, n_lists=6, iters=3)
    q = (centers[2] + rng.randn(16) * 0.3).tolist()
    exact = {r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()}
    approx = {r["vec_id"] for r in ivf_topk(emb, cents, q, k=10, nprobe=2).collect()}
    assert len(exact & approx) >= 8  # >=80% recall on a clustered corpus


def test_ivf_index_partition_pruning(spark, tmp_path):
    """ivf_topk over a written ivf_index prunes at the scan, like the
    LSH index: PartitionFilters carry the list_id IN-list."""
    import numpy as np
    from defuddle_spark.ops.similarity import (
        ivf_index, ivf_topk, ivf_train, write_ivf_index)
    rng = np.random.RandomState(13)
    rows = [(i, rng.randn(8).tolist()) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_train(emb, n_lists=8, iters=1)
    path = str(tmp_path / "ivfidx")
    write_ivf_index(ivf_index(emb, cents), path)

    idx = spark.read.parquet(path)
    q = ivf_topk(idx, cents, rng.randn(8).tolist(), k=5, nprobe=2)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    assert q.count() <= 5


def test_dedup_cache_handles_are_independent(toy_docs):
    """Round-4: per-build DedupCache handles — releasing one query's
    persisted frames must not touch a concurrent query's (the old
    module-global registry released everything)."""
    from defuddle_spark.ops.dedup import DedupCache, minhash_lsh_candidates

    c1, c2 = DedupCache(), DedupCache()
    p1 = minhash_lsh_candidates(toy_docs, cache=c1, log_dropped=False)
    p2 = minhash_lsh_candidates(toy_docs, cache=c2, log_dropped=False)
    want = {(r["id_a"], r["id_b"]) for r in p2.collect()}
    assert (1, 2) in want  # exact dup pair always recovered
    c1.release()
    # the second build's persisted signature frame is untouched...
    assert c2._frames and all(f.is_cached for f in c2._frames)
    # ...and its result still computes after the other cache released
    assert {(r["id_a"], r["id_b"]) for r in p2.collect()} == want
    with c2:  # context-manager form releases on exit
        pass
    assert not c2._frames
    # p1 still computes post-release (recompute, not wrong answers)
    assert {(r["id_a"], r["id_b"]) for r in p1.collect()} == want


def test_duplicate_components_and_survivors(spark):
    """Connected components collapse transitive near-dup chains: pairwise
    keep-min would keep 2 from (2,3) even though 2 loses to 1."""
    from defuddle_spark.ops.dedup import dedup_survivors, duplicate_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 3), (5, 6)], ["id_a", "id_b"])
    comp = {(r["doc_id"], r["component"])
            for r in duplicate_components(pairs).collect()}
    assert comp == {(1, 1), (2, 1), (3, 1), (9, 1), (5, 5), (6, 5)}

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 6, 7, 9)],
                                 ["doc_id"])
    surv = sorted(r["doc_id"] for r in dedup_survivors(docs, pairs).collect())
    assert surv == [1, 5, 7]  # one per component + the unpaired doc


def test_dedup_survivors_custom_columns_and_strict(spark):
    """Custom id/pair column names pass through to duplicate_components;
    strict=True raises on non-convergence instead of warning."""
    import pytest

    from defuddle_spark.ops.dedup import dedup_survivors

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], ["left_id", "right_id"])
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 7)], ["page_id"])
    surv = sorted(r["page_id"] for r in dedup_survivors(
        docs, pairs, id_col="page_id", id_a="left_id",
        id_b="right_id").collect())
    assert surv == [1, 7]
    # a 2-round chain can't converge in one iteration: strict raises
    with pytest.raises(RuntimeError, match="did NOT converge"):
        dedup_survivors(docs, pairs, id_col="page_id", id_a="left_id",
                        id_b="right_id", max_iters=1, strict=True)


def test_ngram_jaccard_pairs_refuses_over_bound(spark):
    import pytest

    from defuddle_spark.ops.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"tok{i} a b c d") for i in range(20)], ["doc_id", "text"])
    with pytest.raises(ValueError, match="minhash_lsh_candidates"):
        ngram_jaccard_pairs(docs, max_docs=10)
    # under the bound the operator still runs
    assert ngram_jaccard_pairs(docs, max_docs=50).count() >= 0


def test_duplicate_components_long_chain_converges(spark):
    # a 12-node path graph needs several rounds
    from defuddle_spark.ops.dedup import duplicate_components
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], ["id_a", "id_b"])
    comp = {(r["doc_id"], r["component"])
            for r in duplicate_components(pairs).collect()}
    assert comp == {(i, 100) for i in range(100, 113)}


def _union_find_components(pairs):
    """Reference (doc_id, component minimum) set by union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in list(parent)}


def test_duplicate_components_matches_union_find(spark):
    """One call over one pairs frame whose disjoint id ranges hold every
    shape: sorted, reversed and shuffled-id chains, random trees, random
    graphs, a clique, self-pairs and mixed small components. The
    output must equal a Python union-find's component minimum per node.

    One call, not one per shape: each call runs a few eager jobs per
    round, so ~10 calls cost ~10x the jobs for the same coverage."""
    import random

    from defuddle_spark.ops.dedup import duplicate_components

    rng = random.Random(12)
    ps = [(i, i + 1) for i in range(1000, 1060)]          # sorted chain
    ps += [(i + 1, i) for i in range(2000, 2040)]         # reversed chain
    ids = list(range(3000, 3064))
    rng.shuffle(ids)
    ps += list(zip(ids, ids[1:]))                         # shuffled chain
    for base in (4000, 4500):                             # random trees
        ps += [(base + rng.randrange(i), base + i) for i in range(1, 120)]
    for base in (5000, 5500):                             # random graphs
        ps += [(base + rng.randrange(150), base + rng.randrange(150))
               for _ in range(120)]
    ps += [(6000 + a, 6000 + b)                           # a clique
           for a in range(8) for b in range(a + 1, 8)]
    ps += [(7000, 7000), (7001, 7001), (7002, 7003), (7003, 7003)]
    ps += [(1, 2), (2, 3), (10, 11), (20, 20), (30, 31),  # mixed
           (31, 32), (32, 30), (5, 4)]
    rng.shuffle(ps)
    st: dict = {}
    out = set(map(tuple, duplicate_components(
        spark.createDataFrame(ps, "id_a long, id_b long"),
        stats=st).collect()))
    assert st["converged"]
    assert out == _union_find_components(ps)


def test_duplicate_components_logn_rounds(spark):
    """A 60-edge path (diameter 60) converges within 8 rounds with
    sorted ids and with shuffled ids; min-label propagation, which moves
    the minimum one hop per round, needed 61. The loop is deterministic
    for a given input, so these budgets are properties of these two
    inputs: a Python model of the loop takes 7 rounds on both, and 6-9
    over 2000 random shuffles of this path (9 in ~2%). strict=True still
    raises when the budget is too small, and a budget below one round is
    refused."""
    import random

    from defuddle_spark.ops.dedup import duplicate_components

    ids = list(range(200, 261))
    shuffled = ids[:]
    random.Random(0).shuffle(shuffled)
    for order in (ids, shuffled):
        pairs = spark.createDataFrame(list(zip(order, order[1:])),
                                      ["id_a", "id_b"])
        comp = {(r["doc_id"], r["component"])
                for r in duplicate_components(
                    pairs, max_iters=8, strict=True).collect()}
        assert comp == {(i, 200) for i in ids}
    with pytest.raises(RuntimeError, match="did NOT converge"):
        duplicate_components(pairs, max_iters=2, strict=True).collect()
    with pytest.raises(ValueError, match="max_iters"):
        duplicate_components(pairs, max_iters=0)


def test_cosine_topk_batch_matches_single_query(spark):
    """The two-stage distributed batch top-k must equal per-query
    cosine_topk (same rounded-sim ordering and tie-breaks)."""
    import numpy as np
    from defuddle_spark.ops.similarity import cosine_topk, cosine_topk_batch

    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(16).tolist()) for i in range(200)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [(qid, rows[qid * 7][1]) for qid in range(4)],
        ["query_id", "query_embedding"])
    batch = cosine_topk_batch(emb, queries, k=5, shards=8)
    got = {(r["query_id"], r["rank"]): (r["vec_id"], round(r["cos_sim"], 4))
           for r in batch.collect()}
    for qid in range(4):
        single = cosine_topk(emb, rows[qid * 7][1], k=5).collect()
        for rank, r in enumerate(single, start=1):
            assert got[(qid, rank)] == (r["vec_id"], round(r["cos_sim"], 4)), \
                (qid, rank)
    # exactly Q*k rows
    assert len(got) == 4 * 5


def test_cosine_topk_batch_refuses_huge_query_table(spark):
    from defuddle_spark.ops.similarity import cosine_topk_batch
    import pytest as _pytest
    emb = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    qs = spark.range(30).select(
        F.col("id").alias("query_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("query_embedding"))
    with _pytest.raises(ValueError, match="max_queries"):
        cosine_topk_batch(emb, qs, k=1, max_queries=10)


def test_filter_corpus_dedups_then_quality_gates(spark):
    from defuddle_spark.ops.corpus import filter_corpus
    good = ("the quick brown fox jumps over the lazy dog and keeps on "
            "running through the field for a while longer today")  # 20 toks
    rows = [(1, good), (2, good),            # dup: only id 1 survives
            (3, "short text"),               # fails min_tokens
            (4, "1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18 19 20")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"] for r in
           filter_corpus(docs, min_quality=0.3, min_tokens=20).collect()}
    assert 1 in out and 2 not in out and 3 not in out
    assert 4 not in out  # all-digit doc: quality collapses


def test_embedding_centroids_layout_independent(spark):
    """Decimal component sums: identical centroid BITS regardless of
    partition layout (float-order means are not reproducible)."""
    import numpy as np
    from defuddle_spark.ops.similarity import embedding_centroids
    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).tolist()) for i in range(100)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("grp", F.col("vec_id") % 3)
    a = {r["grp"]: (r["n_vectors"], tuple(r["centroid"]))
         for r in embedding_centroids(emb, "grp").collect()}
    b = {r["grp"]: (r["n_vectors"], tuple(r["centroid"]))
         for r in embedding_centroids(emb.repartition(17), "grp").collect()}
    assert a == b
    # values match a numpy reference to 6 digits
    want = np.mean([rows[i][1] for i in range(0, 100, 3)], axis=0)
    got = a[0][1]
    assert a[0][0] == 34
    assert all(abs(g - w) < 1e-6 for g, w in zip(got, want))


def test_zero_norm_vectors_never_abort_similarity(spark):
    """ANSI mode divide-by-zero hardening: empty documents produce
    all-zero embeddings; they rank last / drop out, never crash."""
    from defuddle_spark.ops.similarity import cosine_topk, cosine_topk_batch
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])],
        ["vec_id", "embedding"])
    single = cosine_topk(emb, [1.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in single] == [0, 1, 2]  # zero vec last
    assert single[-1]["cos_sim"] is None  # undefined, ranks after ALL
    # reals — including negative cosines (desc puts nulls last)
    neg = spark.createDataFrame(
        [(0, [-1.0, 0.0]), (9, [0.0, 0.0])], ["vec_id", "embedding"])
    assert [r["vec_id"] for r in
            cosine_topk(neg, [1.0, 0.0], k=2).collect()] == [0, 9]
    qs = spark.createDataFrame([(9, [1.0, 0.0]), (8, [0.0, 0.0])],
                               ["query_id", "query_embedding"])
    batch = cosine_topk_batch(emb, qs, k=3, shards=2).collect()
    got = {(r["query_id"], r["rank"]): r["vec_id"] for r in batch}
    # zero-norm corpus row dropped; zero-norm query dropped entirely
    assert got == {(9, 1): 0, (9, 2): 1}


def test_hash_sample_is_layout_stable_and_exact(spark):
    from defuddle_spark.ops.corpus import hash_sample, stratified_hash_sample
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {r["doc_id"] for r in hash_sample(docs, 0.3).collect()}
    b = {r["doc_id"] for r in
         hash_sample(docs.repartition(13), 0.3).collect()}
    assert a == b  # pure function of id: layout-independent
    assert 0.2 < len(a) / 500 < 0.4
    # salt produces a DIFFERENT (still deterministic) split
    c = {r["doc_id"] for r in hash_sample(docs, 0.3, salt="v2").collect()}
    assert c != a
    # stratified: per-language rates honored
    st = stratified_hash_sample(docs, {"en": 1.0}, "lang",
                                default_rate=0.0)
    langs = {r["lang"] for r in st.select("lang").distinct().collect()}
    assert langs == {"en"}
    # stratified salt draws an INDEPENDENT split over the same ids;
    # each salted split stays layout-independent
    s0 = {r["doc_id"] for r in stratified_hash_sample(
        docs, {"en": 0.5, "de": 0.5}, "lang").collect()}
    s1 = {r["doc_id"] for r in stratified_hash_sample(
        docs, {"en": 0.5, "de": 0.5}, "lang", salt="v2").collect()}
    s1b = {r["doc_id"] for r in stratified_hash_sample(
        docs.repartition(7), {"en": 0.5, "de": 0.5}, "lang",
        salt="v2").collect()}
    assert s1 != s0 and s1 == s1b
    # unsalted stratified buckets match unsalted hash_sample buckets
    # (shared md5 construction), which is exactly why salt matters
    assert s0 == {r["doc_id"]
                  for r in hash_sample(docs.filter(
                      F.col("lang").isin("en", "de")), 0.5).collect()}


def test_cosine_neardup_blocked_matches_broadcast_exact(spark):
    """The blocked (cogroup matrix-product) exact near-dup must emit the
    bit-identical pair set of the driver-broadcast ground truth — the
    block matmul only prunes; the sequential-fold re-rank decides."""
    import numpy as np
    import pytest

    from defuddle_spark.ops.similarity import (
        cosine_neardup_pairs, cosine_neardup_pairs_blocked)

    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).tolist()) for i in range(200)]
    rows += [(1000 + i,
              (np.array(rows[i][1]) + 0.01 * rng.randn(16)).tolist())
             for i in range(30)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    want = {(r["id_a"], r["id_b"], r["cos_sim"])
            for r in cosine_neardup_pairs(emb, threshold=0.8).collect()}
    for n_blocks in (1, 3, 7):
        got = {(r["id_a"], r["id_b"], r["cos_sim"])
               for r in cosine_neardup_pairs_blocked(
                   emb, threshold=0.8, n_blocks=n_blocks).collect()}
        assert got == want, n_blocks
    assert len(want) >= 30
    with pytest.raises(ValueError, match="cosine_neardup_lsh"):
        cosine_neardup_pairs_blocked(emb, max_vectors=10)


def test_repetition_signals_hand_computed(spark):
    """Gopher repetition filters on hand-computable fixtures: duplicate
    line/paragraph fractions count repeats beyond the first occurrence;
    top-n-gram coverage = count x gram chars / text chars, clamped to 1
    (overlapping occurrences overcount); short/empty docs are all-zero."""
    from defuddle_spark.ops.textstats import repetition_signals

    rows = [
        # 4 lines, "dup me" repeated -> 1/4 dup lines; line chars:
        # 6+6+5+5=22, distinct 6+5+5=16 -> dup_line_char_frac 6/22;
        # paras: ["dup me\ndup me\nalpha", "gamma"] distinct -> 0
        (1, "dup me\ndup me\nalpha\n\ngamma"),
        # "x y" 2-gram appears 3x overlapping (6 tokens) -> cov
        # 3*3=9 / 11 chars; 4-gram "x y x y" 2x -> 14/11 clamped to 1
        (2, "x y x y x y"),
        (3, ""),
        (4, "one"),
        (5, None),  # NULL text -> all-zero signals, never NULL cells
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_signals(df).collect()}

    r1 = got[1]
    assert r1["n_lines"] == 4 and r1["n_paras"] == 2
    assert r1["dup_line_frac"] == 0.25
    assert r1["dup_line_char_frac"] == round(6 / 22, 6)
    assert r1["dup_para_frac"] == 0.0
    assert r1["dup_para_char_frac"] == 0.0

    r2 = got[2]
    assert r2["top_2gram_char_frac"] == round(9 / 11, 6)
    assert r2["top_3gram_char_frac"] == round(10 / 11, 6)  # "x y x" 2x
    assert r2["top_4gram_char_frac"] == 1.0  # 2*7/11 clamped

    for i in (3, 4, 5):
        r = got[i]
        assert r["dup_line_frac"] == 0.0
        assert r["dup_line_char_frac"] == 0.0
        assert r["top_2gram_char_frac"] == 0.0
        assert r["top_4gram_char_frac"] == 0.0

    # a no-repetition doc scores ~0 everywhere (the filter's pass case)
    clean = spark.createDataFrame(
        [(9, "every word here is used exactly once today")],
        ["doc_id", "text"])
    r9 = repetition_signals(clean).collect()[0]
    assert r9["dup_line_frac"] == 0.0 and r9["dup_para_frac"] == 0.0
    assert 0.0 < r9["top_2gram_char_frac"] < 0.4  # one occurrence each


def test_decontaminate(spark):
    """Eval-set n-gram overlap: lowercase whitespace n-grams, distinct
    within doc, any collision flags the doc; short/NULL docs keep an
    audit row with 0 n-grams."""
    from defuddle_spark.ops.decontam import decontaminate
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["bench_id", "text"])
    rows = [
        (1, "zero one Alpha Beta GAMMA delta two three"),  # 2 hits, cased
        (2, "totally clean document with nothing shared at all"),
        (3, "tiny doc"),                                   # < n tokens
        (4, None),
        (5, "alpha beta gamma alpha beta gamma"),          # in-doc repeat
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in decontaminate(docs, bench, n=3).collect()}
    assert len(out) == 5
    assert (out[1]["n_ngrams"], out[1]["n_hit"]) == (6, 2)
    assert out[1]["contaminated"]
    assert out[1]["contamination_frac"] == round(2 / 6, 6)
    assert (out[2]["n_ngrams"], out[2]["n_hit"]) == (6, 0)
    assert not out[2]["contaminated"]
    for d in (3, 4):
        assert (out[d]["n_ngrams"], out[d]["n_hit"]) == (0, 0)
        assert out[d]["contamination_frac"] == 0.0
        assert not out[d]["contaminated"]
    # grams are distinct per doc: 4 positions but 3 distinct, 1 hit
    assert (out[5]["n_ngrams"], out[5]["n_hit"]) == (3, 1)


def test_contamination_pairs(spark):
    """The audit trail: distinct (doc, bench) collision pairs."""
    from defuddle_spark.ops.decontam import contamination_pairs
    bench = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon"),
         (20, "unrelated benchmark question tokens here")],
        ["bench_id", "text"])
    docs = spark.createDataFrame(
        [(1, "x alpha beta gamma y alpha beta gamma z"),  # repeats -> 1 pair
         (2, "unrelated benchmark question tokens here and more"),
         (3, "nothing in common whatsoever with either"),
         (4, "alpha beta gamma plus unrelated benchmark question also")],
        ["doc_id", "text"])
    got = {(r["doc_id"], r["bench_id"])
           for r in contamination_pairs(docs, bench, n=3).collect()}
    assert got == {(1, 10), (2, 20), (4, 10), (4, 20)}


def test_pii_signals(spark):
    """Regex PII detection: emails, octet-exact IPv4, US-shaped phones;
    digit-bounding keeps version strings and long digit runs out."""
    from defuddle_spark.ops.pii import pii_signals
    rows = [
        (1, "mail me at jo.doe+spam@example.co.uk or admin@host.org now"),
        (2, "server at 192.168.1.100 and 8.8.8.8 responded"),
        (3, "call (555) 123-4567 or 555.987.6543 today"),
        (4, "version 1.2.3.4000 and build 12.3.4.5.6 and id 5551234567"),
        (5, "clean text with no personal data at all"),
        (6, None),
        (7, "(555)123-4567 reaches j@x.io at 10.0.0.1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_signals(df).collect()}
    assert (out[1]["n_emails"], out[1]["n_ipv4"], out[1]["n_phones"]) == (2, 0, 0)
    assert (out[2]["n_emails"], out[2]["n_ipv4"], out[2]["n_phones"]) == (0, 2, 0)
    assert (out[3]["n_emails"], out[3]["n_ipv4"], out[3]["n_phones"]) == (0, 0, 2)
    # 4000 is not an octet, 5-part dotted runs are digit-bounded away,
    # bare 10-digit runs need a separator before the last 4
    assert (out[4]["n_ipv4"], out[4]["n_phones"], out[4]["has_pii"]) == (0, 0, False)
    assert not out[5]["has_pii"]
    assert (out[6]["n_emails"], out[6]["has_pii"]) == (0, False)
    assert (out[7]["n_emails"], out[7]["n_ipv4"], out[7]["n_phones"]) == (1, 1, 1)


def test_ngram_jaccard_threshold1_specialization_differential(spark):
    """The threshold-1.0 equal-sets fast path (round 8) must emit
    EXACTLY the shingle self-join's pairs — including NULL/empty/short
    documents (whose fallback shingle is the joined token string),
    within-group completeness on triples, and every C(200, 2) pair of a
    planted 200-member cluster, each once. The groups expand through
    the shared self-join, never inside one row (a 20k-member group
    would need one 2*10^8-element array)."""
    import contextlib
    import io
    from itertools import combinations

    from defuddle_spark.ops import dedup as dd
    cluster = list(range(1000, 1400, 2))
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),          # dup of 1
        (3, "alpha beta gamma delta epsilon"),          # dup of 1
        (4, "alpha beta gamma delta zeta"),              # near, not equal
        (5, ""), (6, None), (7, "   "),                  # all same fallback
        (8, "one two"), (9, "one two"),                  # short-doc fallback
        (10, "one two three"),                           # real 3-gram doc
        (11, "gamma delta epsilon alpha beta"),          # same tokens, diff order
    ] + [(i, "one boilerplate text shared by a whole cluster")
         for i in cluster] + [(i + 1, f"singleton {i} with its own words")
                              for i in cluster]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast_rows = dd.ngram_jaccard_pairs(df, threshold=1.0).collect()
    fast = {(r["id_a"], r["id_b"], r["jaccard"]) for r in fast_rows}
    assert len(fast_rows) == len(fast)
    # force the general join path (threshold below the gate), then keep
    # exactly the rounds-to-1.0 pairs the fast path must reproduce
    slow = {(r["id_a"], r["id_b"], r["jaccard"])
            for r in dd.ngram_jaccard_pairs(df, threshold=0.999999)
            .filter("jaccard >= 1.0").collect()}
    assert fast == slow
    ids = {(a, b) for a, b, _ in fast}
    assert {(1, 2), (1, 3), (2, 3), (5, 6), (5, 7), (6, 7),
            (8, 9)} <= ids
    assert all(j == 1.0 for _, _, j in fast)
    assert (1, 4) not in ids and (10, 8) not in ids and (10, 11) not in ids
    assert {p for p in ids if p[0] >= 1000} == set(combinations(cluster, 2))
    assert len(fast) == 19_900 + 7
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dd.ngram_jaccard_pairs(df, threshold=1.0).explain("formatted")
    assert "Join" in buf.getvalue()
    assert "collect_list" not in buf.getvalue()


def test_ngram_jaccard_duplicate_id_one_row_per_pair(spark):
    """A doc_id carried by two rows is one document whose size is the
    sum of its rows' distinct-shingle counts, so every (id_a, id_b)
    comes back once — per-row sizes fanned the sizes joins out into one
    jaccard row per duplicate."""
    from defuddle_spark.ops.dedup import ngram_jaccard_pairs
    rows = [(1, "a b c d e"),      # 3 shingles
            (1, "x y z"),          # 1 shingle, same id
            (2, "a b c d e"),
            (3, "q r s t u")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [tuple(r) for r in ngram_jaccard_pairs(df, threshold=0.5)
           .collect()]
    # n_common = 3, n_1 = 3 + 1, n_2 = 3 -> 3 / (4 + 3 - 3)
    assert out == [(1, 2, 0.75)]


def test_ngram_jaccard_threshold1_duplicate_rows_one_pair(spark):
    """The threshold-1.0 path pairs rows of one equal-set group, so an id
    carried by two rows met its partner once per row: (1, 2) came back
    twice. Each pair comes back once, as on the general path."""
    from defuddle_spark.ops.dedup import ngram_jaccard_pairs
    rows = [(1, "x y z"), (1, "x y z"), (2, "x y z"), (3, "p q r")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [tuple(r) for r in ngram_jaccard_pairs(df, threshold=1.0)
           .collect()]
    assert out == [(1, 2, 1.0)]


def test_pii_ipv4_sentence_final(spark):
    """A sentence-final IP ('connect to 1.2.3.4.') is detected AND
    redacted — the trailing boundary allows a bare dot, like PHONE_RE's
    — while dot-digit version runs ('1.2.3.4.5') stay unmatched
    (ADVICE r7)."""
    from defuddle_spark.ops.pii import pii_signals, redact_pii
    rows = [(1, "connect to 1.2.3.4."),
            (2, "semver 1.2.3.4.5 is not an address"),
            (3, "end of line 10.0.0.1")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r["doc_id"]: r for r in pii_signals(df).collect()}
    assert sig[1]["n_ipv4"] == 1 and sig[1]["has_pii"]
    assert sig[2]["n_ipv4"] == 0
    assert sig[3]["n_ipv4"] == 1
    red = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert red[1]["text"] == "connect to |||IP_ADDRESS|||."
    assert red[2]["text"] == "semver 1.2.3.4.5 is not an address"


def test_token_count_empty_doc_counts_zero(spark):
    """token_count_col counts an empty/whitespace-only doc as 0 tokens
    (split of trimmed '' yields [''] — the pseudo-token is filtered), so
    mix_sources budgets and domain_stats token shares aren't inflated
    (ADVICE r7). NULL propagates as NULL, as before."""
    from defuddle_spark.ops.textstats import token_count_col
    df = spark.createDataFrame(
        [(1, ""), (2, "   \n\t "), (3, "two tokens"), (4, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["n"] for r in
           df.select("doc_id", token_count_col("text").alias("n")).collect()}
    assert out[1] == 0 and out[2] == 0 and out[3] == 2
    assert out[4] is None


def test_redact_pii(spark):
    """Masks replace spans in place; counts match; NULL stays NULL."""
    from defuddle_spark.ops.pii import redact_pii
    rows = [
        (1, "write jo@x.org from 10.0.0.1 or call 555-123-4567 ok"),
        (2, "nothing to hide here"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["text"] == ("write |||EMAIL_ADDRESS||| from "
                              "|||IP_ADDRESS||| or call "
                              "|||PHONE_NUMBER||| ok")
    assert out[1]["n_redacted"] == 3
    assert out[2]["text"] == "nothing to hide here" and out[2]["n_redacted"] == 0
    assert out[3]["text"] is None and out[3]["n_redacted"] == 0


def test_canonical_url(spark):
    """Scheme/host lowering, www strip, default-port drop, trailing
    slash trim, fragment drop, tracking-param removal, param sort;
    junk falls back to its trimmed original."""
    from defuddle_spark.ops.urls import canonicalize_urls
    rows = [
        (1, "HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag"),
        (2, "https://example.com:8443/p?"),
        (3, "https://example.com"),
        (4, "  not a url at all "),
        (5, "https://user:pw@example.com:443/x/"),
        (6, "https://example.com/p?a=1&a=2&&flag&FBCLID=z"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r["canonical_url"]
           for r in canonicalize_urls(df).collect()}
    assert out[1] == "http://example.com/a/b?a=1&b=2"
    assert out[2] == "https://example.com:8443/p"
    assert out[3] == "https://example.com"
    assert out[4] == "not a url at all"
    assert out[5] == "https://example.com/x"       # userinfo + :443 dropped
    assert out[6] == "https://example.com/p?a=1&a=2&flag"
    assert out[7] is None


def test_dedup_by_url(spark):
    """http/https-www/tracking variants of one page collapse to the
    lowest doc_id."""
    from defuddle_spark.ops.urls import dedup_by_url
    rows = [
        (1, "https://example.com/post/42"),
        (2, "https://www.example.com/post/42/"),
        (3, "https://example.com/post/42?utm_campaign=news#top"),
        (4, "https://example.com/post/43"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["canonical_url"]: (r["doc_id"], r["dup_count"])
           for r in dedup_by_url(df).collect()}
    assert out["https://example.com/post/42"] == (1, 3)
    assert out["https://example.com/post/43"] == (4, 1)


def test_dedup_substrings(spark):
    """Exact substring dedup: a shared >= n-token span survives only at
    its corpus-wide first (doc_id, pos); later occurrences lose exactly
    the span's tokens; untouched docs keep their ORIGINAL bytes."""
    from defuddle_spark.ops.dedup import dedup_substrings
    span = "s1 s2 s3 s4 s5 s6"
    rows = [
        (1, f"a  b c {span} d e f"),          # winner (double space kept)
        (2, f"x y {span} z w"),               # loser: span excised
        (3, "totally unrelated words only here today"),
        (4, None),
        (5, "p q r t u p q r t u"),           # within-doc repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_substrings(df, n=5).collect()}
    assert len(out) == 5
    # the winner is untouched, original whitespace preserved
    assert out[1]["text"] == f"a  b c {span} d e f"
    assert (out[1]["n_tokens"], out[1]["n_tokens_removed"]) == (12, 0)
    # the loser drops exactly the 6 span tokens
    assert out[2]["text"] == "x y z w"
    assert (out[2]["n_tokens"], out[2]["n_tokens_removed"]) == (10, 6)
    assert out[3]["text"] == "totally unrelated words only here today"
    assert out[3]["n_tokens_removed"] == 0
    assert out[4]["text"] is None
    assert (out[4]["n_tokens"], out[4]["n_tokens_removed"]) == (0, 0)
    # within-doc: second occurrence excised, first kept
    assert out[5]["text"] == "p q r t u"
    assert (out[5]["n_tokens"], out[5]["n_tokens_removed"]) == (10, 5)


def test_dedup_substrings_long_span_layout_independent(spark):
    """A long duplicated passage (L >> n) is covered by its overlapping
    windows; the keep rule is the corpus-wide minimum regardless of
    partition layout."""
    from defuddle_spark.ops.dedup import dedup_substrings
    passage = " ".join(f"w{i}" for i in range(30))
    rows = [(i, f"unique{i} opening here {passage} closing{i} bit")
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string") \
              .repartition(7)
    out = {r["doc_id"]: r for r in dedup_substrings(df, n=8).collect()}
    assert out[0]["n_tokens_removed"] == 0          # doc 0 wins
    assert passage in out[0]["text"]
    # the shared run is "opening here w0..w29" = 32 tokens: the two
    # context words before the passage are themselves corpus-duplicated
    for i in range(1, 20):
        assert out[i]["n_tokens_removed"] == 32
        assert "w0" not in out[i]["text"].split()
        assert out[i]["text"] == f"unique{i} closing{i} bit"


def test_dedup_by_url_null_and_blank_not_collapsed(spark):
    """Docs with missing/blank urls are not a duplicate group: each
    keeps its own row (review finding: NULL canonical collapsed a
    whole shard to one survivor)."""
    from defuddle_spark.ops.urls import dedup_by_url
    rows = [(1, None), (2, None), (3, "   "), (4, "https://a.test/x"),
            (5, "https://a.test/x/")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = dedup_by_url(df).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert ids == [1, 2, 3, 4]              # 5 collapses into 4 only
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[4]["dup_count"] == 2
    for i in (1, 2, 3):
        assert by_id[i]["dup_count"] == 1


def test_pii_decimals_not_phones(spark):
    """Adjacent decimal numbers are not phones (review finding), and
    a sentence-final phone still matches."""
    from defuddle_spark.ops.pii import pii_signals
    rows = [(1, "coords 3.141 592.6535 logged"),
            (2, "pi to 8 places 3.14159265 and e 2.71828182 here"),
            (3, "call 555-123-4567."),
            (4, "range 555 123.4567.89 is a version-ish run")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_signals(df).collect()}
    assert out[1]["n_phones"] == 0 and not out[1]["has_pii"]
    assert out[2]["n_phones"] == 0
    assert out[3]["n_phones"] == 1
    assert out[4]["n_phones"] == 0


def test_redact_pii_literal_masks(spark):
    """Caller masks containing '$'/'\\' are literal replacements, not
    Java group references (review finding: '$1' crashed the job)."""
    from defuddle_spark.ops.pii import redact_pii
    df = spark.createDataFrame([(1, "mail jo@x.org now")],
                               "doc_id long, text string")
    out = redact_pii(df, masks={"email": r"[$1\REDACTED]"}).collect()[0]
    assert out["text"] == r"mail [$1\REDACTED] now"
    assert out["n_redacted"] == 1


def test_normalize_for_dedup(spark):
    """CCNet canonicalization: case, accents, digits, punctuation, and
    whitespace drift all hash to the same key; non-Latin scripts pass
    through."""
    from defuddle_spark.ops.dedup import normalize_for_dedup_col
    rows = [
        (1, "Call 555-0199, José!"),
        (2, "call   555-0100. JOSE"),
        (3, "Łódź — ØRSTED im Straße"),
        (4, "日本語 text stays 123"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["norm"] for r in df.select(
        "doc_id", normalize_for_dedup_col().alias("norm")).collect()}
    # punctuation is REMOVED (not spaced), digits unify: CCNet rule
    assert out[1] == "call 0000000 jose"
    assert out[1] == out[2]                 # the dedup-collapse case
    assert out[3] == "lodz orsted im strasse"
    assert out[4] == "日本語 text stays 000"
    assert out[5] == ""
    # review findings pinned: combining marks survive (Indic vowel
    # signs), NBSP unifies to space instead of deleting, non-ASCII
    # decimal digits unify to 0, and newlines are preserved so the
    # dedup_paragraphs composition keeps its paragraph boundaries
    extra = spark.createDataFrame(
        [(10, "\u0915 \u0915\u0940"),          # ka, kii (vowel sign)
         (11, "foo\u00a0bar"), (12, "foo bar"),
         (13, "\u0660\u0661\u0662 and 456"),   # arabic-indic digits
         (14, "Para one.  \n\nPara  two!")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["norm"] for r in extra.select(
        "doc_id", normalize_for_dedup_col().alias("norm")).collect()}
    assert got[10] == "\u0915 \u0915\u0940"     # NOT collapsed to ka ka
    assert got[11] == "foo bar" and got[11] == got[12]
    assert got[13] == "000 and 000"
    assert got[14] == "para one\n\npara two"


def test_mix_sources(spark):
    """Token-budget mixing: rates derive from actual per-stratum token
    mass, the binding stratum keeps rate 1.0, and sampled proportions
    land near the target; unachievable mixtures raise."""
    import pytest as _pytest
    from pyspark.sql import functions as _F
    from defuddle_spark.ops.corpus import mix_sources
    # web: 3000 docs x 10 tokens; code: 1000 x 10; books: 200 x 10
    rows = ([(i, "web", "w " * 10) for i in range(3000)]
            + [(10_000 + i, "code", "c " * 10) for i in range(1000)]
            + [(20_000 + i, "books", "b " * 10) for i in range(200)])
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    rates = {}
    out = mix_sources(df, {"web": 0.5, "code": 0.4, "books": 0.1},
                      "source", rates_out=rates)
    # books binds: 2000 tokens at 10% -> budget 20000; code needs 8000
    # of its 10000 (rate .8), web 10000 of 30000 (rate 1/3)
    assert rates[None] == 20_000
    assert rates["books"] == 1.0
    assert abs(rates["code"] - 0.8) < 1e-9
    assert abs(rates["web"] - 1 / 3) < 1e-9
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(_F.count("*").alias("n")).collect()}
    assert got["books"] == 200
    assert abs(got["code"] - 800) < 80       # hash sampling, +-10%
    assert abs(got["web"] - 1000) < 100
    # explicit budget below the max scales every rate down
    rates2 = {}
    mix_sources(df, {"web": 0.5, "code": 0.5}, "source",
                budget_tokens=10_000, rates_out=rates2)
    assert rates2[None] == 10_000
    assert abs(rates2["web"] - 5000 / 30000) < 1e-9
    assert abs(rates2["code"] - 0.5) < 1e-9
    # a stratum with no tokens present -> eager refusal
    with _pytest.raises(ValueError, match="unachievable"):
        mix_sources(df, {"web": 0.5, "video": 0.5}, "source")


def test_normalize_for_dedup_idempotent(spark):
    """normalize(normalize(x)) == normalize(x) over a seeded diverse
    corpus (mixed scripts, combining marks, unicode spaces, digits,
    case-fold expansions) — a canonicalization that is not a fixpoint
    would make dedup keys depend on how many times a pipeline stage
    ran."""
    import random
    from defuddle_spark.ops.dedup import normalize_for_dedup_col
    rng = random.Random(42)
    pieces = ["Straße", "ẞIG", "İstanbul", "क की", "ไปู", "مرحبا ٣٤٥",
              "ĲSSEL", "ﬀi", "№5", "½", "Ⅻ", "a b", "x　y",
              "é", "tab\there", "line\nbreak", "¡Hola!", "…",
              "ÆON", "œuf", "ŁÓDŹ", "42.5%", "＄１００", "ｶﾀｶﾅ"]
    rows = [(i, " ".join(rng.choices(pieces, k=rng.randint(1, 12))))
            for i in range(200)]
    rows += [(900, None), (901, ""), (902, " \t\n "), (903, "".join(pieces))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = df.select("doc_id", normalize_for_dedup_col().alias("text"))
    diverged = (once
                .withColumn("again", normalize_for_dedup_col())
                .filter(F.col("text") != F.col("again")))
    assert diverged.count() == 0


def test_dedup_substrings_second_pass_removes_nothing(spark):
    """On a planted corpus (no cross-excision-boundary collisions by
    construction), a second dedup pass over the output is a no-op —
    the operator converges in one pass instead of oscillating."""
    from defuddle_spark.ops.dedup import dedup_substrings
    span = " ".join(f"s{i}" for i in range(12))
    rows = [(i, f"u{i}a u{i}b u{i}c {span} u{i}d u{i}e u{i}f")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    first = dedup_substrings(df, n=5).select("doc_id", "text")
    second = dedup_substrings(first, n=5)
    assert second.agg(F.sum("n_tokens_removed")).head()[0] == 0


def test_domain_stats(spark):
    """Per-domain doc/token aggregation with shares; junk urls group
    under NULL; www strips."""
    from defuddle_spark.ops.urls import domain_stats
    rows = [(1, "https://a.test/x", "one two three"),
            (2, "https://www.a.test/y", "four five"),
            (3, "https://b.test/z", "six seven eight nine ten"),
            (4, "junk", "eleven")]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = {r["domain"]: r for r in domain_stats(df).collect()}
    assert out["a.test"]["n_docs"] == 2 and out["a.test"]["n_tokens"] == 5
    assert out["b.test"]["n_tokens"] == 5
    assert out[None]["n_docs"] == 1
    assert abs(out["a.test"]["doc_share"] - 0.5) < 1e-9
    assert abs(out["a.test"]["token_share"] - 5 / 11) < 1e-6
    # ordering: token-heavy first, deterministic tie-break by domain
    ordered = [r["domain"] for r in domain_stats(df).collect()]
    assert ordered[:2] == ["a.test", "b.test"]
