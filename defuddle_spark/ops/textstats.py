"""Text analysis operators: token counts, quality scoring, language-id,
document fingerprints. All native Spark SQL expressions (JVM-side,
whole-stage codegen); language-id is a pure column expression too —
an n-gram/stopword-marker heuristic, no model download."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from defuddle_spark.spark.partitions import spread_narrow

# Small deterministic English stopword list (public, standard function words)
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "was", "at", "by", "be", "this", "are",
    "from", "have", "has", "not", "but", "they", "you", "his", "her",
]

# Marker words per language for the heuristic language-id
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "that", "with", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "des"],
    "es": ["el", "la", "los", "las", "es", "una", "que", "por"],
}


# explicit charclass instead of \s: Java regex \s includes \x0B,
# RE2 (the DuckDB oracles, Go) does not — spelling out ASCII whitespace
# keeps Spark and oracle tokenization identical on every byte. THE
# single source of truth: dedup/decontam/page synthesis import these so
# a future edit cannot silently diverge their tokenization from the
# text stats. The class equals Java's \s, so on Spark it splits exactly
# where \s+ would.
ASCII_WS_CHARS = " \t\n\x0B\f\r"
ASCII_WS_RE = "[" + ASCII_WS_CHARS + "]+"


def _tokens(text) -> F.Column:
    """The Spark whitespace tokenizer: ``split(trim(text), ASCII_WS_RE)``
    over a column or column name. ``trim`` strips spaces only, so a
    text that starts or ends with another whitespace byte keeps an empty
    edge token, and an empty text yields ``[""]``."""
    return F.split(F.trim(text), ASCII_WS_RE)


def token_count_col(text_col: str) -> F.Column:
    """Whitespace token count; empty/whitespace-only documents count 0.

    Splitting a trimmed empty string yields [''] — the empty
    pseudo-token is filtered (the same rule unigram_cross_entropy
    applies), so mix_sources' per-stratum budget math and domain_stats'
    token shares are not inflated by one token per empty doc
    (ADVICE r7)."""
    return F.size(F.filter(_tokens(text_col), lambda t: t != ""))


# GPT-2-style pre-tokenizer shape (contractions, letter runs, digit runs,
# punctuation runs, each optionally space-prefixed) — kept to syntax both
# Java regex (Spark) and RE2 (DuckDB oracle) interpret identically:
# no lookarounds, no unicode property classes, and no \s (Java's
# includes \x0B, RE2's does not — ASCII whitespace spelled out instead,
# as literal control characters, which both class syntaxes accept).
BPE_TOKEN_RE = ("'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
                "| ?[^A-Za-z0-9 \t\n\x0b\f\r]+")


def token_stats(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, chars_per_bpe_token) — the two
    token-count bases an LLM-data pipeline budgets with: whitespace words
    and a BPE-ish subword proxy (regexp_count stays in whole-stage codegen;
    no Python tokenizer in the hot path). The BPE count is materialized
    once per row — chars_per_bpe_token references it twice, and inlined
    that ran the full-text regex scan twice (round 8) — and narrow
    inputs are spread across cores."""
    pre = spread_narrow(docs).select(
        F.col(id_col), F.col(text_col),
        F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_RE)).alias("_bpe"))
    n_bpe = F.col("_bpe")
    return pre.select(
        F.col(id_col),
        F.size(_tokens(text_col)).cast("int").alias("n_ws_tokens"),
        n_bpe.cast("int").alias("n_bpe_tokens"),
        F.round(F.length(text_col).cast("double")
                / F.greatest(n_bpe, F.lit(1)), 6).alias("chars_per_bpe_token"))


def text_quality(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len, stopword_ratio,
    punct_ratio, digit_ratio, quality_score). Length/punct/stopword-ratio
    quality scoring per the training-data-pipeline spec.

    The token array is materialized once per row (round 8): the size /
    length-fold / stopword-filter consumers each re-ran the regex split
    when it was inlined, and narrow inputs are spread across cores."""
    docs = spread_narrow(docs).select(
        F.col(id_col), F.col(text_col), _tokens(text_col).alias("_tk"))
    tokens = F.col("_tk")
    n_tokens = F.size(tokens)
    n_chars = F.length(F.col(text_col))
    avg_len = F.round(
        F.aggregate(tokens, F.lit(0).cast("long"),
                    lambda acc, t: acc + F.length(t)).cast("double")
        / F.greatest(n_tokens, F.lit(1)), 6)
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, F.lower(t))))
    # raw (unrounded) ratios feed the composite so the score never sits on
    # a decimal rounding boundary; reported columns are rounded copies
    stop_raw = n_stop.cast("double") / F.greatest(n_tokens, F.lit(1))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[,.!?:;]", ""))
    punct_raw = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    n_digit = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[0-9]", ""))
    digit_raw = n_digit.cast("double") / F.greatest(n_chars, F.lit(1))
    # simple composite: longer docs with some stopwords and few digits score higher
    quality = F.round(
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(stop_raw * F.lit(5.0), F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(digit_raw * F.lit(10.0), F.lit(1.0))) * 0.2, 6)
    return docs.select(
        F.col(id_col),
        n_tokens.cast("int").alias("n_tokens"),
        n_chars.cast("int").alias("n_chars"),
        avg_len.alias("avg_token_len"),
        F.round(stop_raw, 6).alias("stopword_ratio"),
        F.round(punct_raw, 6).alias("punct_ratio"),
        F.round(digit_raw, 6).alias("digit_ratio"),
        quality.alias("quality_score"),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(doc_id, fp_md5, fp_poly) — md5 of whitespace-normalized text plus an
    order-sensitive polynomial rolling hash over token lengths, computed
    mod 1e9+7 so the arithmetic is portable (no ANSI int64 overflow)."""
    norm = F.concat_ws(" ", _tokens(text_col))
    fp_md5 = F.md5(F.encode(norm, "UTF-8"))
    fp_poly = F.aggregate(
        _tokens(text_col), F.lit(7).cast("long"),
        lambda acc, t: F.pmod(acc * F.lit(31).cast("long")
                              + F.length(t).cast("long"),
                              F.lit(1000000007).cast("long")))
    return spread_narrow(docs).select(F.col(id_col), fp_md5.alias("fp_md5"),
                                      fp_poly.alias("fp_poly"))


def lang_id(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang) — heuristic: CJK char ratio → zh, else the
    language whose marker-word hit count is highest (ties: en).

    Round 8: the lowered token array and the four marker scores are
    materialized columns — the when-chain references each score twice,
    and inlined that re-ran the split + lower + filter pass per
    reference; narrow inputs are spread across cores."""
    pre = spread_narrow(docs).select(
        F.col(id_col), F.col(text_col),
        F.transform(_tokens(text_col), F.lower).alias("_lt"))

    def _marker_score(markers):
        arr = F.array(*[F.lit(w) for w in markers])
        return F.size(F.filter(F.col("_lt"),
                               lambda t: F.array_contains(arr, t)))

    pre = pre.select(
        F.col(id_col), F.col(text_col),
        *[_marker_score(m).alias(f"_s_{lang}")
          for lang, m in LANG_MARKERS.items()])
    scores = {lang: F.col(f"_s_{lang}") for lang in LANG_MARKERS}
    n_cjk = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"[一-鿿]", ""))
    best = F.lit("en")
    best_score = scores["en"]
    for lang in ("de", "fr", "es"):
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    pred = F.when(n_cjk * 4 > F.length(F.col(text_col)), F.lit("zh")).otherwise(best)
    return pre.select(F.col(id_col), pred.alias("pred_lang"))


def repetition_signals(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       ngram_ns: tuple = (2, 3, 4)) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, appendix A1.1)
    — the quality signals that catch boilerplate/spam pages C4-style
    ratio filters miss: documents dominated by REPEATED lines,
    paragraphs, or n-grams.

    Per document: (n_lines, n_paras, dup_line_frac, dup_line_char_frac,
    dup_para_frac, dup_para_char_frac, top_{n}gram_char_frac per n).

    - dup_*_frac: fraction of lines/paragraphs that are repeats of an
      earlier one ((count − distinct) / count). Lines split on "\\n",
      paragraphs on "\\n\\n", blank-after-trim entries dropped.
    - dup_*_char_frac: fraction of line/paragraph characters sitting in
      those repeats ((total chars − distinct-entry chars) / total).
    - top_{n}gram_char_frac: characters covered by the MOST frequent
      word n-gram (count × gram length / total text chars); the winner
      is the (count, covered chars) maximum — when several grams tie on
      both, they all yield the same covered-chars value, so the output
      does not depend on which of them "wins".

    Scale shape (round 8): EVERY signal is a pure row-local array
    expression — zero shuffle, zero joins. The top-n-gram count is a
    PER-DOCUMENT aggregation, so the previous explode → corpus-wide
    exchange keyed on (doc, n, gram) — which carried raw gram strings
    across the wire and was the most expensive exchange in the bench —
    is replaced by hashing each document's token-slice grams (2×64
    independent xxhash64 bits; tokens cannot contain the join
    separator, so slice identity == gram-string identity), sorting the
    per-doc hash array, and scanning runs in place. Output-equivalent
    to the old corpus-shuffled struct-max: the old gram-string
    tie-break only chose among grams with identical (count, covered
    chars), which all produce the same emitted value.

    Two hard-won evaluation rules (round 8, measured 43 s -> ~1 s at
    sf0.1): every array a lambda slices is a MATERIALIZED column of a
    prior projection, never an inline expression — interpreted lambda
    bodies re-evaluate their whole subtree per element, so an inline
    split(text) inside a per-gram slice re-runs the regex splitter
    O(grams) times per document (the old explode paid exactly this on
    its concat_ws(slice(tokens)) too); and narrow inputs are spread
    first (a single parquet file scans as ONE partition, serializing
    the whole corpus onto one core — see spark.partitions).
    """
    did = F.col(id_col)
    docs = spread_narrow(docs)
    # NULL text means every signal is 0, not NULL — and the DuckDB
    # oracle coalesces the same way, so the two engines can't diverge
    # on a nullable text column
    text = F.coalesce(F.col(text_col), F.lit(""))

    def _dup(arr):
        n = F.size(arr)
        nd = F.size(F.array_distinct(arr))
        chars = F.aggregate(arr, F.lit(0).cast("long"),
                            lambda a, x: a + F.length(x))
        chars_d = F.aggregate(F.array_distinct(arr),
                              F.lit(0).cast("long"),
                              lambda a, x: a + F.length(x))
        frac = F.round((n - nd).cast("double")
                       / F.greatest(n, F.lit(1)), 6)
        cfrac = F.round((chars - chars_d).cast("double")
                        / F.greatest(chars, F.lit(1)).cast("double"), 6)
        return n, frac, cfrac

    # first projection: every text-derived array is materialized ONCE
    # per row; all downstream lambdas slice these columns (see the
    # evaluation rules in the docstring)
    tokens0 = _tokens(text)
    pre = docs.select(
        did, F.length(text).alias("_chars"),
        F.filter(F.split(text, "\n"),
                 lambda x: F.length(F.trim(x)) > 0).alias("_ln"),
        F.filter(F.split(text, "\n\n"),
                 lambda x: F.length(F.trim(x)) > 0).alias("_pa"),
        tokens0.alias("_tk"),
        F.transform(tokens0, lambda t: F.length(t).cast("long"))
        .alias("_tl"))
    n_lines, dl, dlc = _dup(F.col("_ln"))
    n_paras, dp, dpc = _dup(F.col("_pa"))
    base = pre.select(
        did, F.col("_chars"),
        n_lines.cast("int").alias("n_lines"),
        n_paras.cast("int").alias("n_paras"),
        dl.alias("dup_line_frac"), dlc.alias("dup_line_char_frac"),
        dp.alias("dup_para_frac"), dpc.alias("dup_para_char_frac"),
        F.col("_tk"), F.col("_tl"))

    # Row-local top-n-gram coverage (see docstring): gram identity is a
    # pair of independent 64-bit hashes of the token SLICE (no gram
    # string is ever materialized), the per-doc gram multiset becomes a
    # sorted array, and one linear scan finds the (count, covered-chars)
    # maximum.
    tokens = F.col("_tk")
    tok_lens = F.col("_tl")
    zero = F.lit(0).cast("long")

    def _top_cov(n):
        # number of grams; sequence() is only evaluated when >= 1
        # (sequence(1, 0) would default to step -1 and yield [1, 0])
        m = F.size(tokens) - (n - 1)
        grams = F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.struct(
                F.xxhash64(F.slice(tokens, i, n)).alias("h1"),
                F.xxhash64(F.slice(tokens, i, n), F.lit(1)).alias("h2"),
                (F.aggregate(F.slice(tok_lens, i, n), zero,
                             lambda a, x: a + x)
                 + F.lit(n - 1).cast("long")).alias("len")))
        srt = F.array_sort(grams)
        init = F.struct(zero.alias("h1"), zero.alias("h2"),
                        zero.alias("run"), zero.alias("bc"),
                        zero.alias("bcov"))

        def step(acc, x):
            same = ((acc["run"] > 0) & (x["h1"] == acc["h1"])
                    & (x["h2"] == acc["h2"]))
            run2 = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
            cov2 = run2 * x["len"]
            better = ((run2 > acc["bc"])
                      | ((run2 == acc["bc"]) & (cov2 > acc["bcov"])))
            return F.struct(
                x["h1"].alias("h1"), x["h2"].alias("h2"),
                run2.alias("run"),
                F.when(better, run2).otherwise(acc["bc"]).alias("bc"),
                F.when(better, cov2).otherwise(acc["bcov"]).alias("bcov"))

        cov = F.aggregate(srt, init, step, lambda acc: acc["bcov"])
        return F.when(m >= 1, cov).otherwise(zero)

    cols = [F.col(id_col), "n_lines", "n_paras",
            "dup_line_frac", "dup_line_char_frac",
            "dup_para_frac", "dup_para_char_frac"]
    for n in ngram_ns:
        # least(1.0): overlapping occurrences overcount characters (the
        # published count x len definition can exceed the text length —
        # "x y x y x y" has two overlapping "x y x y", 14 covered chars
        # in an 11-char text); clamp so the column stays a fraction
        cols.append(F.round(F.least(
            F.lit(1.0),
            _top_cov(n).cast("double")
            / F.greatest(F.col("_chars"), F.lit(1)).cast("double")), 6)
            .alias(f"top_{n}gram_char_frac"))
    return base.select(*cols)


def vocab_topk(docs: DataFrame, k: int = 100, id_col: str = "doc_id",
               text_col: str = "text",
               lowercase: bool = True) -> DataFrame:
    """Global vocabulary: the k most frequent whitespace tokens with
    counts and corpus rank — (rank, token, n_occurrences, n_docs).

    The classic pre-tokenizer pipeline step (frequency-ordered vocab /
    stopword discovery). Scale shape: explode + two-level hash aggregate
    — map-side partial counts collapse each partition's token
    multiplicities before the shuffle, so the shuffle carries one row
    per (partition, distinct token), and the final top-k is a
    TakeOrderedAndProject (per-partition heap + driver merge), never a
    full sort. Ties rank by token ascending, deterministically.
    """
    tok = F.explode(_tokens(text_col)).alias("token")
    toks = docs.select(F.col(id_col).alias("_d"), tok)
    if lowercase:
        toks = toks.select("_d", F.lower(F.col("token")).alias("token"))
    counts = (toks.groupBy("token")
              .agg(F.count("*").alias("n_occurrences"),
                   F.countDistinct("_d").alias("n_docs")))
    top = (counts
           .orderBy(F.desc("n_occurrences"), F.col("token"))
           .limit(k))
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("n_occurrences"), F.col("token"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "token", "n_occurrences", "n_docs")


def unigram_cross_entropy(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          lowercase: bool = True) -> DataFrame:
    """Per-document cross-entropy under the corpus's own unigram LM —
    the CCNet-style statistical quality score (perplexity bucketing):
    documents full of rare gibberish score high, documents of common
    fluent text score low; downstream filters threshold or stratify on
    it. ``perplexity = exp(cross_entropy)``.

    Returns (id, n_tokens, cross_entropy): ``n_tokens`` counts the
    doc's (lowercased) whitespace tokens — the same tokenization as
    vocab_topk, minus the empty pseudo-token that splitting an
    empty/whitespace-only text yields (left in the LM it would inflate
    N and shift EVERY document's score) — and ``cross_entropy`` is
    ``-(1/n) * sum_t log p(t)`` with ``p(t) = corpus_count(t) / N``,
    NULL for token-less documents (every doc still gets a row).

    Reproducibility: per-token log-probabilities are rounded to 9
    decimals and accumulated as DECIMAL(20,9) fixed-point, so the score
    is bit-identical across partition layouts, shuffle orders, and
    engines — a float sum over a reshuffled corpus is not (the
    embedding_centroids lesson). The final mean is one double division
    rounded to 6 decimals. Per-doc term frequencies must fit
    DECIMAL(10,0) (one token repeated < 1e10 times within a single
    document).

    Scale shape: two-level map-side-combined aggregates throughout.
    Raw tokens collapse to distinct (doc, token) term frequencies
    BEFORE any join, so the LM join moves one row per distinct pair,
    not one per token occurrence; the 1-row corpus total is an
    explicit broadcast. Stopword skew on the token-keyed join is
    bounded by the tf side being distinct-per-doc (≤ n_docs rows per
    token) and left to AQE's skew handling.
    """
    did = F.col(id_col)
    toks = (docs.select(did, F.explode(_tokens(text_col)).alias("token"))
            .filter(F.col("token") != ""))
    if lowercase:
        toks = toks.select(did, F.lower(F.col("token")).alias("token"))
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    cf = tf.groupBy("token").agg(F.sum("tf").alias("cf"))
    total = cf.agg(F.sum("cf").alias("n_total"))
    lm = (cf.join(F.broadcast(total))
          .select("token",
                  F.round(F.log(F.col("cf").cast("double")
                                / F.col("n_total").cast("double")), 9)
                  .cast("decimal(20,9)").alias("lp")))
    scored = (tf.join(lm, "token")
              .groupBy(id_col)
              .agg(F.sum("tf").alias("n_tokens"),
                   F.sum(F.col("tf").cast("decimal(10,0)")
                         * F.col("lp")).alias("lp_sum")))
    return (docs.select(did).join(scored, id_col, "left")
            .select(did,
                    F.coalesce("n_tokens", F.lit(0)).cast("bigint")
                    .alias("n_tokens"),
                    F.round(-F.col("lp_sum").cast("double")
                            / F.col("n_tokens").cast("double"), 6)
                    .alias("cross_entropy")))
