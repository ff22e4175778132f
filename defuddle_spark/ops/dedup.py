"""Deduplication operators over a (doc_id, text) corpus.

Scale notes (designed for ~10^9-10^12 docs; tested at sf0.01/0.1):
- exact dedup shuffles 16-byte md5 keys, not full texts (map-side partial
  aggregation collapses duplicates before the shuffle);
- MinHash signatures are computed with native xxhash64 expressions (one
  whole-stage-codegen projection, no Python); LSH banding turns the
  quadratic all-pairs problem into a shuffle on (band, band_hash);
- exact n-gram Jaccard joins on shingles, which is only sane below ~10^7
  docs — it exists as the oracle-checkable ground-truth variant; the LSH
  path is the one that survives 100 TB.
"""

from __future__ import annotations

import logging
import threading
from functools import reduce
from itertools import combinations
from typing import List, Optional

from pyspark.sql import DataFrame, Window, functions as F

from defuddle_spark.spark.partitions import spread_narrow

from .textstats import ASCII_WS_CHARS, ASCII_WS_RE, _tokens

log = logging.getLogger("defuddle_spark.ops.dedup")

class DedupCache:
    """Per-build persist registry (round-4: replaces the process-global
    list, so two concurrent dedup queries cannot release each other's
    persisted signature frames).

    Pass one as ``cache=`` to a candidate builder, consume the result,
    then ``release()`` (or use it as a context manager). Builders called
    WITHOUT a cache register on the module-global shim, released by the
    deprecated :func:`release_cached` — safe for the common
    one-query-at-a-time driver, unsafe only for concurrent queries, which
    is exactly what per-instance caches are for.
    """

    def __init__(self) -> None:
        self._frames: List[DataFrame] = []
        self._lock = threading.Lock()

    def _register(self, df: DataFrame) -> None:
        with self._lock:
            self._frames.append(df)

    def release(self) -> None:
        """Unpersist every frame registered on THIS cache."""
        with self._lock:
            frames, self._frames[:] = list(self._frames), []
        for f in frames:
            f.unpersist()

    def __enter__(self) -> "DedupCache":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


_GLOBAL_CACHE = DedupCache()


def _register_cached(df: DataFrame, cache: Optional[DedupCache] = None) -> None:
    (cache if cache is not None else _GLOBAL_CACHE)._register(df)


def release_cached() -> None:
    """Deprecated shim: unpersist frames from builders that were called
    without a ``cache=`` handle. Prefer per-build :class:`DedupCache`."""
    _GLOBAL_CACHE.release()


def dedup_exact(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicates by md5(text); keeps the lowest id per group.

    Returns (doc_id, dup_count) for surviving representatives.
    """
    return (docs
            .groupBy(F.md5(F.encode(F.col(text_col), "UTF-8")).alias("text_md5"))
            .agg(F.min(id_col).alias(id_col),
                 F.count("*").cast("int").alias("dup_count"))
            .select(id_col, "dup_count"))


def _same_key_pairs(keyed: DataFrame, keys: List[str],
                    id_col: str) -> DataFrame:
    """(id_a, id_b) for every two rows of ``keyed`` that agree on ``keys``,
    each pair once with id_a < id_b (strict, so a duplicated id never
    pairs with itself).

    The one candidate-pair expander: an equi self-join, so a key's pairs
    stream out of the join instead of being materialized inside one
    row. Callers whose keyed frame carries several rows per doc (one per
    band or block) dedup the result themselves."""
    a, b = keyed.alias("a"), keyed.alias("b")
    return (a.join(b, keys)
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b")))


def _let(value: F.Column, fn) -> F.Column:
    """Bind ``value`` to a lambda variable and evaluate ``fn`` on it ONCE
    per row: ``element_at(transform(array(value), fn), 1)``.

    Interpreted lambda bodies re-evaluate their whole subtree per
    element, so an expression like ``slice(split(text), i, k)`` inside a
    per-shingle transform re-runs the regex splitter O(shingles) times
    per document (measured: the quadratic re-split dominated
    repetition_signals at 43 s before round 8 fixed it). Inside a
    DataFrame you fix that by materializing the array as a projection
    column; inside a Column-RETURNING api there is no projection to
    attach to — this binder is the expression-level equivalent."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def _token_shingles(text_col: str, k: int):
    """Array of k-token shingles (space-joined), native expressions only.

    The token array is _let-bound so each per-shingle slice reads a
    bound variable instead of re-splitting the text (see _let)."""
    def build(tokens):
        n = F.size(tokens)
        return F.when(n >= k, F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, k)),
        )).otherwise(F.array(F.concat_ws(" ", tokens)))
    return _let(_tokens(text_col), build)


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_perm: int = 64,
                       shingle_k: int = 3) -> DataFrame:
    """(doc_id, sig array<long>) — num_perm minhashes over k-shingles.

    Universal-hashing construction: each shingle is string-hashed twice
    (h1 = xxhash64(s) mod 2^61-1, h2 = xxhash64(s,1) mod 2^31-1);
    permutation i is min over shingles of h1 + i*h2 (never overflows
    int64 under ANSI).

    Computed ROW-LOCALLY by minhash_signature_col, the expression the
    streaming path uses too, so batch and streaming signatures are one
    definition. It shuffles NOTHING, the shape that holds at 100 TB; an
    explode + 64-way min-aggregate measured 2x slower at sf0.1 and tied
    at sf1.0 once lambdas were _let-bound.
    """
    return spread_narrow(docs).select(
        F.col(id_col),
        minhash_signature_col(text_col, num_perm, shingle_k).alias("sig"))


def _drop_hot_buckets(banded: DataFrame, key_cols: List[str], cap: int,
                      what: str, log_dropped: bool) -> DataFrame:
    """Remove buckets with more than ``cap`` members before a self-join.

    A hot bucket (boilerplate cluster collapsing to one band hash) produces
    O(cap^2) pairs with no upper bound; at 10^9 docs a single such bucket
    can dominate the whole job.

    With ``log_dropped`` (the default) this runs ONE eager Spark job over
    ``banded`` — which callers persist first, so the work warms the cache
    the self-join reuses — collecting the over-cap key list (tiny by
    construction: each key is a collapsed boilerplate cluster). The
    collected list serves both the no-silent-caps warning AND the filter;
    when it is empty (the common case) no filter is added at all. Round 2
    instead re-derived the aggregation inside a broadcast anti-join plan on
    top of a separate stats job, which cost minhash_lsh 1.8x locally.

    With ``log_dropped=False`` the builder stays fully lazy: a broadcast
    anti-join over the persisted frame, no warning.
    """
    sizes = banded.groupBy(*key_cols).agg(F.count("*").alias("_n"))
    hot = sizes.filter(F.col("_n") > cap)
    if not log_dropped:
        return banded.join(F.broadcast(hot.select(*key_cols)), key_cols,
                           "left_anti")
    hot_rows = hot.collect()
    if not hot_rows:
        return banded
    log.warning(
        "%s: dropped %d hot bucket(s) (> %d members, %d rows total) "
        "from the candidate join; raise the cap or pre-dedup exactly "
        "to keep them", what, len(hot_rows), cap,
        sum(r["_n"] for r in hot_rows))
    if len(hot_rows) > 256:
        # pathological boilerplate storm: ship the key list as a broadcast
        # frame instead of an expression chain
        hot_df = banded.sparkSession.createDataFrame(
            [tuple(r[k] for k in key_cols) for r in hot_rows], key_cols)
        return banded.join(F.broadcast(hot_df), key_cols, "left_anti")
    # literal filter on the collected keys: pure codegen, no extra shuffle
    is_hot = reduce(lambda a, b: a | b, [
        reduce(lambda x, y: x & y,
               [F.col(k) == F.lit(r[k]) for k in key_cols])
        for r in hot_rows
    ])
    return banded.filter(~is_hot)


def minhash_lsh_candidates(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", num_perm: int = 64,
                           bands: int = 16, shingle_k: int = 3,
                           hot_bucket_cap: int = 1000,
                           log_dropped: bool = True,
                           cache: Optional[DedupCache] = None) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding: (id_a, id_b, est_jaccard).

    rows_per_band = num_perm // bands. Pairs are emitted once (id_a < id_b)
    with the signature-estimated Jaccard.

    Scale shape (round-2 hardening): the band self-join carries IDS ONLY —
    the 64-long signatures (~1 KB per side) are re-attached by id AFTER the
    pair set is deduplicated, so the pair shuffle moves (band, hash, id)
    rows, not kilobyte payloads. Buckets larger than ``hot_bucket_cap``
    (boilerplate clusters sharing one band hash) are dropped with an eager
    warning log — a hot bucket is quadratic and unbounded otherwise.

    Side effect: with ``log_dropped`` (default) CONSTRUCTING this frame runs
    one Spark job (the hot-bucket accounting collect), which also
    materializes the persisted signature frame the result plan reuses; pass
    log_dropped=False for a fully lazy builder (see _drop_hot_buckets).
    """
    # Persisted: the banding scans, the self-join sides, and the two
    # signature re-attach joins all read it (AQE's runtime broadcast
    # choices defeat exchange reuse, measured in round 1). The banded frame
    # itself is NOT persisted — it is a cheap codegen projection over the
    # cached signatures, and round-2's extra persist (cache write + eviction
    # pressure) measured slower than recomputing it per scan.
    sigs = minhash_signatures(docs, id_col, text_col, num_perm, shingle_k).persist()
    _register_cached(sigs, cache)
    # band keys come from the SAME band_hash_col construction the
    # streaming path uses — one definition, so the pinned streaming ==
    # batch bucket-key identity cannot drift
    banded = sigs.select(
        id_col,
        F.posexplode(band_hash_col("sig", num_perm, bands))
        .alias("band", "band_hash"),
    )
    banded = _drop_hot_buckets(banded, ["band", "band_hash"], hot_bucket_cap,
                               "minhash_lsh_candidates", log_dropped)
    pairs = (_same_key_pairs(banded, ["band", "band_hash"], id_col)
             .dropDuplicates(["id_a", "id_b"]))
    pairs = (pairs
             .join(sigs.select(F.col(id_col).alias("id_a"),
                               F.col("sig").alias("sig_a")), "id_a")
             .join(sigs.select(F.col(id_col).alias("id_b"),
                               F.col("sig").alias("sig_b")), "id_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v,
    ) / F.lit(num_perm)
    return pairs.select("id_a", "id_b", est.alias("est_jaccard"))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        threshold: float = 0.6,
                        max_docs: int = 1_000_000) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (ground truth / oracle variant).

    (id_a, id_b, jaccard) for distinct-shingle Jaccard >= threshold.

    HARD-BOUNDED by ``max_docs`` (checked EAGERLY at call time, same
    convention as cosine_neardup_pairs): the shingle self-join is
    all-pairs within shared shingles and is only sane on oracle-scale
    corpora; over the bound a ValueError points at
    minhash_lsh_candidates (the bucketed scale path) instead of letting
    a 10^12-doc self-join reach the cluster.
    """
    if docs.limit(max_docs + 1).count() > max_docs:
        raise ValueError(
            f"ngram_jaccard_pairs is the bounded ground-truth variant: the "
            f"corpus exceeds max_docs={max_docs} and the shingle self-join "
            f"is all-pairs within shared shingles; use "
            f"minhash_lsh_candidates (the banded scale path) or raise "
            f"max_docs explicitly.")
    if 0.9999995 <= threshold <= 1.0:
        # Threshold-1.0 specialization (round 8), provably output-equal:
        # the filter round(j, 6) >= 1.0 holds iff j >= 0.9999995, and a
        # pair with NON-equal distinct-shingle sets has
        # j <= 1 - 1/|union| — which can only reach 0.9999995 when a
        # doc carries >= 10^6 distinct shingles (guarded below, falling
        # back to the general join). So the result is exactly the
        # equal-set pairs, computable by grouping on a signature of the
        # per-doc sorted shingle-hash set — row-local work plus ONE
        # exchange of 16-byte keys, instead of the all-pairs shingle
        # join whose hot-shingle buckets grow quadratically (measured
        # 109 s at sf1.0 for the join vs seconds for this). Same
        # 128-bit hash identity the join path uses.
        base = spread_narrow(docs).select(
            F.col(id_col),
            F.array_sort(F.array_distinct(F.transform(
                _token_shingles(text_col, k),
                lambda s: F.struct(F.xxhash64(s).alias("h1"),
                                   F.xxhash64(s, F.lit(1)).alias("h2")))))
            .alias("_hs"))
        # cheap upper bound on distinct shingles/doc: the token count
        # (shingle count is n_tokens - k + 1 <= n_tokens); avoids
        # running the full hash+sort projection twice for the guard
        mx = docs.agg(F.max(F.size(_tokens(text_col)))).first()[0]
        if mx is not None and mx < 1_000_000:
            sig = base.select(
                F.col(id_col),
                F.xxhash64("_hs").alias("_k1"),
                F.xxhash64("_hs", F.lit(1)).alias("_k2"))
            # a group's pairs stream out of the self-join (a 20k-member
            # group would need one 2*10^8-element array if built in a
            # row). Merge hint: both join sides then read ONE exchange
            # of sig, so the hash+sort projection runs once; a
            # broadcast join evaluates it once per side (measured on
            # dedup_clusters at sf0.1, 4 cores: 5.0 s vs 3.2 s, min of 3).
            # A duplicated id meets its partners once per row, so pairs
            # are deduplicated, as minhash_lsh_candidates' are.
            return (_same_key_pairs(sig.hint("merge"), ["_k1", "_k2"],
                                    id_col)
                    .dropDuplicates(["id_a", "id_b"])
                    .withColumn("jaccard", F.lit(1.0)))
        # a >=10^6-distinct-shingle doc exists: the 1/|union| bound no
        # longer separates equal from near-equal sets — general path
    # the distinct-shingle array is materialized once per row, and the
    # shingle STRING never crosses an exchange — the self-join keys on a
    # pair of independent 64-bit hashes taken in the same stage as the
    # explode (collision of both within one shingle-key space is
    # ~2^-128, the same guarantee dedup_substrings relies on; the join
    # only counts matches, so the jaccard values are unchanged). Sizes
    # are ONE row per id — the sum of its rows' distinct-shingle counts,
    # as the join's n_common sums over them — so a duplicated id cannot
    # fan the sizes joins out into several jaccard rows per pair.
    base = spread_narrow(docs).select(
        F.col(id_col),
        F.array_distinct(_token_shingles(text_col, k)).alias("_sh"))
    sizes = base.groupBy(id_col).agg(F.sum(F.size("_sh")).alias("n"))
    sh = (base.select(F.col(id_col), F.explode("_sh").alias("_s"))
          .select(F.col(id_col),
                  F.xxhash64("_s").alias("_h1"),
                  F.xxhash64("_s", F.lit(1)).alias("_h2")))
    inter = (_same_key_pairs(sh, ["_h1", "_h2"], id_col)
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("n_common")))
    jac = (inter
           .join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "n_a"), "id_a")
           .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "n_b"), "id_b")
           # try_divide, provably identical on well-formed input: with
           # unique ids the denominator >= max(n_a, n_b) >= 1. A corpus
           # whose ids COLLIDE (two texts under one id) can drive
           # union-minus-intersection to 0; NULL jaccard then drops at
           # the threshold filter instead of aborting the job under
           # ANSI (hit for real at sf1.0, where the doubled-corpus
           # gate's +10000 shift wraps into the live id range)
           .withColumn("jaccard", F.round(F.try_divide(
               F.col("n_common"),
               F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
           .filter(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", "jaccard"))
    return jac


def simhash64(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace tokens, weight 1 per token.

    bit_j(doc) = sign(sum_tokens(bit_j(xxhash64(token)) ? +1 : -1)).
    Built entirely from native expressions: explode tokens, per-bit
    accumulation via aggregate over 64 shiftright/bitwise ops.
    """
    tokens = spread_narrow(docs).select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("tok"))
    h = F.xxhash64("tok")
    bit_cols = [
        F.sum(F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"b{j}")
        for j in range(64)
    ]
    agg = tokens.groupBy(id_col).agg(*bit_cols)
    # Flat shape (array of disjoint bit terms + one aggregate) instead of a
    # depth-64 bitwiseOR chain: expression-tree depth is what Catalyst
    # analysis/codegen time scales with.
    bit_terms = F.array(*[
        # bit 63 is the int64 sign bit: its term is the two's-complement
        # negative literal (1<<63 would overflow a long literal)
        F.when(F.col(f"b{j}") > 0,
               F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        for j in range(64)
    ])
    sim = F.aggregate(bit_terms, F.lit(0).cast("long"), lambda a, x: a + x)
    return agg.select(F.col(id_col), sim.alias("simhash"))


def _simhash_block_plan(max_hamming: int, n_blocks: Optional[int],
                        expected_docs: Optional[int],
                        target_bucket: int) -> int:
    """Pick the number of 64-bit partition blocks for SimHash blocking.

    Pigeonhole (Manku et al., WWW'07 "Detecting Near-Duplicates for Web
    Crawling" §3): split the 64 bits into B blocks; a pair within Hamming
    distance H differs in at most H blocks, so at least B-H blocks match
    exactly — keying on every combination of B-H blocks finds every such
    pair. Wider keys (larger B) mean exponentially smaller buckets at the
    cost of C(B, B-H) tables:

        B = H+1 -> key 64/(H+1) bits  (H=3: 16-bit keys, 4 tables;
                                       fine to ~10^7 docs)
        B = 6,  H=3 -> ~30-bit keys, 20 tables  (~1 doc/bucket at 10^9)

    Given ``expected_docs``, B is the smallest value whose minimum key
    width keeps the expected bucket below ``target_bucket``.
    """
    if n_blocks is not None:
        if n_blocks <= max_hamming:
            raise ValueError("n_blocks must exceed max_hamming (pigeonhole)")
        return n_blocks
    if expected_docs is None:
        return max_hamming + 1
    import math
    for b in range(max_hamming + 1, 33):
        widths = sorted(64 // b + (1 if i < 64 % b else 0) for i in range(b))
        key_width = sum(widths[: b - max_hamming])
        if expected_docs / 2.0 ** key_width <= target_bucket:
            return b
    return 32


def simhash_near_pairs(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3,
                       n_blocks: Optional[int] = None,
                       expected_docs: Optional[int] = None,
                       target_bucket: int = 64,
                       hot_bucket_cap: int = 1000,
                       log_dropped: bool = True,
                       cache: Optional[DedupCache] = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Scale path: partition the 64 bits into B near-equal blocks and key on
    every combination of B - max_hamming blocks (see _simhash_block_plan —
    exact recall by pigeonhole, bucket size shrinks exponentially with B).
    Candidates are verified with bit_count on the full hash. The default
    B = max_hamming+1 (16-bit keys for H=3) matches the round-1 behavior;
    pass ``expected_docs`` to auto-widen for large corpora, e.g.
    expected_docs=10**9 picks ~30-bit keys. Buckets above
    ``hot_bucket_cap`` are dropped with an eager warning (no silent caps).

    Side effect: with ``log_dropped`` (default) CONSTRUCTING this frame runs
    one Spark job (the hot-bucket accounting collect), which also
    materializes the persisted simhash frame the result plan reuses; pass
    log_dropped=False for a fully lazy builder (see _drop_hot_buckets).
    """
    b_count = _simhash_block_plan(max_hamming, n_blocks, expected_docs,
                                  target_bucket)
    widths = [64 // b_count + (1 if i < 64 % b_count else 0)
              for i in range(b_count)]
    starts = [sum(widths[:i]) for i in range(b_count)]

    def _block(c: int) -> F.Column:
        mask = (1 << widths[c]) - 1
        return F.shiftright("simhash", starts[c]).bitwiseAND(F.lit(mask))

    keys = []
    for combo in combinations(range(b_count), b_count - max_hamming):
        key = F.lit(0).cast("long")
        for c in combo:
            key = F.shiftleft(key, widths[c]).bitwiseOR(_block(c))
        keys.append(key)

    sims = simhash64(docs, id_col, text_col).persist()
    _register_cached(sims, cache)
    # chunks is a cheap codegen projection over the cached simhashes —
    # recomputed per scan rather than persisted (same measured tradeoff as
    # the minhash banding frame)
    chunks = sims.select(
        id_col,
        F.posexplode(F.array(*keys)).alias("chunk_idx", "chunk"),
    )
    chunks = _drop_hot_buckets(chunks, ["chunk_idx", "chunk"], hot_bucket_cap,
                               "simhash_near_pairs", log_dropped)
    pairs = (_same_key_pairs(chunks, ["chunk_idx", "chunk"], id_col)
             .dropDuplicates(["id_a", "id_b"]))
    pairs = (pairs
             .join(sims.select(F.col(id_col).alias("id_a"),
                               F.col("simhash").alias("sh_a")), "id_a")
             .join(sims.select(F.col(id_col).alias("id_b"),
                               F.col("simhash").alias("sh_b")), "id_b"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (pairs.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def duplicate_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iters: int = 50,
                         strict: bool = False,
                         stats: Optional[dict] = None) -> DataFrame:
    """Collapse candidate near-dup pairs into duplicate CLUSTERS:
    (doc_id, component) where component is the cluster's minimum id.

    The step every real dedup pipeline needs after pair generation —
    near-duplication is transitive in practice (a~b, b~c => keep one of
    {a,b,c}), so survivors must be picked per connected component, not
    per pair (pairwise keep-min would keep b from (b,c) even though b
    loses to a).

    One loop: FastSV (Zhang, Azad & Hu, "FastSV: A Distributed-Memory
    Connected Component Algorithm with Fast Convergence", SIAM PP 2020),
    a Shiloach–Vishkin variant. Every node keeps a parent pointer
    ``p <= node``; round 1 (identity parents) sets
    ``p = least(node, min neighbor)``, and each later round, with
    grandparents ``gp = p[p]``, sets

        p[x] = least(p[x], gp[x], m[x], s[x]),
        m[u] = min gp[v] over u's neighbors v   (aggressive hooking),
        s[x] = min m[u] over u with p[u] = x    (stochastic hooking),

    where taking gp is the shortcut. It converges in O(log n) rounds on
    chains (template drift A~B~C~… where consecutive crawl snapshots each
    pair only with their neighbors, whose diameter is unknowable up
    front) and in 2 rounds on dense blobs (a boilerplate cluster), so no
    shape needs a different algorithm. It replaced min-label propagation
    (O(diameter) rounds), large/small-star contraction (O(log n) rounds
    at ~3x a label round's work) and the switch between them; each of
    those won one shape (BENCH/components_star_r7.json), this loop wins
    or ties both (BENCH/components_one_loop_4c.json).

    The loop stops when a round changes no parent. At that fixed point
    ``p == gp`` (every tree has depth 1) and ``p[u] <= p[v]`` on every
    edge, both ways, so each component has one root; a parent always
    lies in its node's component and ``p <= node``, so the root is the
    component minimum.

    Each round's only edge-volume work is the ``m`` join + aggregate;
    the rest is node-volume. The parent frame is eagerly
    localCheckpointed every round, with the changed flag riding the
    checkpoint: an iterative DataFrame loop otherwise stacks each
    round's plan on top of the last and Catalyst re-analysis blows up
    superlinearly (measured: a 12-round chain took minutes un-truncated,
    seconds truncated — the same reason GraphFrames checkpoints its CC
    iterations). On a real cluster prefer
    spark.sparkContext.setCheckpointDir + .checkpoint() for
    executor-loss tolerance; localCheckpoint trades that for speed,
    which is the right call inside a single job.

    ``stats`` (optional dict) receives ``rounds`` (iterations the
    driver loop ran) and ``converged``.
    """
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    # symmetric edge list (a~b and b~a), one row per direction; every
    # node, self-paired ones included, is a src
    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionByName(
                 pairs.select(F.col(id_b).alias("src"),
                              F.col(id_a).alias("dst")))
             .distinct()
             .localCheckpoint(eager=True))
    changed = 0
    rounds = 0
    parents = None
    for _ in range(max_iters):
        rounds += 1
        if parents is None:
            # round 1: parents are the identity, so gp = node and s = m
            # = min neighbor — one aggregate, no join
            step = (edges.groupBy("src").agg(F.min("dst").alias("m"))
                    .select(F.col("src").alias("node"),
                            F.least("src", "m").alias("p"),
                            F.col("src").alias("old")))
        else:
            gp = parents.join(
                parents.select(F.col("node").alias("p"),
                               F.col("p").alias("gp")), "p")
            m = (edges
                 .join(gp.select(F.col("node").alias("dst"),
                                 F.col("gp").alias("ngp")), "dst")
                 .groupBy("src").agg(F.min("ngp").alias("m"))
                 .withColumnRenamed("src", "node"))
            # each node u offers least(gp, m) to itself and m to its
            # parent (the s term), and one min over the offers is the new
            # parent (gp <= p makes p itself redundant). Both offers carry
            # the target's current parent (p[u], and gp[u] = p[p[u]]) for
            # the changed flag; they ride one exploded array so the gp/m
            # plan runs once.
            offers = gp.join(m, "node").select(F.explode(F.array(
                F.struct(F.col("node"), F.least("gp", "m").alias("q"),
                         F.col("p").alias("old")),
                F.struct(F.col("p").alias("node"), F.col("m").alias("q"),
                         F.col("gp").alias("old")))).alias("o"))
            step = (offers.groupBy("o.node")
                    .agg(F.min("o.q").alias("p"), F.max("o.old").alias("old")))
        # the changed flag rides the SAME checkpointed frame, so
        # convergence detection is a narrow filter over the checkpoint
        nxt = (step.select("node", "p",
                           (F.col("p") != F.col("old")).alias("_chg"))
               .localCheckpoint(eager=True))
        changed = nxt.filter("_chg").limit(1).count()
        # Release the previous round: Dataset.unpersist() is a NO-OP for
        # localCheckpointed frames (the RDD is persisted at the RDD
        # level, not via the CacheManager), so the actual reclamation
        # path is reference-dropping — rebinding `parents` releases the
        # only handle, the py4j wrapper is collected, and the JVM
        # ContextCleaner unpersists the orphaned checkpoint RDD. Storage
        # is therefore bounded by GC latency, not O(rounds).
        parents = nxt.drop("_chg")
        if changed == 0:
            break
    if stats is not None:
        stats.update(rounds=rounds, converged=changed == 0)
    if changed != 0:
        # no-silent-caps convention (same as hot_bucket_cap's warning):
        # an unconverged result keeps intermediate parents and would make
        # dedup_survivors retain duplicate members of one component
        msg = ("duplicate_components: did NOT converge within "
               f"max_iters={max_iters}; results contain unmerged "
               "components — raise max_iters")
        if strict:
            raise RuntimeError(msg)
        log.warning(msg)
    # edges' checkpoint is likewise reclaimed by the ContextCleaner when
    # this frame goes out of scope (unpersist() would be a no-op)
    return parents.select(F.col("node").alias("doc_id"),
                          F.col("p").alias("component"))


def dedup_survivors(docs: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id", id_a: str = "id_a",
                    id_b: str = "id_b", max_iters: int = 50,
                    strict: bool = False) -> DataFrame:
    """End-to-end near-dup collapse: keep one representative (minimum id)
    per duplicate component plus every unpaired document.

    (doc_id, is_representative=true rows only) — anti-join shape: docs
    that appear in a component with a smaller minimum are dropped; the
    component minimum and never-candidated docs survive.

    ``id_a``/``id_b`` name the pair frame's columns (passed through to
    duplicate_components); ``max_iters`` bounds its rounds, and
    ``strict=True`` raises instead of warning when they do not converge
    (an unconverged result silently retains duplicate members of
    unmerged components — a correctness hazard callers may prefer to
    fail on).
    """
    comp = duplicate_components(pairs, id_a=id_a, id_b=id_b,
                                max_iters=max_iters, strict=strict)
    # components always come back as (doc_id, component); alias to the
    # caller's id column so the anti-join works for any id_col
    losers = (comp.filter(F.col("doc_id") != F.col("component"))
              .select(F.col("doc_id").alias(id_col)))
    return (docs.select(id_col)
            .join(losers, id_col, "left_anti"))


def dedup_paragraphs(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """CORPUS-WIDE paragraph dedup (the CCNet / "Deduplicating Training
    Data" shape): every later occurrence of a repeated paragraph is
    dropped and documents are reassembled from their surviving
    paragraphs — the op that strips boilerplate paragraphs (cookie
    banners, license blurbs, nav text) that exact/near DOCUMENT dedup
    cannot touch because the surrounding text differs.

    Returns (id, text, n_paras, n_paras_kept): ``text`` is the
    paragraphs that survived, joined with blank lines (trimmed;
    whitespace-only paragraphs dropped before dedup); a document whose
    every paragraph was seen earlier comes back with empty text.

    Keep rule, fully deterministic: a paragraph occurrence survives iff
    its (id, paragraph-index) is the corpus-wide MINIMUM for that
    paragraph's md5 — "first document wins, first position within it".

    Scale shape: explode one row per paragraph, shuffle keyed on the
    16-byte md5. First-occurrence selection is a hash AGGREGATE
    (min(struct(id, idx)) with map-side partial aggregation) joined
    back on the hash — never a window over the hash partition, which
    would serialize a boilerplate paragraph repeated 10^9 times into
    one task. Reassembly groups by document (sort_array over the doc's
    own surviving paragraphs — bounded by document size, not corpus).

    The declarative plan reads the input three times (the shells
    aggregate, the first-occurrence aggregate, and the keep join each
    root a lineage) — at TB scale persist/checkpoint ``docs`` upstream
    so the three scans hit storage once, same convention as the other
    multi-consumer dedup ops.
    """
    did = F.col(id_col)
    # explicit single-arg lambda: F.trim itself has an optional second
    # parameter, so transform() would pass the element INDEX as the
    # trim-character set and trim nothing
    paras_arr = F.filter(
        F.transform(F.split(F.coalesce(F.col(text_col), F.lit("")),
                            "\n\n"), lambda p: F.trim(p)),
        lambda p: p != "")
    # materialize the split array once per row: size() and posexplode
    # both consume the alias, and CollapseProject keeps a twice-used
    # non-cheap alias as a real column instead of re-inlining the
    # regex split + per-element trim into each consumer
    base = (docs.select(did, paras_arr.alias("_ps"))
            .select(did, F.size("_ps").cast("int").alias("n_paras"),
                    F.posexplode_outer("_ps").alias("idx", "para")))
    paras = (base.filter(F.col("para").isNotNull())
             .withColumn("_h", F.md5(F.encode(F.col("para"), "UTF-8"))))
    firsts = paras.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col), F.col("idx"))).alias("_first"))
    kept = (paras.join(firsts, "_h")
            .filter((F.col(f"_first.{id_col}") == did)
                    & (F.col("_first.idx") == F.col("idx"))))
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "para"))),
                lambda s: s.para),
            "\n\n").alias("text"),
        F.count("*").cast("int").alias("n_paras_kept"))
    # every input doc gets an output row, even if all paragraphs dropped:
    # posexplode_outer keeps a (idx NULL) row for paragraph-less docs, so
    # grouping `base` itself covers the full corpus — no join back to docs
    shells = base.groupBy(id_col).agg(F.max("n_paras").alias("n_paras"))
    return (shells.join(rebuilt, id_col, "left")
            .select(did, F.coalesce("text", F.lit("")).alias("text"),
                    "n_paras",
                    F.coalesce("n_paras_kept", F.lit(0)).cast("int")
                    .alias("n_paras_kept")))


def minhash_signature_col(text_col: str = "text", num_perm: int = 64,
                          shingle_k: int = 3) -> F.Column:
    """ROW-LOCAL minhash signature expression (xxhash64/pmod
    universal-hash construction, exact integer arithmetic), computed per
    row with array higher-order functions — no shuffle. The one
    signature definition: batch (minhash_signatures) and streaming
    (minhash_lsh_stream) both project it.

    The shingle array and both hash arrays are _let-bound (see _let):
    without the binding, every one of the ``num_perm`` array_min terms
    re-evaluated the full shingle construction and both hash transforms
    from scratch — num_perm redundant passes per row."""
    sh = F.array_distinct(_token_shingles(text_col, shingle_k))

    def with_hashes(hh):
        return F.array(*[
            F.array_min(F.zip_with(
                hh["h1"], hh["h2"],
                lambda a, b: a + F.lit(i).cast("long") * b))
            for i in range(num_perm)
        ])

    hashes = _let(sh, lambda s: F.struct(
        F.transform(s, lambda x: F.pmod(F.xxhash64(x),
                                        F.lit(2305843009213693951)))
        .alias("h1"),
        F.transform(s, lambda x: F.pmod(F.xxhash64(x, F.lit(1)),
                                        F.lit(2147483647)))
        .alias("h2")))
    return _let(hashes, with_hashes)


def band_hash_col(sig_col: str = "sig", num_perm: int = 64,
                  bands: int = 16) -> F.Column:
    """Array of per-band hashes over a signature column — the same
    xxhash64(concat_ws(",", rows)) construction the batch banding uses,
    so streaming and batch bucket keys are identical."""
    rows_per_band = num_perm // bands
    return F.array(*[
        F.xxhash64(F.concat_ws(
            ",", *[F.col(sig_col)[b * rows_per_band + r].cast("string")
                   for r in range(rows_per_band)]))
        for b in range(bands)
    ])


def dedup_substrings(docs: DataFrame, n: int = 50,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """CORPUS-WIDE exact substring dedup (the Lee et al. 2021
    "Deduplicating Training Data" ExactSubstr shape, re-expressed over
    token windows): any ``n``-token window whose text appears anywhere
    else in the corpus survives only at its corpus-wide first
    occurrence; every other occurrence's tokens are excised. A span of
    L >= n duplicated tokens is covered by its L-n+1 duplicated windows,
    so whole repeated passages disappear from later documents even when
    the surrounding text differs (the case paragraph dedup misses when
    boilerplate is inlined mid-paragraph).

    Keep rule, fully deterministic: an occurrence survives iff its
    (id, token-position) is the corpus-wide MINIMUM struct for that
    window's 64-bit hash — first document wins, first position within
    it. Within-document repeats collapse the same way.

    Returns (id, text, n_tokens, n_tokens_removed) for EVERY input doc:
    untouched documents (the overwhelming majority) return their
    ORIGINAL text byte-for-byte; documents with excised spans return
    the surviving tokens space-joined (token-level surgery cannot
    reconstruct the original whitespace — the published tool has the
    same property, operating on byte spans). ``n_tokens_removed`` makes
    the loss auditable, same convention as the other corpus operators.

    Scale shape: one positional-window explode (one row per token,
    carrying only id + int pos + 8-byte hash — the known linear cost of
    ExactSubstr at corpus scale), a hash-keyed AGGREGATE
    (count + min(struct(id, pos)) with map-side partial aggregation —
    never a window function, which would serialize a 10^9-occurrence
    boilerplate window into one task), a join back on the hash
    (AQE skew-join splits hot hashes), and a per-document interval
    union done row-locally with array HOFs (array_except is hash-based,
    O(tokens + covered)). The grams lineage is consumed twice (the
    aggregate and the join) — at TB scale persist/checkpoint upstream
    so the explode runs once, same convention as dedup_paragraphs.
    """
    did = F.col(id_col)
    docs = spread_narrow(docs)
    toks_arr = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), ASCII_WS_RE),
        lambda t: t != "")
    base = docs.select(did, F.col(text_col).alias("_txt"),
                       toks_arr.alias("_tk")) \
               .withColumn("_ntok", F.size("_tk"))
    n_pos = F.col("_ntok") - (n - 1)
    # window text is joined ONCE per window; the two hashes are taken in
    # a post-explode projection (same stage, before any shuffle) so the
    # ~n-token gram string never crosses an exchange
    grams = (base
             .select(did, F.explode(F.when(n_pos > 0, F.transform(
                 F.sequence(F.lit(1), n_pos),
                 lambda i: F.struct(
                     i.cast("int").alias("pos"),
                     F.array_join(F.slice("_tk", i, n), " ")
                     .alias("txt"))))
                 .otherwise(F.array().cast(
                     "array<struct<pos:int,txt:string>>")))
                 .alias("g"))
             .select(did, F.col("g.pos").alias("pos"),
                     F.xxhash64(F.col("g.txt")).alias("h1"),
                     F.xxhash64(F.col("g.txt"), F.lit(1)).alias("h2")))
    # two independently-seeded xxhash64 = 128 effective bits: at 10^13
    # windows a single 64-bit space yields real birthday collisions,
    # which here would excise UNIQUE text (same reason the sibling
    # exact ops key on 128-bit md5); two longs stay 16 bytes/row where
    # a hex md5 string is 32
    dup_hashes = (grams.groupBy("h1", "h2")
                  .agg(F.count("*").alias("_cnt"),
                       F.min(F.struct(did, F.col("pos"))).alias("_first"))
                  .filter(F.col("_cnt") > 1)
                  .select("h1", "h2", "_first"))
    losers = (grams.join(dup_hashes, ["h1", "h2"])
              .filter((F.col(f"_first.{id_col}") != did)
                      | (F.col("_first.pos") != F.col("pos"))))
    removed = losers.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("_dup_pos"))
    joined = base.join(removed, id_col, "left")
    covered = F.array_distinct(F.flatten(F.transform(
        F.col("_dup_pos"), lambda p: F.sequence(p, p + (n - 1)))))
    kept_idx = F.array_except(F.sequence(F.lit(1), F.col("_ntok")),
                              covered)
    excised = F.array_join(
        F.transform(kept_idx, lambda i: F.element_at(F.col("_tk"), i)),
        " ")
    untouched = F.col("_dup_pos").isNull()
    return joined.select(
        did,
        F.when(untouched, F.col("_txt")).otherwise(excised).alias("text"),
        F.col("_ntok").cast("int").alias("n_tokens"),
        F.when(untouched, F.lit(0))
        .otherwise(F.col("_ntok") - F.size(kept_idx))
        .cast("int").alias("n_tokens_removed"))


def _accent_table() -> tuple:
    """Lowercase Latin-1/Latin-Extended-A letter -> ASCII base letter,
    derived from the stdlib's Unicode NFD data at import (deterministic,
    no ICU dependency) plus the handful of non-decomposing strokes. The
    result feeds a codegen translate() — no Python in the hot path."""
    import unicodedata
    extra = {"ø": "o", "đ": "d", "ħ": "h", "ł": "l", "ı": "i",
             "ð": "d", "þ": "t", "ŧ": "t", "ĸ": "k"}
    src, dst = [], []
    for cp in range(0xC0, 0x180):
        ch = chr(cp).lower()
        if ch in src or ch in extra:
            continue
        d = unicodedata.normalize("NFD", ch)
        if d != ch and "a" <= d[0] <= "z":
            src.append(ch)
            dst.append(d[0])
    for ch, base in extra.items():
        src.append(ch)
        dst.append(base)
    return "".join(src), "".join(dst)


_ACCENT_SRC, _ACCENT_DST = _accent_table()


# Unicode space separators (Zs minus ASCII space) spelled explicitly so
# the class is identical under Java regex and RE2
_UNI_SPACES = ("\u00A0\u1680\u2000-\u200A\u202F\u205F\u3000")


def normalize_for_dedup_col(text_col: str = "text") -> F.Column:
    """The CCNet-style text canonicalization applied BEFORE hashing for
    dedup (lowercase, fold accents, unify decimal digits to zero, drop
    punctuation/symbols, unify whitespace) — so "Call 555-0199!" and
    "call 555-0100" hash identically and near-identical boilerplate
    collapses despite cosmetic drift.

    Use it to build the dedup KEY: ``dedup_exact(docs.withColumn("text",
    normalize_for_dedup_col()))`` is lossless (dedup_exact returns ids
    only). Newlines are PRESERVED (horizontal whitespace collapses, NBSP
    and the other Unicode space separators unify to plain space), so
    paragraph boundaries survive for dedup_paragraphs — but note that
    op returns its input text, which after this composition is the
    normalized form; keep the original column alongside if you need the
    raw bytes back.

    Entirely codegen (lower / translate / regexp_replace). Coverage,
    honestly stated: accent FOLDING covers Latin-1 + Latin-Extended-A
    via a translate table; combining marks (\\p{M}) are kept so Indic/
    Thai/Arabic vowel signs are not destroyed; decimal digits of every
    script (\\p{Nd}) unify to 0; other scripts pass through unchanged.
    Full ICU normalization would need a Pandas UDF off the hot path.
    """
    hws = ASCII_WS_CHARS.replace("\n", "")  # horizontal whitespace only
    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    # ß/æ/œ expand to two letters — translate() is 1:1, so replace first
    t = F.replace(t, F.lit("ß"), F.lit("ss"))
    t = F.replace(t, F.lit("æ"), F.lit("ae"))
    t = F.replace(t, F.lit("œ"), F.lit("oe"))
    t = F.translate(t, _ACCENT_SRC, _ACCENT_DST)
    t = F.regexp_replace(t, r"\p{Nd}", "0")
    # unify Unicode space separators (NBSP & co) to plain space BEFORE
    # the keep-class, or they would be deleted and merge adjacent words
    t = F.regexp_replace(t, "[" + _UNI_SPACES + "]", " ")
    # keep letters, combining marks, numbers, whitespace; drop the rest
    t = F.regexp_replace(t, "[^\\p{L}\\p{M}\\p{N}" + ASCII_WS_CHARS + "]",
                         "")
    t = F.regexp_replace(t, "[" + hws + "]+", " ")
    t = F.regexp_replace(t, " ?\n ?", "\n")
    return F.trim(t)
