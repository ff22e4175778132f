"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact cosine against a query vector —
  one whole-stage-codegen projection (zip_with + aggregate), no Python,
  no shuffle until the final top-k (which Spark executes as a
  TakeOrderedAndProject: per-partition heap + driver merge, no full sort).
- ``lsh_topk``: the 100 TB path — random-hyperplane signatures bucket the
  corpus; only the query's bucket(s) are exactly re-ranked. Hyperplanes
  are pseudo-random but fully deterministic (seeded from xxhash64 of
  (plane, dim)), so results are reproducible across runs/executors.
"""

from __future__ import annotations

import math
from typing import List, Sequence

from pyspark.sql import DataFrame, functions as F

from defuddle_spark.spark.partitions import spread_narrow
from defuddle_spark.spark.session import drop_zip_importers

from .dedup import _let, _same_key_pairs


def _as_double_array(vec: Sequence[float]) -> F.Column:
    return F.array(*[F.lit(float(x)).cast("double") for x in vec])


def cosine_similarity_col(emb_col: str, query: Sequence[float]) -> F.Column:
    q = _as_double_array(query)
    norm_q = float(math.sqrt(sum(float(x) * float(x) for x in query))) or 1.0

    # the cast-to-double transform is _let-bound so the dot product and
    # the norm read one bound array instead of each re-running the
    # per-element cast pass (see ops.dedup._let)
    def build(emb):
        dot = F.aggregate(F.zip_with(emb, q, lambda a, b: a * b),
                          F.lit(0.0), lambda acc, x: acc + x)
        norm_e = F.sqrt(F.aggregate(F.transform(emb, lambda a: a * a),
                                    F.lit(0.0), lambda acc, x: acc + x))
        # a zero-norm vector (empty document) has UNDEFINED similarity:
        # NULL, not a DIVIDE_BY_ZERO abort (Spark 4 runs ANSI mode by
        # default). NULL ranks truly last under desc (Spark desc = nulls
        # last) — a 0.0 sentinel would outrank genuinely negative
        # cosines — and threshold filters drop it naturally, matching
        # cosine_topk_batch's drop.
        return F.when(norm_e != 0.0, dot / (norm_e * F.lit(norm_q)))

    return _let(F.transform(F.col(emb_col), lambda x: x.cast("double")),
                build)


def cosine_topk(embeddings: DataFrame, query: Sequence[float], k: int = 10,
                id_col: str = "vec_id", emb_col: str = "embedding",
                round_digits: int = 4) -> DataFrame:
    """Exact top-k by cosine similarity; deterministic (rounded sim, id) order."""
    sim = F.round(cosine_similarity_col(emb_col, query), round_digits)
    return (embeddings
            .select(F.col(id_col), sim.alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.col(id_col))
            .limit(k))


def _exact_pair_cosine(cand: DataFrame, embeddings: DataFrame,
                       id_col: str, emb_col: str, threshold: float,
                       round_digits: int) -> DataFrame:
    """Re-attach vectors to (id_a, id_b) candidates and score them with the
    SEQUENTIAL left-fold cosine — the same summation order the DuckDB
    oracle uses, so rounding boundaries are decided identically."""
    e = embeddings.select(
        F.col(id_col),
        F.transform(F.col(emb_col), lambda x: x.cast("double")).alias("_e"))
    e = e.withColumn("_n", F.sqrt(F.aggregate(
        F.transform("_e", lambda a: a * a), F.lit(0.0),
        lambda acc, x: acc + x)))
    cand = (cand
            .join(e.select(F.col(id_col).alias("id_a"),
                           F.col("_e").alias("_ea"), F.col("_n").alias("_na")), "id_a")
            .join(e.select(F.col(id_col).alias("id_b"),
                           F.col("_e").alias("_eb"), F.col("_n").alias("_nb")), "id_b"))
    dot = F.aggregate(F.zip_with("_ea", "_eb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    denom = F.col("_na") * F.col("_nb")
    # NULL for zero-norm pairs: the >= threshold filter drops them
    cos = F.round(F.when(denom != 0.0, dot / denom), round_digits)
    return (cand.select("id_a", "id_b", cos.alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


def cosine_neardup_pairs(embeddings: DataFrame, threshold: float = 0.9,
                         id_col: str = "vec_id", emb_col: str = "embedding",
                         round_digits: int = 4,
                         max_vectors: int = 1_000_000) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim)
    for rounded cosine >= threshold, emitted once (id_a < id_b).

    Ground-truth/oracle variant with a BLAS physical plan: the normalized
    matrix is broadcast — HARD-BOUNDED by ``max_vectors`` (default 10^6,
    ~0.5 GB at dim 64): the corpus is counted first and a ValueError
    pointing at cosine_neardup_lsh (the scale path) is raised over the
    bound, instead of OOMing the driver mid-collect — and each partition
    matmuls its rows against it in numpy, emitting only pairs above
    threshold minus a rounding guard. Survivors (a tiny fraction) are
    re-scored with the sequential fold, so the OUTPUT is exactly what the
    naive all-pairs expression produces — the matmul only prunes.
    (Measured: the interpreted per-pair HOF cosine took 49 s on 8M pairs
    at sf0.1; the matmul prune runs in ~1 s.) Note the bound check and the
    matrix collect both run EAGERLY at call time.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    src = embeddings.select(id_col, emb_col)
    if src.limit(max_vectors + 1).count() > max_vectors:
        raise ValueError(
            f"cosine_neardup_pairs is the bounded ground-truth variant: the "
            f"corpus exceeds max_vectors={max_vectors} and the broadcast "
            f"matrix would not fit; use cosine_neardup_lsh (the scale path) "
            f"or raise max_vectors explicitly.")
    pdf_all = src.toPandas()
    ids_all = pdf_all[id_col].to_numpy()
    m = np.vstack(pdf_all[emb_col].to_numpy()).astype(np.float64)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
    bc = spark.sparkContext.broadcast((ids_all, m))
    # guard: survivors are decided by the rounded sequential value; raw
    # BLAS values within half an ulp-of-rounding of the threshold must
    # not be pruned (round_digits=4 -> boundary is threshold - 5e-5)
    guard = threshold - 10.0 ** (-round_digits)

    def gen(it):
        drop_zip_importers()
        ids_b, mn = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            a_ids = pdf[id_col].to_numpy()
            a = np.vstack(pdf[emb_col].to_numpy()).astype(np.float64)
            a /= np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-300)
            sims = a @ mn.T
            ia, ib = np.nonzero(sims >= guard)
            id_a, id_b = a_ids[ia], ids_b[ib]
            keep = id_a < id_b
            yield pd.DataFrame({"id_a": id_a[keep], "id_b": id_b[keep]})
        drop_zip_importers()

    from pyspark.sql.types import StructField, StructType

    # pair schema follows the caller's id column type (string doc keys are
    # common); hardcoding long broke non-long ids at Arrow conversion
    id_type = embeddings.schema[id_col].dataType
    pair_schema = StructType([StructField("id_a", id_type),
                              StructField("id_b", id_type)])
    cand = spread_narrow(src).mapInPandas(gen, pair_schema)
    return _exact_pair_cosine(cand, embeddings, id_col, emb_col,
                              threshold, round_digits)


def cosine_neardup_pairs_blocked(embeddings: DataFrame,
                                 threshold: float = 0.9,
                                 id_col: str = "vec_id",
                                 emb_col: str = "embedding",
                                 round_digits: int = 4,
                                 n_blocks: int = 8,
                                 max_vectors: int = 10_000_000) -> DataFrame:
    """Distributed exact all-pairs near-dup: BLOCKED matrix product.

    The middle rung of the exact-vs-scale ladder:

    - ``cosine_neardup_pairs``: driver-broadcast matmul, hard-bounded at
      ~10^6 vectors (the matrix must fit the driver + every executor);
    - THIS: no driver collect and no whole-corpus broadcast — the corpus
      is hash-partitioned into ``n_blocks`` id-blocks, every unordered
      block pair (i <= j) becomes one cogroup key whose two sides are
      the blocks' rows, and each task matmuls ONE block pair, emitting
      candidates above a rounding-guarded threshold. Each row is
      shuffled n_blocks+1 times and an executor holds TWO blocks, never
      the corpus, so the ceiling is set by compute (still O(N^2) flops —
      exact all-pairs is irreducibly quadratic) rather than memory;
      ``max_vectors`` (eager count) defaults 10x higher than the
      broadcast variant and the refusal points at cosine_neardup_lsh,
      the subquadratic 100 TB path.
    - ``cosine_neardup_lsh``: signature-bucketed candidates.

    Survivors are re-scored with the sequential fold
    (``_exact_pair_cosine``), so the OUTPUT is bit-identical to
    cosine_neardup_pairs — the block matmul only prunes.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    spark = embeddings.sparkSession
    src = embeddings.select(id_col, emb_col)
    if src.limit(max_vectors + 1).count() > max_vectors:
        raise ValueError(
            f"cosine_neardup_pairs_blocked is the exact O(n^2) variant: "
            f"the corpus exceeds max_vectors={max_vectors}; use "
            f"cosine_neardup_lsh (the subquadratic scale path) or raise "
            f"max_vectors explicitly.")
    blk = F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                 F.lit(n_blocks)).cast("int")
    tagged = src.withColumn("_blk", blk)
    pair_rows = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    pairs = spark.createDataFrame(pair_rows, "ba int, bb int")

    def _side(block_col: str) -> DataFrame:
        # fresh qualified aliases per side: both sides derive from the
        # same frames, which otherwise trips the ambiguous-self-join check
        t = tagged.alias(f"t_{block_col}")
        p = pairs.alias(f"p_{block_col}")
        return (t.join(F.broadcast(p),
                       F.col(f"t_{block_col}._blk")
                       == F.col(f"p_{block_col}.{block_col}"))
                .select(F.col(f"p_{block_col}.ba").alias("ba"),
                        F.col(f"p_{block_col}.bb").alias("bb"),
                        F.col(f"t_{block_col}.{id_col}").alias(id_col),
                        F.col(f"t_{block_col}.{emb_col}").alias(emb_col)))

    left = _side("ba")
    right = _side("bb")
    guard = threshold - 10.0 ** (-round_digits)

    def block_pair(key, lpdf, rpdf):
        drop_zip_importers()
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame({"id_a": [], "id_b": []})
        ia = lpdf[id_col].to_numpy()
        ib = rpdf[id_col].to_numpy()
        a = np.vstack(lpdf[emb_col].to_numpy()).astype(np.float64)
        b = np.vstack(rpdf[emb_col].to_numpy()).astype(np.float64)
        a /= np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-300)
        b /= np.maximum(np.linalg.norm(b, axis=1, keepdims=True), 1e-300)
        xi, yi = np.nonzero(a @ b.T >= guard)
        id_a, id_b = ia[xi], ib[yi]
        if key[0] == key[1]:
            # diagonal block: each unordered pair appears twice; keep one
            keep = id_a < id_b
            id_a, id_b = id_a[keep], id_b[keep]
        else:
            # off-diagonal: once per pair, but hash blocks don't order
            # ids — normalize to (min, max)
            id_a, id_b = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b})

    id_type = embeddings.schema[id_col].dataType
    pair_schema = StructType([StructField("id_a", id_type),
                              StructField("id_b", id_type)])
    cand = (left.groupBy("ba", "bb")
            .cogroup(right.groupBy("ba", "bb"))
            .applyInPandas(block_pair, pair_schema))
    return _exact_pair_cosine(cand, embeddings, id_col, emb_col,
                              threshold, round_digits)


def cosine_neardup_lsh(embeddings: DataFrame, dim: int, threshold: float = 0.9,
                       id_col: str = "vec_id", emb_col: str = "embedding",
                       planes: int = 12, max_hamming: int = 2,
                       round_digits: int = 4) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane signatures
    bucket the corpus; only pairs whose signatures are within
    ``max_hamming`` bits are exactly verified. Candidate generation is a
    band-style equi-join on (probe, masked signature): each vector emits
    C(planes, <=max_hamming) masked copies of its signature, so two sigs
    within the Hamming radius share at least one masked key. The shuffle
    carries (key, id) only; vectors re-attach by id for the verify."""
    from itertools import combinations
    idx = ann_index(embeddings, dim, emb_col, planes).select(
        F.col(id_col), F.col(emb_col), "sig")
    masks = []
    for r in range(max_hamming + 1):
        for bits in combinations(range(planes), r):
            m = 0
            for bit in bits:
                m |= 1 << bit
            masks.append(m)
    # key = sig with the masked bits forced to 0, tagged by the mask id;
    # a pair differing exactly in the masked bits collides on that key
    probes = idx.select(
        id_col,
        F.posexplode(F.array(*[
            F.col("sig").bitwiseAND(F.lit(~m & ((1 << planes) - 1)))
            for m in masks
        ])).alias("probe", "key"))
    cand = (_same_key_pairs(probes, ["probe", "key"], id_col)
            .dropDuplicates(["id_a", "id_b"]))
    return _exact_pair_cosine(cand, embeddings, id_col, emb_col,
                              threshold, round_digits)


def _hyperplane(plane: int, dim: int) -> List[float]:
    """Deterministic pseudo-random hyperplane component in [-1, 1).

    Python-side constant generation (broadcast as literals); matches
    nothing external — just a fixed seeded construction.
    """
    out = []
    for d in range(dim):
        # xorshift-style mix of (plane, d); stable across processes
        x = (plane * 1_000_003 + d * 19_349_663 + 0x9E3779B9) & 0xFFFFFFFF
        x ^= x >> 13
        x = (x * 0x5BD1E995) & 0xFFFFFFFF
        x ^= x >> 15
        out.append((x / 0xFFFFFFFF) * 2.0 - 1.0)
    return out


def lsh_signature_col(emb_col: str, dim: int, planes: int = 16) -> F.Column:
    """Random-hyperplane bit signature (int) of an embedding column.

    Built as ONE nested higher-order expression (an aggregate over a
    planes x dim literal matrix) rather than ``planes`` separate aggregates
    chained with bitwiseOR(when(...)): the flat shape keeps the expression
    tree shallow, which is what Catalyst analysis + codegen time scale
    with (the chained form cost ~10 s of driver-side compile per query).

    The cast-to-double transform is _let-bound: without the binding,
    every per-plane dot product re-ran the whole cast pass over the
    vector — ``planes`` redundant O(dim) passes per row (see
    ops.dedup._let).
    """
    hyper = F.array(*[_as_double_array(_hyperplane(p, dim))
                      for p in range(planes)])
    masks = F.array(*[F.lit(1 << p).cast("long") for p in range(planes)])

    def build(emb):
        bits = F.zip_with(
            hyper, masks,
            lambda h, m: F.when(
                F.aggregate(F.zip_with(emb, h, lambda a, b: a * b),
                            F.lit(0.0), lambda acc, x: acc + x) >= 0,
                m).otherwise(F.lit(0).cast("long")))
        return F.aggregate(bits, F.lit(0).cast("long"),
                           lambda acc, x: acc + x)

    return _let(F.transform(F.col(emb_col), lambda x: x.cast("double")),
                build)


def ann_index(embeddings: DataFrame, dim: int,
              emb_col: str = "embedding", planes: int = 12) -> DataFrame:
    """Attach the materializable LSH bucket column ``sig``.

    The index is built ONCE per corpus (not per query): write it with
    write_ann_index so queries hit a sig-partitioned table and the scan
    prunes to the candidate buckets via partition pruning.
    """
    return embeddings.withColumn(
        "sig", lsh_signature_col(emb_col, dim, planes))


def write_ann_index(index: DataFrame, path: str) -> None:
    """Persist an ann_index() frame partitioned by bucket.

    ``spark.read.parquet(path)`` + lsh_topk then shows
    ``PartitionFilters: [sig IN (...)]`` in the scan — the 100 TB shape:
    only the candidate buckets' files are opened.
    """
    index.write.mode("overwrite").partitionBy("sig").parquet(path)


def query_signature(query: Sequence[float], planes: int = 12) -> int:
    dim = len(query)
    qsig = 0
    for p in range(planes):
        h = _hyperplane(p, dim)
        if sum(float(a) * b for a, b in zip(query, h)) >= 0:
            qsig |= 1 << p
    return qsig


def _sigs_within(qsig: int, planes: int, max_hamming: int) -> List[int]:
    """All signatures within Hamming distance max_hamming of qsig.

    C(planes, <=max_hamming) values — e.g. 79 for planes=12, r=2. Small
    enough to ship as an IN-list literal, which (unlike bit_count(xor))
    Catalyst pushes into the scan as a partition filter / parquet
    predicate.
    """
    from itertools import combinations
    out = []
    for r in range(max_hamming + 1):
        for bits in combinations(range(planes), r):
            mask = 0
            for b in bits:
                mask |= 1 << b
            out.append(qsig ^ mask)
    return out


def lsh_topk(embeddings: DataFrame, query: Sequence[float], k: int = 10,
             id_col: str = "vec_id", emb_col: str = "embedding",
             planes: int = 12, max_hamming: int = 2,
             round_digits: int = 4) -> DataFrame:
    """Approximate top-k: candidates whose signature is within
    ``max_hamming`` bits of the query signature, exactly re-ranked.

    Round-2 hardening: the candidate filter is ``sig IN (<enumerated
    buckets>)`` — an explicit literal list, NOT bit_count(xor), so on an
    ann_index()-materialized, sig-partitioned table it becomes partition
    pruning at the scan and the per-query cost is proportional to the
    candidate buckets, not the corpus. If ``embeddings`` already carries
    a ``sig`` column (an index read back from write_ann_index) no
    signature math runs at query time at all; otherwise sig is computed
    on the fly (small-corpus / oracle path, same results).
    """
    dim = len(query)
    if "sig" not in embeddings.columns:
        embeddings = ann_index(embeddings, dim, emb_col, planes)
    qsig = query_signature(query, planes)
    cand_sigs = _sigs_within(qsig, planes, max_hamming)
    candidates = embeddings.filter(F.col("sig").isin(cand_sigs))
    sim = F.round(cosine_similarity_col(emb_col, query), round_digits)
    return (candidates
            .select(F.col(id_col), sim.alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.col(id_col))
            .limit(k))


# --- IVF (inverted-file) ANN: the coarse-quantizer scale path -------------
# The second ANN family of the training-data checklist (alongside the
# hyperplane-LSH buckets above): vectors are assigned to their nearest
# coarse centroid ("list"); a query ranks the centroids on the driver
# (n_lists values, trivial) and scans only the nprobe best lists. On a
# write_ivf_index()-materialized table the list filter is a literal
# IN-list over the partition column, so the scan prunes to the probed
# lists' files — per-query cost ~ nprobe/n_lists of the corpus, the
# same 100 TB shape as lsh_topk.


def _nearest_list_col(emb_col: str, centroids: List[List[float]]) -> F.Column:
    """Argmin squared L2 distance against the centroid table — pure
    codegen (ties break to the lowest list id via array_position).

    L2 is the metric consistent with Lloyd's coordinate-mean update step
    (the mean minimizes summed squared L2, so assignment+update share one
    convergence objective). The previous inner-product assignment let
    large-norm centroids capture disproportionate lists on unnormalized
    embeddings (ADVICE r3). The cast transform is _let-bound so the
    per-centroid distances read one bound array instead of re-casting
    the vector n_lists times (see ops.dedup._let)."""
    cent = F.array(*[F.array(*[F.lit(float(v)) for v in c])
                     for c in centroids])

    def build(emb):
        d2 = F.transform(
            cent, lambda c: F.aggregate(
                F.zip_with(emb, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, x: acc + x))
        return (F.array_position(d2, F.array_min(d2)) - 1).cast("int")

    return _let(F.transform(F.col(emb_col), lambda x: x.cast("double")),
                build)


def ivf_train(embeddings: DataFrame, n_lists: int = 16,
              id_col: str = "vec_id", emb_col: str = "embedding",
              iters: int = 2) -> List[List[float]]:
    """Train IVF coarse centroids with Lloyd iterations on the cluster.

    Seeding is deterministic (the ``n_lists`` vectors with the smallest
    xxhash64(id) — a pseudo-random but reproducible sample); each Lloyd
    step is one assignment projection + one (list, dim)-grouped mean, so
    the per-iteration collect is n_lists x dim scalars regardless of
    corpus size. Exact centroid bits can wiggle across cluster layouts
    (float mean reduction order); consumers must not hash centroids —
    ivf_topk's results are exact re-rankings, and full-probe results are
    layout-independent.
    """
    # The assignment expression is interpreted (nested higher-order
    # functions never enter whole-stage codegen), so a narrow input —
    # a single parquet file scans as ONE partition — would run each
    # Lloyd pass single-threaded. Spread and pin the working set once
    # for the whole training loop.
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    work = embeddings.select(id_col, emb_col).repartition(par).persist()
    try:
        seeds = (work
                 .select(id_col, emb_col,
                         F.xxhash64(F.col(id_col).cast("string")).alias("_h"))
                 .orderBy("_h", id_col)
                 .limit(n_lists)
                 .collect())
        cents = [[float(x) for x in r[emb_col]] for r in seeds]
        if not cents:
            raise ValueError("ivf_train: empty corpus")
        dim = len(cents[0])
        for _ in range(iters):
            assigned = work.select(
                _nearest_list_col(emb_col, cents).alias("list_id"),
                F.posexplode(F.transform(F.col(emb_col),
                                         lambda x: x.cast("double")))
                .alias("pos", "v"))
            rows = (assigned.groupBy("list_id", "pos")
                    .agg(F.avg("v").alias("m")).collect())
            by: dict = {}
            for r in rows:
                by.setdefault(r["list_id"], {})[r["pos"]] = r["m"]
            cents = [[by[l][p] for p in range(dim)] if l in by else cents[l]
                     for l in range(len(cents))]
        return cents
    finally:
        work.unpersist()


def ivf_index(embeddings: DataFrame, centroids: List[List[float]],
              emb_col: str = "embedding") -> DataFrame:
    """Attach the materializable coarse-list column ``list_id``."""
    return embeddings.withColumn(
        "list_id", _nearest_list_col(emb_col, centroids))


def write_ivf_index(index: DataFrame, path: str) -> None:
    """Persist an ivf_index() frame partitioned by list — queries then
    prune to the probed lists at the scan (PartitionFilters IN-list)."""
    index.write.mode("overwrite").partitionBy("list_id").parquet(path)


def ivf_topk(embeddings: DataFrame, centroids: List[List[float]],
             query: Sequence[float], k: int = 10, nprobe: int = 4,
             id_col: str = "vec_id", emb_col: str = "embedding",
             round_digits: int = 4) -> DataFrame:
    """Approximate top-k: scan the ``nprobe`` lists whose centroids best
    match the query, exactly re-rank the candidates.

    nprobe == n_lists degrades to exact search (every vector lives in
    exactly one list), which is the oracle-checkable configuration; the
    recall/nprobe trade-off is pinned by unit test. If ``embeddings``
    already carries ``list_id`` (an index read back from
    write_ivf_index) no assignment math runs at query time.
    """
    # Probe by the SAME metric assignment uses (squared L2): the lists a
    # near-neighbor can live in are the lists whose centroids are L2-close
    # to the query.
    qd = [(sum((float(a) - float(b)) ** 2 for a, b in zip(query, c)), i)
          for i, c in enumerate(centroids)]
    probe = [i for _, i in sorted(qd)[:nprobe]]
    if "list_id" not in embeddings.columns:
        embeddings = ivf_index(embeddings, centroids, emb_col)
    cand = embeddings.filter(F.col("list_id").isin([int(p) for p in probe]))
    sim = F.round(cosine_similarity_col(emb_col, query), round_digits)
    return (cand
            .select(F.col(id_col), sim.alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.col(id_col))
            .limit(k))


def cosine_topk_batch(embeddings: DataFrame, queries: DataFrame,
                      k: int = 10, id_col: str = "vec_id",
                      emb_col: str = "embedding",
                      query_id_col: str = "query_id",
                      query_emb_col: str = "query_embedding",
                      round_digits: int = 4,
                      shards: int = 64,
                      max_queries: int = 10_000) -> DataFrame:
    """Exact top-k for a BATCH of query vectors in one corpus pass
    (the batch-serving baseline next to the single-query cosine_topk).

    Scale shape — distributed two-stage top-k, because the naive
    window-rank over (query_id) would shuffle all Q x N scored rows:
    1. broadcast the (small) query table and score every (vector, query)
       pair in one codegen projection over the corpus scan;
    2. per (query, shard-of-id) PARTIAL top-k via a sort_array/slice
       aggregate — map-side partial aggregation caps every agg buffer at
       ~N/shards rows and the shuffle carries <= shards*k rows per query;
    3. per query, merge the shard winners (shards*k rows each — trivial)
       and explode the final k.

    Ordering is (rounded cos_sim desc, id asc), with the rounding applied
    BEFORE ranking on both the Spark and oracle side so tie-breaks are
    decided identically.
    """
    # the query table is BROADCAST and every corpus row scores against
    # every query, so it must be genuinely small — refuse early (eager
    # bounded count, same pattern as cosine_neardup_pairs' max_vectors)
    # rather than silently amplifying the corpus scan Q-fold
    if queries.limit(max_queries + 1).count() > max_queries:
        raise ValueError(
            f"cosine_topk_batch broadcasts the query table and scores "
            f"corpus x queries: over max_queries={max_queries} run the "
            f"per-query index paths (lsh_topk / ivf_topk) or raise "
            f"max_queries explicitly.")
    q = queries.select(
        F.col(query_id_col),
        F.transform(F.col(query_emb_col),
                    lambda x: x.cast("double")).alias("_q"))
    q = q.withColumn("_qn", F.sqrt(F.aggregate(
        F.transform("_q", lambda a: a * a), F.lit(0.0),
        lambda acc, x: acc + x)))
    e = embeddings.select(
        F.col(id_col),
        F.transform(F.col(emb_col), lambda x: x.cast("double")).alias("_e"))
    e = e.withColumn("_n", F.sqrt(F.aggregate(
        F.transform("_e", lambda a: a * a), F.lit(0.0),
        lambda acc, x: acc + x)))
    # zero-norm rows/queries cannot be neighbors and would abort the job
    # under ANSI division; dropping them beats emitting null sims, which
    # the ascending struct sort would rank FIRST
    e = e.filter(F.col("_n") != 0.0)
    q = q.filter(F.col("_qn") != 0.0)
    scored = e.join(F.broadcast(q))
    dot = F.aggregate(F.zip_with("_e", "_q", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    sim = F.round(dot / (F.col("_n") * F.col("_qn")), round_digits)
    scored = scored.select(
        F.col(query_id_col), F.col(id_col), sim.alias("cos_sim"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")),
               F.lit(shards)).alias("_shard"))
    # rank key: one struct sorted ascending = (-sim, id); negation makes
    # the best similarity the smallest key
    key = F.struct((-F.col("cos_sim")).alias("nsim"),
                   F.col(id_col).alias("vid"))
    partial = (scored
               .groupBy(query_id_col, "_shard")
               .agg(F.slice(F.sort_array(F.collect_list(key)), 1, k)
                    .alias("_top")))
    merged = (partial
              .groupBy(query_id_col)
              .agg(F.slice(F.sort_array(F.flatten(F.collect_list("_top"))),
                           1, k).alias("_top")))
    out = merged.select(
        F.col(query_id_col),
        F.posexplode("_top").alias("rank0", "_kv"))
    return out.select(
        query_id_col,
        (F.col("rank0") + 1).cast("int").alias("rank"),
        F.col("_kv.vid").alias(id_col),
        (-F.col("_kv.nsim")).alias("cos_sim"))


def embedding_centroids(embeddings: DataFrame, group_col: str,
                        emb_col: str = "embedding",
                        round_digits: int = 6) -> DataFrame:
    """Per-group mean embedding: (group, n_vectors, centroid) — class
    prototypes / cluster statistics over an embedding column.

    Scale shape: posexplode to (group, pos, v) and hash-aggregate on
    (group, pos) — map-side partial aggregation collapses each
    partition's contribution to one row per (group, dim) before the
    shuffle; the final per-group array rebuild moves dim rows per group.

    Determinism: the component sums run in DECIMAL(28,12) (exact,
    associative), so the centroid bits are IDENTICAL across cluster
    layouts and partition counts — float summation order made
    double-path means layout-dependent, which is why IVF's float
    centroids must never be hash-compared (round-3 lesson) while these
    may be.
    """
    ex = embeddings.select(
        F.col(group_col),
        F.posexplode(F.transform(
            F.col(emb_col),
            lambda x: x.cast("decimal(28,12)"))).alias("pos", "v"))
    comp = (ex.groupBy(group_col, "pos")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n")))
    val = F.round((F.col("s") / F.col("n")).cast("double"), round_digits)
    return (comp
            .select(group_col, "pos", val.alias("m"), "n")
            .groupBy(group_col)
            .agg(F.max("n").cast("long").alias("n_vectors"),
                 F.array_sort(F.collect_list(F.struct("pos", "m")))
                 .alias("_s"))
            .select(group_col, "n_vectors",
                    F.transform("_s", lambda kv: kv["m"]).alias("centroid")))
