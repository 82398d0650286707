"""Similarity search over the ``embeddings`` table (north-star extension).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant is the scale path (candidates only from matching buckets). Both are
pure Spark SQL expressions — the dot product is a ``zip_with``/``aggregate``
fold over ``array<double>``, which stays in codegen'd JVM execution (no
Python in the hot path). The double fold is left-to-right in both Spark and
duckdb, so results are bit-exact against the oracle.

Scale design (100 TB): broadcast the query set (top-k is per-query); the
corpus side streams through without a shuffle; per-partition partial top-k
happens inside the window's sort. For an IVF-style route, the LSH variant
shows the plan shape: hash → co-partition by bucket → local scan.
"""

from __future__ import annotations

import hashlib
import os
import sys

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import load, local_frame, table_path
from ..stage import _session_root, fingerprint, memo, stage

# The Arrow closures here call this module's shared IVF/PQ kernels on
# Python workers, which do not inherit the driver's sys.path: ship the
# module's functions by value so any session (a vanilla one included)
# runs them without a PYTHONPATH arrangement.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

TOP_K = 10
N_QUERIES = 5  # vec_id < 5 are the query vectors
N_PLANES = 6  # LSH hyperplanes → 64 buckets
DIM = 64


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )


def _as_double(col):
    return F.col(col).cast("array<double>")


def hyperplanes(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — identical values
    are inlined into the duckdb oracle, so bucketing is engine-neutral."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"plane_{p}_{d}".encode()).hexdigest()[:8], 16)
            row.append(((h % 2001) - 1000) / 1000.0)
        planes.append(row)
    return planes


# --- exact brute-force cosine top-k -----------------------------------------
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    # norms precomputed per vector (not per pair) on both sides —
    # bit-identical values, O(n·d) instead of O(n·q·d) norm flops
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("q")
    ).withColumn("nq", _norm(F.col("q")))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("e")
    ).withColumn("ne", _norm(F.col("e")))
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("q"), F.col("e")) / (F.col("nq") * F.col("ne"))).alias(
                "cos_raw"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 8).alias("cosine_sim"),
            "rank",
        )
    )


RANGE_TAU = 0.30  # cosine radius for range search (≈ top 1% of this corpus)


def ann_range_search_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search — all corpus vectors within a similarity radius
    of each query, the retrieval mode dedup/contamination screens use
    (every match matters, not just the k best; FAISS `range_search`).
    Same plan as the brute-force top-k baseline minus the window: the
    query batch broadcasts, the corpus streams map-side through the dot
    product, and the radius filter replaces the per-query sort — so range
    search is strictly CHEAPER than top-k at scale (no rank exchange at
    all; the IVF route composes the same way via cell pruning).

    Determinism: `cos_raw` is the identical double on both engines (the
    left-to-right fold recipe), and τ is a literal — comparing identical
    doubles to a literal cannot diverge (ROUND8_NOTES audit class). The
    rounded cosine stays display-only."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("q")
    ).withColumn("nq", _norm(F.col("q")))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("e")
    ).withColumn("ne", _norm(F.col("e")))
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("q"), F.col("e")) / (F.col("nq") * F.col("ne"))).alias(
                "cos_raw"
            ),
        )
    )
    return scored.filter(F.col("cos_raw") >= F.lit(RANGE_TAU)).select(
        "query_id",
        "neighbor_id",
        F.round("cos_raw", 8).alias("cosine_sim"),
    )


SEM_CONTAM_TAU = 0.35  # cosine radius ≈ top 0.1% of this corpus's pair
# distribution (max cross-split cosine measured 0.46 — the synthetic
# embeddings are near-orthogonal, so the band is calibrated to the
# corpus like RANGE_TAU; on a real encoder the paraphrase band sits
# ~0.85-0.95 — same plan, one literal)
SEM_BENCH_ID_CAP = 2000  # the benchmark is FROZEN: the held-out split's
# ids below this cap. Covers every vector at the gate SF (range
# 0..1999, so the cap changes nothing there) while keeping the bench
# batch CONSTANT-SIZE as the corpus grows — a real eval set never grows
# with the corpus, and without the cap the fixture's corpus-fraction
# split made the smoke quadratic (measured 107× at 100× data; capped:
# corpus-linear)


def benchmark_contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the third layer of the contamination
    stack, and the one n-grams cannot provide: a paraphrased or
    re-worded copy of an eval item shares no 8-gram
    (`benchmark_contamination`) and no 50-token span
    (`benchmark_contamination_substrings`) but still lands next to it
    in embedding space. Production decontamination runs exactly this
    screen after the lexical layers (the known weakness the
    GPT-4/Llama-era reports call out for n-gram-only decontamination).
    Every corpus vector is scored against the held-out benchmark
    split's vectors (the same ``doc_id % CONTAM_MOD`` split the lexical
    screens use, FROZEN at ids < ``SEM_BENCH_ID_CAP`` — a real eval set
    is fixed-size, never a corpus fraction); docs with any cosine ≥
    ``SEM_CONTAM_TAU`` report their hit count and strongest benchmark
    match.

    Scale shape: the `ann_range_search_cosine` plan with the benchmark
    as the query batch — the eval set is bounded at any corpus size, so
    it BROADCASTS; the corpus streams map-side through the fold dot
    product; the radius filter replaces any rank exchange (range
    semantics: every hit matters, not the k best); the only shuffle is
    the per-doc hit agg over the τ-filtered (tiny) hit set. Composes
    with IVF cell pruning exactly like the range entry.

    Determinism: `cos_raw` is the identical double on both engines (the
    left-to-right fold recipe), τ is a literal, and the per-doc MAX of
    identical doubles picks the identical value — rounding stays
    display-only."""
    from .textstats import CONTAM_MOD

    emb = load(spark, sf_dir, "embeddings")
    bench = (
        emb.filter(
            (F.col("vec_id") % CONTAM_MOD == 0)
            & (F.col("vec_id") < SEM_BENCH_ID_CAP)
        )
        .select(
            F.col("vec_id").alias("bench_id"),
            _as_double("embedding").alias("q"),
        )
        .withColumn("nq", _norm(F.col("q")))
    )
    corpus = (
        # training side = the frozen split's complement (r15 ADVICE):
        # above-cap vec_ids with vec_id % CONTAM_MOD == 0 are TRAINING
        # docs, screened like any other (no-op at the gate SFs where the
        # cap covers every id; oracle changed in lockstep)
        emb.filter(
            ~(
                (F.col("vec_id") % CONTAM_MOD == 0)
                & (F.col("vec_id") < SEM_BENCH_ID_CAP)
            )
        )
        .select(
            F.col("vec_id").alias("doc_id"),
            _as_double("embedding").alias("e"),
        )
        .withColumn("ne", _norm(F.col("e")))
    )
    scored = corpus.crossJoin(F.broadcast(bench)).select(
        "doc_id",
        (_dot(F.col("q"), F.col("e")) / (F.col("nq") * F.col("ne"))).alias(
            "cos_raw"
        ),
    )
    return (
        scored.filter(F.col("cos_raw") >= F.lit(SEM_CONTAM_TAU))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bench_hits"),
            F.round(F.max("cos_raw"), 8).alias("max_bench_cos"),
        )
    )


# --- Matryoshka truncation recall -------------------------------------------
MRL_DIMS = (16, 32, 64)  # prefix lengths; 64 = full (recall 1.0 sanity row)


def embedding_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k under PREFIX-truncated embeddings — the
    Matryoshka-representation storage/accuracy frontier (Kusupati et al.
    2022): MRL-trained encoders pack coarse semantics into the leading
    dimensions, so a store can keep only the first d dims (4× I/O cut at
    d/4) and re-rank the shortlist with full vectors. This entry measures
    what truncation costs on THIS embedding table: per prefix length,
    top-k by truncated cosine vs the full-dimension ground truth, as an
    exact hit-count recall. (These synthetic embeddings are not
    MRL-trained, so the measured recall is the honest pessimistic
    baseline; the operator is the evaluation harness a real store runs
    before committing to a truncation.) Complements `embedding_pq_codes`
    (subvector quantization) with the other axis of compression:
    dimension dropout.

    Determinism: each truncated cosine is the same left-to-right fold
    over the same prefix on both engines; per-query top-k uses the
    (cos DESC, id) tiebreak; recall is an exact integer `_ratio6`-style
    division. Scale: one broadcast-query corpus pass per prefix length
    (|MRL_DIMS| passes) — at a deployment the d-prefix pass reads a
    d-truncated column, which is the whole point."""
    emb = load(spark, sf_dir, "embeddings")
    outs = []
    for d in MRL_DIMS:
        q = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.slice(_as_double("embedding"), 1, d).alias("q"),
        ).withColumn("nq", _norm(F.col("q")))
        c = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.slice(_as_double("embedding"), 1, d).alias("e"),
        ).withColumn("ne", _norm(F.col("e")))
        scored = (
            c.crossJoin(F.broadcast(q))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                (_dot(F.col("q"), F.col("e")) / (F.col("nq") * F.col("ne"))).alias(
                    "cos_raw"
                ),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_raw"), F.asc("neighbor_id")
        )
        outs.append(
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select(F.lit(d).alias("dim"), "query_id", "neighbor_id")
        )
    # d = 64 ground truth: staged — it joins against every truncation pass
    full = stage(outs[-1].select("query_id", "neighbor_id"))
    hits = None
    for i, d in enumerate(MRL_DIMS):
        h = (
            outs[i]
            .join(full, ["query_id", "neighbor_id"])
            .groupBy("dim")
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        hits = h if hits is None else hits.unionByName(h)
    possible = N_QUERIES * TOP_K
    num = F.col("hits").cast("bigint") * 2000000 + possible
    k = ((num - num % (2 * possible)) / (2 * possible)).cast("bigint")
    return hits.select(
        "dim",
        "hits",
        F.lit(possible).alias("possible"),
        (k.cast("double") / F.lit(1000000.0)).alias("recall"),
    )


# --- MMR diversified retrieval ----------------------------------------------
MMR_LAMBDA = 0.7  # relevance weight
MMR_MU = 0.3  # diversity weight — a LITERAL, never computed as 1−λ
#   (python 1−0.7 = 0.30000000000000004 ≠ the SQL literal 0.3; both
#   engines and the UDF must use the same literal double)
MMR_K = 5  # diversified picks per query
MMR_SHORTLIST = 20  # relevance shortlist fed to the greedy stage


def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998):
    diversified top-k — greedily pick argmax λ·sim(q,d) − μ·max_{s∈S}
    sim(d,s), so the result set trades raw relevance for coverage (the
    re-rank every retrieval-augmented sampler runs after ANN, and the
    antidote to near-dup-saturated neighbor lists).

    Distributed shape: relevance shortlist (top-`MMR_SHORTLIST` per
    query) via the existing broadcast-scored window; member-pair cosines
    via a per-query self-join of the STAGED shortlist artifact (≤ N²
    rows per query, all bounded by the shortlist — never corpus²); then
    the inherently sequential greedy loop runs per query inside ONE
    `applyInPandas` over ≤ N² pre-computed doubles — Python touches only
    shortlist-sized state, never corpus rows, so the operator scales
    with |queries|, not |corpus|.

    Determinism: every similarity is computed by the codegen fold (the
    bit-exact recipe) BEFORE Python; the UDF only does IEEE ±×
    comparisons on those doubles with an id tiebreak, and the DuckDB twin
    replays the same greedy via a recursive CTE over the same doubles —
    score rounding is display-only, applied engine-side (not by python's
    half-even `round`)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("q")
    ).withColumn("nq", _norm(F.col("q")))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("e")
    ).withColumn("ne", _norm(F.col("e")))
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("q"), F.col("e")) / (F.col("nq") * F.col("ne"))).alias(
                "rel"
            ),
            F.col("e").alias("v"),
            F.col("ne").alias("nv"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("neighbor_id"))
    # staged: the shortlist (with vectors) is consumed on BOTH sides of
    # the pair self-join — unstaged, the corpus scan + window runs twice
    short = stage(
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= MMR_SHORTLIST)
        .select("query_id", "neighbor_id", "rel", "v", "nv")
    )
    a = short.select(
        "query_id",
        F.col("neighbor_id").alias("cand"),
        "rel",
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    b = short.select(
        "query_id",
        F.col("neighbor_id").alias("other"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("cand") != F.col("other"))
        .select(
            "query_id",
            "cand",
            "rel",
            "other",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "sim"
            ),
        )
    )

    def _greedy(pdf):
        import pandas as pd

        rels, sims = {}, {}
        for r in pdf.itertuples(index=False):
            rels[r.cand] = r.rel
            sims[(r.cand, r.other)] = r.sim
        qid = int(pdf["query_id"].iloc[0])
        sel, rows = [], []
        for step in range(1, MMR_K + 1):
            best = None
            for c in sorted(rels):  # ascending id = deterministic tiebreak
                if c in sel:
                    continue
                pen = max((sims[(c, s)] for s in sel), default=0.0)
                score = MMR_LAMBDA * rels[c] - MMR_MU * pen
                if best is None or score > best[0]:
                    best = (score, c)
            sel.append(best[1])
            rows.append((qid, step, best[1], best[0]))
        return pd.DataFrame(
            rows, columns=["query_id", "mmr_rank", "neighbor_id", "mmr_score"]
        )

    out = pairs.groupBy("query_id").applyInPandas(
        _greedy,
        "query_id long, mmr_rank int, neighbor_id long, mmr_score double",
    )
    return out.select(
        "query_id",
        "mmr_rank",
        "neighbor_id",
        F.round("mmr_score", 6).alias("mmr_score"),
    )


# --- kNN-graph hubness diagnostic -------------------------------------------
def knn_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree distribution of the kNN graph — the HUBNESS diagnostic
    (Radovanović et al., JMLR 2010): in high-dimensional embedding
    spaces a few "hub" vectors appear in disproportionately many top-k
    lists, which skews retrieval and contrastive sampling; a healthy
    embedding space has a tight in-degree distribution. Derived entirely
    from the existing top-k pass: one count per neighbor, then a
    frequency-of-frequency rollup (≤ k·|queries| rows in, ≤ k distinct
    degrees out — both exchanges shrink). Counts only, bit-portable."""
    knn = knn_bruteforce_cosine(spark, sf_dir)
    deg = knn.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return deg.groupBy("in_degree").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("neighbor_id").alias("example_vec"),
    )


# --- hard-negative mining (contrastive-training batch construction) ---------
def knn_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k *hard negatives* per query vector: the nearest neighbors whose
    label DIFFERS from the query's — the batch-construction primitive for
    contrastive/embedding training (a la DPR/Contriever in-batch negative
    mining: negatives that are close in embedding space teach the model
    far more than random ones).

    Same plan as :func:`knn_bruteforce_cosine` — bounded query batch
    broadcast against the streamed corpus, per-query top-k — with the
    label-mismatch predicate evaluated map-side before any shuffle, so
    the only exchange still carries |queries| x k candidate rows. At
    100 TB the candidate stage swaps to the IVF probe
    (:func:`ann_ivf_cosine`) with the same mismatch filter."""
    emb = load(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
            _as_double("embedding").alias("q"),
        )
        .withColumn("nq", _norm(F.col("q")))
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        _as_double("embedding").alias("e"),
    ).withColumn("ne", _norm(F.col("e")))
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            (_dot(F.col("q"), F.col("e")) / (F.col("nq") * F.col("ne"))).alias(
                "cos_raw"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.round("cos_raw", 8).alias("cosine_sim"),
            "rank",
        )
    )


# --- per-dimension distribution stats (whitening / drift diagnostics) --------
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean / population std / min / max over the corpus —
    the whitening and embedding-drift diagnostic (feature normalization
    constants, dead-dimension detection, monitoring between model
    versions). One posexplode into (pos, v) pairs → one
    map-side-combinable groupBy(pos): the same narrow-triple shuffle
    budget as a column-stats pass, never a wide 64-buffer agg (see the
    ``_centroids`` measurement note). Decimal accumulation keeps mean and
    variance partition-order independent; std uses the E[x²]−E[x]²
    population form so the duckdb twin is the same arithmetic."""
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(F.posexplode(_as_double("embedding")).alias("pos", "v"))
    mean = F.sum(F.col("v").cast("decimal(28,12)")).cast("double") / F.count(
        "v"
    )
    mean_sq = F.sum(
        (F.col("v") * F.col("v")).cast("decimal(28,12)")
    ).cast("double") / F.count("v")
    return (
        comp.groupBy("pos")
        .agg(
            F.count("v").alias("n"),
            F.round(mean, 8).alias("mean"),
            # clamp: float rounding can leave E[x²]−E[x]² fractionally
            # negative for (near-)constant dimensions — exactly the
            # dead-dimension input this diagnostic exists for. Unclamped,
            # Spark sqrt returns NaN while duckdb raises; GREATEST(·, 0)
            # on both sides makes the answer an exact 0.0 instead.
            F.round(
                F.sqrt(F.greatest(mean_sq - mean * mean, F.lit(0.0))), 8
            ).alias("std"),
            F.round(F.min("v"), 8).alias("min_v"),
            F.round(F.max("v"), 8).alias("max_v"),
        )
    )


# --- per-vector norms (sanity/coverage for array math) ----------------------
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    e = _as_double("embedding")
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(_norm(e), 8).alias("l2_norm"),
    )


# --- centroid per label (IVF building block) --------------------------------
def label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average embedding per label, then each vector's cosine to its own
    label centroid — the IVF coarse-quantizer shape (assign → residual).
    Aggregation is a posexplode + groupBy(label, pos) mean: shuffles
    (label, pos, value) triples only."""
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", "label", F.posexplode(_as_double("embedding")).alias("pos", "v")
    )
    cent = (
        comp.groupBy("label", "pos")
        # decimal mean: partition-order independent (see functions.det_avg)
        .agg(
            (
                F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
                / F.count("v")
            ).alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.expr("transform(pc, x -> x.c)").alias("centroid"))
    )
    joined = emb.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        (
            _dot(_as_double("embedding"), F.col("centroid"))
            / (_norm(_as_double("embedding")) * _norm(F.col("centroid")))
        ).alias("c_raw"),
    )
    return joined.select(
        "vec_id", "label", F.round("c_raw", 6).alias("centroid_cosine")
    )


# --- LSH-bucketed ANN (the scale path) --------------------------------------
def _bucket_expr(col_arr) -> F.Column:
    planes = hyperplanes()
    bits = []
    for p, plane in enumerate(planes):
        plane_lit = F.array(*[F.lit(v) for v in plane])
        bits.append(
            F.when(_dot(col_arr, plane_lit) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        )
    acc = bits[0]
    for b in bits[1:]:
        acc = acc + b
    return acc


def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's
    random-hyperplane bucket. At 100 TB the corpus is hash-partitioned by
    bucket (co-located scan per bucket); here the query side broadcasts.
    Deterministic + oracle-reproducible (hyperplanes inlined as literals)."""
    emb = load(spark, sf_dir, "embeddings")
    with_bucket = emb.select(
        "vec_id", _as_double("embedding").alias("e"),
        _bucket_expr(_as_double("embedding")).alias("bucket"),
    ).withColumn("ne", _norm(F.col("e")))  # per-vector norm, not per-pair
    queries = with_bucket.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("q"),
        F.col("bucket").alias("qbucket"),
        F.col("ne").alias("nq"),
    )
    cand = with_bucket.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot(F.col("q"), F.col("e")) / (F.col("nq") * F.col("ne"))).alias(
                "cos_raw"
            ),
            F.col("vec_id"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 8).alias("cosine_sim"),
            "rank",
        )
    )


# --- embedding-cosine near-duplicate pairs (dedup family) --------------------
NEAR_DUP_THRESHOLD = 0.4  # synthetic embeddings max pairwise cos ≈ 0.51


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vector pairs with cosine ≥ threshold — the embedding-space
    near-duplicate detector. Exact all-pairs here (broadcast nested-loop on
    ``vec_id <`` keeps each pair once); at 100 TB the candidate set is
    blocked first by LSH bucket (``_bucket_expr``) or MinHash band exactly
    as in :mod:`dedup`, turning O(n²) into per-bucket local products."""
    emb = load(spark, sf_dir, "embeddings")
    # norms precomputed per VECTOR, not per pair — the naive form recomputes
    # both norms inside every pair (O(n²·d) extra flops). Values are
    # bit-identical to per-pair computation, so the oracle is unaffected.
    # The streaming side is repartitioned across all cores: a single-file
    # corpus otherwise gives the nested-loop join one partition.
    a = emb.select(
        F.col("vec_id").alias("doc_a"), _as_double("embedding").alias("ea")
    ).withColumn("na", _norm(F.col("ea"))).repartition(
        spark.sparkContext.defaultParallelism
    )
    b = emb.select(
        F.col("vec_id").alias("doc_b"), _as_double("embedding").alias("eb")
    ).withColumn("nb", _norm(F.col("eb")))
    return (
        a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
            ).alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= NEAR_DUP_THRESHOLD)
        .select("doc_a", "doc_b", F.round("cos_raw", 8).alias("cosine_sim"))
    )


# --- SemDeDup (semantic dedup inside coarse cells) ---------------------------
SEMDEDUP_THRESHOLD = 0.4  # same scale as NEAR_DUP_THRESHOLD for this corpus


# --- the IVF coarse quantizer: each decision in one place --------------------
# FAISS-style IVF (Jégou, Douze, Schmid 2011): label-mean centroids, cell
# assignment by (cos DESC, cell ASC), probing each query's top cells. Every
# ANN entry calls these; the Arrow closures call the two kernels per batch.


def _first_copy(rows):
    """Index of each row's first identical row in the matrix ``rows``.
    BLAS may round the columns of ``X @ rows.T`` that belong to two
    identical rows differently, so the kernels read a duplicate's score
    column from its first copy: identical centroids or codewords then tie
    exactly and the lower one wins, as in the oracle's per-pair fold."""
    import numpy as np

    _, first, inverse = np.unique(
        rows, axis=0, return_index=True, return_inverse=True
    )
    return first[inverse.reshape(-1)]


def _quantizer(cent_rows: list, rot=None) -> tuple:
    """``(cells, C, Cn, first)`` of a label-ascending centroid table
    (collected Rows or ``{label, centroid}`` dicts): the cell ids, the
    k×d centroid matrix — times the caller's ``rot`` when given — its row
    norms, and :func:`_first_copy` of the unrotated rows. A duplicate
    row of the rotated matrix is its first copy's row, so codebooks cut
    from it keep identical codewords identical."""
    import numpy as np

    cells = np.array([int(r["label"]) for r in cent_rows], dtype=np.int64)
    C = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    first = _first_copy(C)
    if rot is not None:
        C = (C @ rot)[first]
    return cells, C, np.linalg.norm(C, axis=1), first


def _query_batch(emb: DataFrame, rot=None) -> tuple:
    """``(q_ids, Q, Qn)``: the ``N_QUERIES`` query vectors collected to
    the driver (bounded: the queries, not the corpus) — times the
    caller's ``rot`` when given — and their norms."""
    import numpy as np

    q_rows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    if rot is not None:
        Q = Q @ rot
    return q_ids, Q, np.linalg.norm(Q, axis=1)


def _nearest_cells(E, quant: tuple) -> tuple:
    """``(cell, En)`` per row of ``E``: the argmax of E·Cᵀ/(‖E‖‖C‖) over
    the quantizer's cells — numpy's argmax takes the FIRST max, so a
    cosine tie goes to the lower cell, the oracle's (cos DESC, cell ASC);
    a duplicate centroid reads its first copy's column — and the row
    norms, which the scoring closures reuse."""
    import numpy as np

    cells, C, Cn, first = quant
    En = np.linalg.norm(E, axis=1)
    A = ((E @ C.T) / (En[:, None] * Cn[None, :]))[:, first]
    return cells[np.argmax(A, axis=1)], En


def _probe_cells(quant: tuple, Q, Qn, n_probe: int) -> dict:
    """``{cell: [(query index, probe rank), ...]}``: each query's
    top-``n_probe`` cells by cosine — ``lexsort`` on (−cos, cell), so a
    tie, duplicate centroids included, lists the lower cell first — with
    1-based ranks. Under each cell
    the queries keep batch order, so per-cell query matrices built from
    this are row-for-row the batch's."""
    import numpy as np

    cells, C, Cn, first = quant
    qc = ((Q @ C.T) / (Qn[:, None] * Cn[None, :]))[:, first]
    by_cell: dict = {}
    for qi in range(len(Q)):
        for rank0, ci in enumerate(np.lexsort((cells, -qc[qi]))[:n_probe]):
            by_cell.setdefault(int(cells[ci]), []).append((qi, rank0 + 1))
    return by_cell


def _assigned_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell, embedding): every corpus vector tagged with its
    nearest-centroid cell — :func:`_assign_frozen` against the corpus's
    own centroids. Shared by :func:`semantic_dedup` and the
    cell-partitioned IVF store."""
    emb = load(spark, sf_dir, "embeddings")
    cent_rows = _centroids(emb).orderBy("label").collect()
    return _assign_frozen(emb, cent_rows, with_embedding=True)


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embedding
    space coarsely, then call a vector a *semantic duplicate* if some
    lower-id member of its own cell has cosine ≥ threshold — semantically
    redundant docs whose text-level shingles never collide (paraphrases,
    re-renderings) that MinHash can't see. Keep-lowest-id survivors.

    Execution shape: cell assignment is ONE map-only ``mapInPandas`` pass
    (centroid matrix in the UDF closure, one numpy matmul per Arrow
    batch; argmax takes the first/lowest cell on ties, matching the
    oracle's cos DESC, cell ASC), and the within-cell pairwise check is
    one dgemm per cell via ``applyInPandas``, shuffled by cell — never a
    corpus cross-join, and no pair-row explosion (the m×m score matrix
    never leaves the executor). Pairwise work is per-cell quadratic by
    design; SemDeDup's contract at 100 TB is growing k with the corpus so
    |cell| stays bounded (the paper uses k = O(√n)). At real scale a huge
    cell is processed in blocked row-strips against the same cell matrix
    (bounded memory). An expression-fold formulation of the same pair
    join measured 3.5× slower at sf0.1 (4.37 s vs 1.09 s): the
    interpreted ``aggregate`` fold is the HOF hazard SCALE.md documents.

    numpy matmul reassociates float adds vs the oracle's sequential fold;
    parity of the thresholded booleans is verified against the duckdb
    oracle on the fixed testdata (the ``knn_pandas_cosine`` stance)."""
    import numpy as np
    import pandas as pd

    assigned = _assigned_cells(spark, sf_dir)

    def flag(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        if len(pdf) <= 1:
            dup = np.zeros(len(pdf), dtype=bool)
        else:
            En = np.linalg.norm(E, axis=1)
            S = (E @ E.T) / np.outer(En, En)
            # dup iff some lower-vec_id cellmate scores >= threshold
            dup = np.tril(S >= SEMDEDUP_THRESHOLD, k=-1).any(axis=1)
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "cell": pdf["cell"], "is_semdup": dup}
        )

    return assigned.groupBy("cell").applyInPandas(
        flag, "vec_id long, cell int, is_semdup boolean"
    )


SEMDEDUP_SWEEP = (0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)


def semantic_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's tuning curve — the ε sweep the paper (Abbas et al.
    2023) runs before fixing a dedup threshold: removal rate as a
    function of the cosine cutoff, per cutoff in ``SEMDEDUP_SWEEP``.
    The entire ladder costs ONE within-cell dgemm pass (the
    ``jaccard_threshold_sweep`` device): per vector we keep only its MAX
    lower-vec_id cellmate cosine — the sweep statistic, since the vector
    is a semdup at ε iff that max ≥ ε — and every threshold is then a
    count over the same n-row artifact. Running :func:`semantic_dedup`
    per ε would pay the dgemm ladder-times; this pays it once.

    Cross-engine stance: the max cosine comes from the same numpy matmul
    as the registered primary (reassociation vs the oracle's
    list_cosine_similarity — the ``knn_pandas_cosine`` stance, verified
    on the fixed testdata at all SFs); thresholds are shared literals.

    Scale: one applyInPandas per cell (score matrix never leaves the
    executor), a 7-row broadcast threshold join, and a ≤7-group agg."""
    import numpy as np
    import pandas as pd

    assigned = _assigned_cells(spark, sf_dir)

    def maxcos(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        if len(pdf) <= 1:
            m = np.full(len(pdf), -1.0)
        else:
            En = np.linalg.norm(E, axis=1)
            S = (E @ E.T) / np.outer(En, En)
            low = np.tril(S, k=-1)
            low[np.triu_indices(len(pdf))] = -1.0
            m = low.max(axis=1)
            m[0] = -1.0  # no lower cellmate for the first vector
        return pd.DataFrame({"vec_id": pdf["vec_id"], "max_cos": m})

    mc = assigned.groupBy("cell").applyInPandas(
        maxcos, "vec_id long, max_cos double"
    )
    eps_df = local_frame(spark, [(float(e),) for e in SEMDEDUP_SWEEP], "eps double")
    # r16 (guide §1.2): n_total was an eager count() that re-ran the
    # full Arrow cell-assignment pass before the sweep job could start
    # (the assignment is unstaged — one pass per consumer). The
    # assignment and the max-cos pass both emit exactly one row per
    # vector, so n_total IS the embedding-table count — a broadcast
    # 1-row aggregate the scan answers from parquet metadata, zero
    # Python passes
    tot = load(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    return (
        mc.crossJoin(F.broadcast(eps_df))
        .groupBy("eps")
        .agg(
            F.sum((F.col("max_cos") >= F.col("eps")).cast("long")).alias(
                "n_semdup"
            )
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "eps",
            "n_total",
            "n_semdup",
            (F.col("n_total") - F.col("n_semdup"))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("eps")
    )


def semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SemDeDup — the arriving-batch screen that closes the
    embedding-side dedup loop the way :func:`ann_ivf_append_probe`
    closed the ANN loop (r13 verdict task 6): the standing corpus (even
    vec_ids — already released, its survivors are settled and NEVER
    re-flagged) sits in the cell-partitioned store under the FROZEN
    coarse quantizer; an arriving batch (odd vec_ids) is frozen-assigned
    map-side and screened per cell against (a) the standing cellmates
    and (b) its own lower-vec_id batchmates. Survivor priority is
    (generation, vec_id): standing always outranks arriving — the
    production semantics (new docs dedup against the release, never vice
    versa), so the screen equals a full-corpus SemDeDup under that
    priority restricted to arriving docs, by construction. The flag is
    split by source — ``dup_vs_standing`` (redundant with the release)
    vs ``dup_vs_batch`` (redundant within the batch) — the attrition
    audit an incremental ingest publishes.

    Scale shape (the whole point): ONLY the arriving batch is scored —
    one map-only Arrow assignment pass (:func:`_assign_frozen`, k×d
    closure matrix) — and the standing store is read PARTITION-PRUNED to
    the ≤k cells the batch actually touched (`cell IN (...)` over the
    hive ``cell=`` layout; untouched standing partitions contribute
    zero I/O, the append-probe economy). The per-cell screen is one
    dgemm via ``applyInPandas`` (the :func:`semantic_dedup` kernel with
    a generation column; the m×m score matrix never leaves the
    executor). Driver traffic: k×d centroids + the ≤k touched-cell list.

    numpy matmul reassociates float adds vs the oracle's sequential
    fold; parity of the thresholded booleans is verified against the
    duckdb oracle on the fixed testdata (the ``knn_pandas_cosine``
    stance, same as the registered SemDeDup primary)."""
    import uuid as _uuid

    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") % 2 == 0)
    arriving = emb.filter(F.col("vec_id") % 2 == 1)
    frozen_rows = _centroids(standing).orderBy("label").collect()

    path = os.path.join(
        _session_root(spark), f"semdedup_inc_{_uuid.uuid4().hex[:12]}"
    )
    _assign_frozen(standing, frozen_rows, with_embedding=True).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    arr = stage(_assign_frozen(arriving, frozen_rows, with_embedding=True))
    touched = sorted(
        int(r["cell"]) for r in arr.select("cell").distinct().collect()
    )  # bounded ≤ k
    stand_sub = spark.read.parquet(path).filter(
        F.col("cell").isin(touched)  # partition pruning: arriving cells only
    )
    union = stand_sub.select(
        "vec_id", "cell", "embedding", F.lit(0).alias("gen")
    ).unionByName(
        arr.select("vec_id", "cell", "embedding", F.lit(1).alias("gen"))
    )

    def screen(pdf: pd.DataFrame) -> pd.DataFrame:
        # (gen, vec_id) sort = survivor priority: standing first, then
        # batch arrival order; tril then reads "every higher-priority
        # cellmate" for each row
        pdf = pdf.sort_values(["gen", "vec_id"]).reset_index(drop=True)
        n = len(pdf)
        gen = pdf["gen"].to_numpy()
        if n <= 1:
            vs_st = np.zeros(n, dtype=bool)
            vs_ar = np.zeros(n, dtype=bool)
        else:
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            En = np.linalg.norm(E, axis=1)
            hit = (E @ E.T) / np.outer(En, En) >= SEMDEDUP_THRESHOLD
            low = np.tril(hit, k=-1)
            standing_col = (gen == 0)[None, :]
            vs_st = (low & standing_col).any(axis=1)
            vs_ar = (low & ~standing_col).any(axis=1)
        out = pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cell": pdf["cell"],
                "dup_vs_standing": vs_st,
                "dup_vs_batch": vs_ar,
            }
        )
        return out[gen == 1]  # arriving rows only; standing never re-flagged

    flags = union.groupBy("cell").applyInPandas(
        screen,
        "vec_id long, cell int, dup_vs_standing boolean, dup_vs_batch boolean",
    )
    return flags.select(
        "vec_id",
        "cell",
        "dup_vs_standing",
        "dup_vs_batch",
        (F.col("dup_vs_standing") | F.col("dup_vs_batch")).alias("is_semdup"),
    )


N_PROBE = 2  # cells probed per query (defined before its first consumer)


# --- cell-partitioned IVF store (probe = partition pruning) ------------------


def _ivf_store(spark: SparkSession, sf_dir: str) -> str:
    """Path of the corpus materialized partitioned by its IVF cell (hive
    layout under the session staging root), memoized per (session,
    sf_dir) — the write a real vector store amortizes over every
    subsequent probe."""
    key = ("ivf_store", sf_dir)
    inputs = [table_path(sf_dir, "embeddings")]

    def build() -> str:
        # named from the key and the input fingerprint, so a rebuild after
        # the embeddings changed never overwrites files an earlier plan
        # still scans; stable digest, NOT str hash (PYTHONHASHSEED-salted)
        digest = hashlib.md5(
            repr((key, fingerprint(spark, inputs))).encode()
        ).hexdigest()[:12]
        path = os.path.join(_session_root(spark), f"ivf_store_{digest}")
        _assigned_cells(spark, sf_dir).write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(path)
        return path

    return memo(spark, key, inputs, build)


def ann_ivf_partitioned_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`ann_ivf_cosine` semantics against a CELL-PARTITIONED store —
    the claim "at 100 TB the corpus is stored partitioned by cell, so
    probes become partition pruning" made executable. The corpus is
    written once with hive ``cell=`` partitioning (:func:`_ivf_store`);
    each probe then reads ONLY the matching cell directories
    (PartitionFilters — plan-tested), joins the bounded probe batch by
    cell broadcast, and exact-re-ranks with the sequential-fold cosine.
    Results are identical to the map-only Arrow formulation: both share
    one oracle. At 100 TB this is the lowest-I/O probe shape — the scan
    touches |probed cells| / k of the corpus bytes before any compute."""
    emb = load(spark, sf_dir, "embeddings")
    cent_rows = _centroids(emb).orderBy("label").collect()
    store = spark.read.parquet(_ivf_store(spark, sf_dir))
    return _probe_store(spark, emb, store, cent_rows)


def _probe_batch(
    spark: SparkSession,
    emb: DataFrame,
    cent_rows: list,
    n_probe: int = N_PROBE,
) -> tuple:
    """Driver-side probe-cell selection (bounded: |queries| × k):
    returns (probes DataFrame (query_id, cell, q), sorted probed-cell
    list) — the selection half of :func:`_probe_store`, exposed so the
    snapshot-store probe can plan its manifest-pruned scan from the
    probed cells BEFORE touching any data file."""
    q_ids, Q, Qn = _query_batch(emb)
    by_cell = _probe_cells(_quantizer(cent_rows), Q, Qn, n_probe)
    probes = local_frame(
        spark,
        [
            (int(q_ids[qi]), c, [float(x) for x in Q[qi]])
            for c, pairs in by_cell.items()
            for qi, _ in pairs
        ],
        "query_id long, cell int, q array<double>",
    )
    return probes, sorted(by_cell)


def _probe_store(
    spark: SparkSession,
    emb: DataFrame,
    store: DataFrame,
    cent_rows: list,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """The probe half of :func:`ann_ivf_partitioned_probe` over ANY
    cell-tagged store relation and ANY centroid artifact — driver-side
    probe-cell selection (bounded: |queries| × k), cell-pruned scan,
    broadcast probe join, exact sequential-fold cosine re-rank. Shared
    by the full-index probe and the append-path probe."""
    probes, probed = _probe_batch(spark, emb, cent_rows, n_probe)
    pruned = store.filter(F.col("cell").isin(probed))
    return _score_probes(pruned, probes)


def _score_probes(pruned: DataFrame, probes: DataFrame) -> DataFrame:
    """The scoring half of :func:`_probe_store`: broadcast probe join
    over an already cell-pruned store relation, exact sequential-fold
    cosine, per-query top-``TOP_K`` window."""
    scored = (
        pruned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q"), F.col("embedding"))
                / (_norm(F.col("q")) * _norm(F.col("embedding")))
            ).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 8).alias("cosine_sim"),
            "rank",
        )
    )


# --- IVF ANN (coarse-quantize → probe → exact re-rank) -----------------------


def _centroids(emb: DataFrame) -> DataFrame:
    """Per-label mean embedding (the IVF coarse quantizer). Decimal mean →
    partition-order independent, bit-equal to the duckdb oracle.

    Shape note: posexplode + groupBy(label, pos) shuffles (label, pos, v)
    triples with map-side partial aggregation — the same budget as one
    column-stats pass over the corpus. (A 64-wide decimal-sum groupBy was
    measured 2× slower here: 65 decimal agg buffers fall out of efficient
    codegen; the narrow-triple explode wins.)"""
    comp = emb.select(
        "vec_id", "label", F.posexplode(_as_double("embedding")).alias("pos", "v")
    )
    return (
        comp.groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
                / F.count("v")
            ).alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.expr("transform(pc, x -> x.c)").alias("centroid"))
    )


def _centroids_frozen_full(emb: DataFrame) -> tuple:
    """(frozen_rows, full_rows) — the standing-half (even ``vec_id``)
    and whole-corpus centroid tables from ONE corpus pass (r17, guide
    §1.2: the incremental-assign/append entries each ran
    ``_centroids(standing)`` AND ``_centroids(emb)`` — two posexplode
    aggregations over the same corpus). The fused agg carries the even
    rows' decimal sum and count alongside the full ones; decimal
    addition is exact and commutative, so ``sum(when(even, v))`` over
    all rows equals ``sum(v)`` over the even subset bit-for-bit, and
    the cast/divide reproduce :func:`_centroids`'s doubles identically
    (test-pinned). Labels with no even member are absent from the
    frozen table, exactly as ``_centroids(standing)`` omits them.
    Rows are plain dicts {label, centroid}, label-ascending — the same
    access pattern the collected Row lists provided."""
    even = (F.col("vec_id") % 2 == 0).alias("ev")
    comp = emb.select(
        "label", even, F.posexplode(_as_double("embedding")).alias("pos", "v")
    )
    per = (
        comp.groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
                / F.count("v")
            ).alias("c_full"),
            (
                F.sum(
                    F.when(F.col("ev"), F.col("v")).cast("decimal(28,12)")
                ).cast("double")
                / F.count(F.when(F.col("ev"), F.col("v")))
            ).alias("c_frozen"),
        )
        .collect()
    )
    full: dict = {}
    frozen: dict = {}
    for r in per:
        lab, pos = int(r["label"]), int(r["pos"])
        full.setdefault(lab, {})[pos] = r["c_full"]
        if r["c_frozen"] is not None:
            frozen.setdefault(lab, {})[pos] = r["c_frozen"]

    def rows(d: dict) -> list:
        return [
            {
                "label": lab,
                "centroid": [d[lab][p] for p in sorted(d[lab])],
            }
            for lab in sorted(d)
        ]

    return rows(frozen), rows(full)


def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN at the default ``N_PROBE`` — see :func:`_ivf_topk`
    for the plan narrative; :func:`ann_ivf_recall_report` certifies the
    recall/cost trade-off of this operator per probe count."""
    return _ivf_topk(spark, sf_dir, N_PROBE)


def _ivf_topk(spark: SparkSession, sf_dir: str, n_probe: int) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest label-centroid
    cell, probe each query's top-``n_probe`` cells, exact cosine re-rank
    inside the probed cells only.

    Plan shape (the one you'd want at 100 TB): the coarse quantizer
    (k x dim centroids, from one map-side-combinable posexplode agg) and
    the query batch (N_QUERIES x dim) both collect to the driver -- both
    are bounded small regardless of corpus size -- probe cells are picked
    driver-side, and then the corpus makes ONE map-only Arrow pass
    (``mapInPandas``): each batch is cell-assigned with a single numpy
    matmul against the broadcast centroid matrix and scored with one dgemm
    against the probing queries of its cell. No crossJoin, no corpus-wide
    window, no staged intermediate; the only shuffle is the final
    per-query top-k over candidates (|queries| x |probed cells' members|
    rows). At real scale the corpus would additionally be *stored*
    partitioned by cell so probes read only matching partitions.

    Numpy matmul reassociates float adds vs the oracle's sequential fold;
    parity verified against the duckdb oracle on the fixed testdata after
    round-8 (same stance as ``knn_pandas_cosine``), with identical
    deterministic tie-breaks (cell asc, neighbor_id asc)."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    # coarse quantizer (k x dim) and query batch: tiny, ride the closure
    quant = _quantizer(_centroids(emb).orderBy("label").collect())
    q_ids, Q, Qn = _query_batch(emb)
    # per-cell probing-query matrices for the executor-side dgemm
    cell_mats = {}
    for c, pairs in _probe_cells(quant, Q, Qn, n_probe).items():
        idx = np.array([qi for qi, _ in pairs], dtype=np.int64)
        cell_mats[c] = (q_ids[idx], Q[idx], Qn[idx])

    def score(batches):
        for pdf in batches:
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            acell, En = _nearest_cells(E, quant)
            for c, mats in cell_mats.items():
                sel = acell == c
                if not sel.any():
                    continue
                pq_ids, PQ, PQn = mats
                S = (E[sel] @ PQ.T) / (En[sel][:, None] * PQn[None, :])
                b, k = S.shape
                yield pd.DataFrame(
                    {
                        "query_id": np.tile(pq_ids, b),
                        "neighbor_id": np.repeat(ids[sel], k),
                        "cos_raw": S.ravel(),
                    }
                )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, neighbor_id long, cos_raw double"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 8).alias("cosine_sim"),
            "rank",
        )
    )


# --- IVF cell-occupancy report (store-balance diagnostic) --------------------
def ann_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell occupancy of the IVF store — the balance diagnostic a
    vector store runs after (re)clustering: a hot cell means every probe
    that touches it scans disproportionate bytes (the partition-skew
    failure mode of the partitioned-probe layout), and an empty cell is
    wasted quantizer capacity. Reuses the one map-only Arrow assignment
    pass (:func:`_assigned_cells`); the stats are a cell-keyed count agg
    plus a broadcast 1-row total — output is ≤ k rows. load_factor =
    n/avg(n) > ~4 is the standard re-train trigger (quantizer no longer
    fits the data distribution)."""
    assigned = _assigned_cells(spark, sf_dir).select("cell")
    counts = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    tot = counts.agg(
        F.sum("n_vectors").alias("total"),
        F.count(F.lit(1)).alias("k"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vectors",
        F.round(F.col("n_vectors").cast("double") / F.col("total"), 6).alias(
            "frac"
        ),
        F.round(
            F.col("n_vectors").cast("double") / (F.col("total") / F.col("k")),
            6,
        ).alias("load_factor"),
    )


# --- IVF recall certification (accuracy/cost trade-off as an artifact) ------
RECALL_PROBES = (1, 2, 4)


def ann_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@``TOP_K`` of the IVF probe versus exact brute force, per
    probe count — the accuracy/cost trade-off of the ANN family as a
    GATED artifact rather than a pytest-only tripwire: recall = |IVF
    top-k ∩ exact top-k| / |exact top-k|, for n_probe ∈ {1, 2, 4}. (The
    cell-partitioned store probe returns byte-identical top-k to the
    map-only formulation — one oracle already certifies that — so this
    report covers both storage stories.)

    Shape: the exact top-k (|queries|·k pairs — bounded by the query
    batch, independent of corpus size) is staged once and equi-joined
    against the union of per-probe IVF top-k sets; one groupBy(n_probe)
    counts hits. The only corpus-sized work is the probe passes
    themselves; everything downstream of the top-k windows is
    query-batch-sized. At 100 TB this is the recurring QA job a vector
    store runs after each re-clustering."""
    bf = stage(
        knn_bruteforce_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    )
    cand = None
    for p in RECALL_PROBES:
        part = _ivf_topk(spark, sf_dir, p).select(
            F.lit(p).alias("n_probe"), "query_id", "neighbor_id"
        )
        cand = part if cand is None else cand.unionByName(part)
    return _recall_tail(cand, bf)


def _recall_tail(cand: DataFrame, bf: DataFrame) -> DataFrame:
    """Shared recall-report tail (r16, guide §1.2): the total-pairs
    scalar rides the report plan as a broadcast 1-row aggregate instead
    of an eager ``bf.count()`` job per entry — same integers, same
    double division (long→double casts of identical counts), one fewer
    sequential job in each of the four recall reports.

    PRECONDITION (r16-ADVICE): ``bf`` must be a STAGED (or otherwise
    materialized) relation — it is embedded TWICE in this one plan (the
    hits join and the broadcast total aggregate), so an unstaged caller
    would recompute the full brute-force KNN twice inside the same job.
    Every current caller passes ``stage(knn_bruteforce_cosine(...))``;
    keep it that way."""
    hits = (
        cand.join(bf, ["query_id", "neighbor_id"])
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    tot = bf.agg(F.count(F.lit(1)).cast("long").alias("total_pairs"))
    return hits.crossJoin(F.broadcast(tot)).select(
        "n_probe",
        F.lit(TOP_K).cast("int").alias("top_k"),
        "hits",
        "total_pairs",
        F.round(
            F.col("hits").cast("double")
            / F.col("total_pairs").cast("double"),
            6,
        ).alias("recall"),
    )


def ann_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall/probe TUNING CURVE from ONE corpus pass — the sweep
    companion of :func:`ann_ivf_recall_report` (the
    `semantic_dedup_threshold_sweep` precedent applied to the ANN
    family): instead of re-running the IVF probe once per candidate
    ``n_probe`` (|RECALL_PROBES| corpus passes + 1 brute-force pass),
    each query is assigned its top-``max(RECALL_PROBES)`` cells WITH
    the probe rank attached, the corpus is scored in a single map-only
    Arrow pass emitting (query, neighbor, cos, probe_rank), and the
    candidate set at any probe count p is just ``probe_rank ≤ p`` — a
    filter over the staged, query-batch-bounded candidate relation.
    recall@p for every operating point then costs 2 corpus passes total
    (the sweep + the exact ground truth) instead of 1 + |probes|.

    Sweep == per-probe agreement is test-pinned (byte-equal rows to
    `ann_ivf_recall_report`, whose oracle this entry shares verbatim:
    the candidate set of a top-p probe IS the rank-≤-p prefix of the
    top-max(P) probe by construction — same lexsort tie-breaks).

    Scale shape: identical to :func:`_ivf_topk` — bounded driver
    collects (k×d centroids, |queries|×d batch), one mapInPandas dgemm
    pass over the corpus, per-query top-k windows over candidate rows
    only — with the corpus-pass count now independent of how many
    operating points the tuning curve reads."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    quant = _quantizer(_centroids(emb).orderBy("label").collect())
    q_ids, Q, Qn = _query_batch(emb)
    cell_mats = {}
    for c, pairs in _probe_cells(quant, Q, Qn, max(RECALL_PROBES)).items():
        idx = np.array([qi for qi, _ in pairs], dtype=np.int64)
        rks = np.array([rk for _, rk in pairs], dtype=np.int64)
        cell_mats[c] = (q_ids[idx], Q[idx], Qn[idx], rks)

    def score(batches):
        for pdf in batches:
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            acell, En = _nearest_cells(E, quant)
            for c, mats in cell_mats.items():
                sel = acell == c
                if not sel.any():
                    continue
                pq_ids, PQ, PQn, rks = mats
                S = (E[sel] @ PQ.T) / (En[sel][:, None] * PQn[None, :])
                b, k = S.shape
                yield pd.DataFrame(
                    {
                        "query_id": np.tile(pq_ids, b),
                        "neighbor_id": np.repeat(ids[sel], k),
                        "cos_raw": S.ravel(),
                        "probe_rank": np.tile(rks, b),
                    }
                )

    scored = stage(
        emb.select("vec_id", "embedding")
        .mapInPandas(
            score,
            "query_id long, neighbor_id long, cos_raw double,"
            " probe_rank int",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    cand = None
    for p in RECALL_PROBES:
        part = (
            scored.filter(F.col("probe_rank") <= p)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select(
                F.lit(p).alias("n_probe"), "query_id", "neighbor_id"
            )
        )
        cand = part if cand is None else cand.unionByName(part)
    bf = stage(
        knn_bruteforce_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    )
    return _recall_tail(cand, bf)


# --- IVF-PQ: product-quantized ADC search over the probed cells --------------
PQ_M = 8  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_REFINE = 10 * TOP_K  # ADC shortlist size fed to the exact re-rank

# the contiguous split as slices: E[:, slice] is a strided VIEW, while the
# default index arrays of _pq_books GATHER a copy in another memory order,
# and numpy sums and multiplies the two layouts in different float orders.
# Each entry keeps the layout its oracle parity was certified with.
_PQ_SLICES = [slice(m * PQ_SUB, (m + 1) * PQ_SUB) for m in range(PQ_M)]


def _pq_books(C, subidx=None, codebooks=None) -> tuple:
    """``(split, cb)``: the PQ subspace split — ``subidx``, else the
    contiguous split as index arrays — and the per-subspace codebooks —
    ``codebooks``, else the centroid matrix ``C`` cut by that split."""
    import numpy as np

    if subidx is None:
        subidx = [
            np.arange(m * PQ_SUB, (m + 1) * PQ_SUB) for m in range(PQ_M)
        ]
    if codebooks is None:
        cb = [C[:, subidx[m]].copy() for m in range(PQ_M)]
    else:
        cb = [np.asarray(c, dtype=np.float64) for c in codebooks]
    return subidx, cb


def _pq_codes(E, split: list, cb: list) -> tuple:
    """``(codes, rn2)`` per row of ``E``: per subspace the argmin of
    ‖x − c‖² expanded as x·x − 2x·c + c·c (the oracle's expansion;
    numpy's argmin takes the FIRST min, so a distance tie goes to the
    lower code, the oracle's (dist ASC, code ASC); a duplicate codeword
    reads its first copy's distances, see :func:`_first_copy`), and the
    reconstruction's squared norm summed over subspaces m-ascending."""
    import numpy as np

    codes = np.empty((len(E), PQ_M), dtype=np.int32)
    rn2 = np.zeros(len(E))
    for m in range(PQ_M):
        Em = E[:, split[m]]
        cn2 = (cb[m] * cb[m]).sum(axis=1)
        D = (Em * Em).sum(axis=1)[:, None] - 2.0 * (Em @ cb[m].T)
        D = (D + cn2[None, :])[:, _first_copy(cb[m])]
        cm = np.argmin(D, axis=1)
        codes[:, m] = cm
        rn2 = rn2 + cn2[cm]
    return codes, rn2


def _pq_topk(
    spark: SparkSession,
    sf_dir: str,
    n_probe: int,
    subidx: "list | None" = None,
    rot: "object | None" = None,
    codebooks: "list | None" = None,
    _cent_rows: "list | None" = None,
    _enc: "DataFrame | None" = None,
) -> DataFrame:
    """IVF-PQ (Jégou, Douze, Schmid 2011, "Product Quantization for
    Nearest Neighbor Search"): the 100 TB vector-store answer when even
    fp32 vectors don't fit — each corpus vector is stored as ``PQ_M``
    byte-sized codes (here 8 codes for a 64-dim vector: 64× smaller than
    fp64, 8 B/vector), and queries scan codes with asymmetric distance
    computation (ADC): per subspace a k-entry lookup table of
    query-to-codeword dot products, so scoring a candidate is ``PQ_M``
    table lookups instead of a d-dim dot product.

    ADC alone is a PRUNER, not a ranker: with 64× compression the code
    distances are too coarse for a final top-k (measured recall ~0.16 on
    the testdata). So, exactly like FAISS's ``IndexRefineFlat``, the ADC
    scan keeps a ``PQ_REFINE`` (= 10·k) shortlist per query and the final
    top-k is an EXACT cosine re-rank of just those candidates — full
    vectors are touched for |queries|·PQ_REFINE rows only, a constant
    regardless of corpus size (measured recall 0.58 at n_probe=4, i.e.
    within 0.08 of the uncompressed IVF ceiling on this data).

    Two documented simplifications, both FAISS-sanctioned shapes:
    (a) codes quantize the RAW vectors, not coarse residuals — FAISS
    ``IndexIVFPQ.by_residual=false``; (b) the per-subspace codebooks are
    the coarse centroids' subvectors (one-shot, SQL-replicable) instead
    of per-subspace Lloyd training — measured +0.14 shortlist recall from
    trained codebooks on this data, not worth giving up the full-value
    oracle: keeping the codebook a deterministic artifact of the
    decimal-mean centroids is what lets the DuckDB oracle reproduce the
    ENTIRE encode→ADC→shortlist→re-rank pipeline full-value, not
    rows-only.

    Plan shape: centroids, codebooks, ADC tables and the query batch
    are all bounded driver artifacts riding the UDF closures; the corpus
    is encoded by :func:`_pq_encode` (cell-assign + PQ-encode, one
    map-only Arrow pass) and the ADC scan scores the code store per
    probing query; the shuffles are the per-query shortlist
    top-PQ_REFINE and the final top-k over the (bounded, broadcast)
    refined candidates. Encode ties take the lowest code id (numpy
    argmin = first min) matching the oracle's (dist ASC, code ASC);
    candidates sharing all codes reconstruct identically, so ADC ties
    are exact on both engines and break on neighbor_id ASC; the exact
    re-rank reuses the parity-proven ``_dot``/``_norm`` fold devices.
    numpy reassociates float adds vs the oracle's folds (the
    ``knn_pandas_cosine`` stance); parity verified on the fixed testdata
    at all three SFs.

    ``subidx`` (optional): per-subspace dimension-index arrays replacing
    the contiguous split — the OPQ hook (:func:`ann_ivf_opq_cosine`):
    the subspace split becomes an arbitrary permutation of dimensions,
    everything downstream (encode, ADC, refine) is permutation-agnostic.
    Default None keeps the contiguous split (:func:`_pq_books`).

    ``rot`` (optional): a d×d orthonormal rotation applied to centroids,
    queries, and each corpus batch before the contiguous split — the
    full OPQ hook (:func:`ann_ivf_opq_rot_cosine`), FAISS's
    ``IndexPreTransform(OPQMatrix, IndexIVFPQ)`` shape. Rotation
    preserves norms and dot products, so cell assignment and the exact
    refine are unchanged up to fp reassociation; only the subspace
    coordinate system (and hence quantization error) moves. A ~64-float²
    matmul per Arrow batch — zero extra exchanges.

    ``codebooks`` (optional): per-subspace codeword matrices replacing
    the rotated-coarse-centroid-slice default — the OPQ-NP hook
    (:func:`ann_ivf_opq_np_cosine`): trained sub-codebooks are free
    parameters living in the rotated space.

    ``_enc`` (optional): the code store — (vec_id, cell, codes, rn2)
    from :func:`_pq_encode` under the SAME (rot, subidx, codebooks). The
    encode does not depend on the probe count, so the recall reports
    stage it once and sweep probe counts against the 8-byte-code table
    (the production vector-store shape; :func:`embedding_pq_codes` is
    that artifact). Without it the scan reads an unstaged
    :func:`_pq_encode` built from this call's hooks. Either way there is
    one ADC scan: same codes, same float lookup-table sums in the same
    order; doubles roundtrip Arrow and parquet exactly."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    # _cent_rows: callers that already collected the bounded centroid
    # table (the OPQ entries probe twice per report) pass it in instead
    # of re-running the corpus centroid pass
    cent_rows = (
        _cent_rows
        if _cent_rows is not None
        else _centroids(emb).orderBy("label").collect()
    )
    quant = _quantizer(cent_rows, rot)
    split, cb = _pq_books(quant[1], subidx, codebooks)
    q_ids, Q, Qn = _query_batch(emb, rot)
    probes_by_cell = {
        c: np.array([qi for qi, _ in pairs], dtype=np.int64)
        for c, pairs in _probe_cells(quant, Q, Qn, n_probe).items()
    }
    # ADC lookup tables: T[m][qi, code] = dot(q_sub_m, codeword)
    T = [Q[:, split[m]] @ cb[m].T for m in range(PQ_M)]
    if _enc is None:
        _enc = _pq_encode(
            spark, sf_dir, subidx, rot, codebooks, _cent_rows=cent_rows
        )

    def score(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            acell = pdf["cell"].to_numpy(dtype=np.int64)
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            # |reconstruction| from code norms alone
            rnorm = np.sqrt(pdf["rn2"].to_numpy(dtype=np.float64))
            for c, qi in probes_by_cell.items():
                sel = acell == c
                if not sel.any():
                    continue
                b = int(sel.sum())
                S = np.zeros((len(qi), b))
                for m in range(PQ_M):
                    S = S + T[m][np.ix_(qi, codes[sel, m])]
                S = S / (Qn[qi][:, None] * rnorm[sel][None, :])
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(q_ids[qi], b),
                        "neighbor_id": np.tile(ids[sel], len(qi)),
                        "adc_raw": S.ravel(),
                    }
                )

    scored = _enc.mapInPandas(
        score, "query_id long, neighbor_id long, adc_raw double"
    )
    scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc_raw"), F.asc("neighbor_id")
    )
    shortlist = (
        scored.withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= PQ_REFINE)
        .select("query_id", "neighbor_id", "adc_raw")
    )
    # exact re-rank: the shortlist (≤ |queries|·PQ_REFINE rows — bounded)
    # broadcasts against the corpus for its full vectors; query vectors
    # ride a 5-row broadcast. Full-precision math via the parity-proven
    # fold devices, NOT numpy — the oracle folds the same way.
    queries_df = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            _as_double("embedding").alias("q"),
        )
        .withColumn("nq", _norm(F.col("q")))
    )
    cand_vecs = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double("embedding").alias("e"),
    ).withColumn("ne", _norm(F.col("e")))
    refined = (
        cand_vecs.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(queries_df), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_raw",
            (_dot(F.col("q"), F.col("e")) / (F.col("nq") * F.col("ne"))).alias(
                "cos_raw"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc_raw", 8).alias("adc_cos"),
            F.round("cos_raw", 8).alias("cosine_sim"),
            "rank",
        )
    )


def _pq_encode(
    spark: SparkSession,
    sf_dir: str,
    subidx: "list | None" = None,
    rot: "object | None" = None,
    codebooks: "list | None" = None,
    _cent_rows: "list | None" = None,
) -> DataFrame:
    """The probe-count-INDEPENDENT half of :func:`_pq_topk`: one map-only
    Arrow pass producing the PQ store — (vec_id, cell, codes,
    ‖reconstruction‖²) — under the (rot, subidx, codebooks) hooks. The
    recall reports stage it once and sweep probe counts against the
    8-byte-code table; a single probe reads it unstaged."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    cent_rows = (
        _cent_rows
        if _cent_rows is not None
        else _centroids(emb).orderBy("label").collect()
    )
    quant = _quantizer(cent_rows, rot)
    split, cb = _pq_books(quant[1], subidx, codebooks)

    def encode(batches):
        for pdf in batches:
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if rot is not None:
                E = E @ rot
            acell, _ = _nearest_cells(E, quant)
            codes, rn2 = _pq_codes(E, split, cb)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell": acell,
                    "codes": list(codes),
                    "rn2": rn2,
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id long, cell long, codes array<int>, rn2 double"
    )


def ann_ivf_pq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN at the default ``N_PROBE`` — see :func:`_pq_topk`;
    :func:`ann_ivf_pq_recall_report` certifies what the 64× compression
    costs in recall, next to the uncompressed IVF numbers."""
    return _pq_topk(spark, sf_dir, N_PROBE)


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ STORAGE artifact itself: per vector its IVF cell, the
    ``PQ_M`` byte codes (csv — 8 B/vector, 64× smaller than fp64), and
    the relative reconstruction error ‖x − r‖/‖x‖ — the table a vector
    store materializes once and every ADC query scans, plus the
    compression-quality column the store is accepted on (FAISS reports
    the same quantization-error metric from ``IndexPQ::train``).

    One map-only Arrow pass (codebooks ride the closure, same encode as
    :func:`_pq_topk` — argmin ties to the lowest code id); zero
    shuffles. Error via the expansion ‖x−r‖² = x·x − 2·x·r + r·r with
    x·r = Σ_m dot(x_sub, cw) and r·r = Σ_m cw·cw, clamped at 0 before
    the sqrt (the exact-reconstruction case lands at −ε in floats);
    ROUND(6) display-only — the oracle reproduces the identical
    expansion, so the artifact is full-value certified end to end."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    quant = _quantizer(_centroids(emb).orderBy("label").collect())
    _, cb = _pq_books(quant[1], _PQ_SLICES)

    def encode(batches):
        for pdf in batches:
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            acell, _ = _nearest_cells(E, quant)
            codes, rn2 = _pq_codes(E, _PQ_SLICES, cb)
            xr = np.zeros(len(ids))
            for m in range(PQ_M):
                Em = E[:, _PQ_SLICES[m]]
                xr = xr + (Em * cb[m][codes[:, m]]).sum(axis=1)
            xx = (E * E).sum(axis=1)
            err2 = xx - 2.0 * xr + rn2
            En = np.sqrt(xx)
            rel = np.sqrt(np.maximum(err2, 0.0)) / En
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cell": acell,
                    "codes_csv": [
                        ",".join(str(int(c)) for c in row) for row in codes
                    ],
                    "recon_rel_err": np.round(rel, 6),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        encode,
        "vec_id long, cell long, codes_csv string, recon_rel_err double",
    )


def ann_ivf_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@``TOP_K`` of the PQ-compressed probe versus exact brute
    force, per probe count — the same harness as
    :func:`ann_ivf_recall_report`, so the two reports side-by-side give
    the full accuracy/cost frontier: probes (IVF) × compression (PQ).
    This is the acceptance gate a production store runs before swapping
    fp32 vectors for codes."""
    bf = stage(
        knn_bruteforce_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    )
    # ONE centroid collect shared by every probe point (r16, guide §1.2:
    # the bounded k×d table was re-derived per probe count before)
    cent_rows = (
        _centroids(load(spark, sf_dir, "embeddings"))
        .orderBy("label")
        .collect()
    )
    # encode ONCE, sweep probe counts against the staged 8-byte-code
    # store (r16, guide §1.2/§8: the encode pass is p-independent; it
    # previously re-ran per probe point)
    enc = stage(_pq_encode(spark, sf_dir, _cent_rows=cent_rows))
    cand = None
    for p in RECALL_PROBES:
        part = _pq_topk(
            spark, sf_dir, p, _cent_rows=cent_rows, _enc=enc
        ).select(F.lit(p).alias("n_probe"), "query_id", "neighbor_id")
        cand = part if cand is None else cand.unionByName(part)
    return _recall_tail(cand, bf)


# --- SQ8: trained per-dimension scalar quantization (FAISS QT_8bit) ----------
SQ8_LEVELS = 255  # 8-bit code range; midpoint decode bounds |x−r| ≤ span/510


def _sq8_recon(e, vmin_arr, span_arr):
    """Reconstructed vector after SQ8 encode→decode, fully in-engine:
    per dimension i, code = clamp(floor((x − vmin_i)·255/span_i), 0,
    255) (FAISS ``ScalarQuantizer QT_8bit``'s trained affine map) and
    midpoint decode r = vmin_i + (code + 0.5)·span_i/255; a degenerate
    constant dimension (span 0) reconstructs to vmin exactly. Every
    operation is a deterministic IEEE-754 double op written in the SAME
    order as the DuckDB oracle, so reconstructions are bit-identical
    across engines — no Python in the hot path at all (whole-stage
    codegen), unlike the PQ family's Arrow batches."""
    lv = float(SQ8_LEVELS)

    def one(x, i):
        lo = F.element_at(vmin_arr, i + 1)
        sp = F.element_at(span_arr, i + 1)
        code = F.when(sp == 0.0, F.lit(0.0)).otherwise(
            F.least(
                F.lit(lv),
                F.greatest(
                    F.lit(0.0),
                    F.floor((x - lo) * lv / sp).cast("double"),
                ),
            )
        )
        return lo + (code + 0.5) * sp / lv

    return F.transform(e, one)


def _sq8_ranges(emb: DataFrame):
    """Train the SQ8 quantizer: per-dimension [min, max] over the corpus
    (FAISS ``QT_8bit``'s RangeStat train pass) — one posexplode
    aggregation map-side-combined to d groups, collected as a bounded
    d-row artifact. Min/max are exact (no float accumulation), so both
    engines train the identical quantizer."""
    rows = (
        emb.select(F.posexplode(_as_double("embedding")).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .orderBy("pos")
        .collect()
    )
    vmin = [float(r["lo"]) for r in rows]
    span = [float(r["hi"]) - float(r["lo"]) for r in rows]
    return (
        F.array(*[F.lit(v) for v in vmin]),
        F.array(*[F.lit(s) for s in span]),
    )


def ann_sq8_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric SQ8 search (FAISS ``IndexScalarQuantizer``, QT_8bit):
    the corpus lives as 1-byte-per-dimension codes (8× smaller than
    fp64 — ``embedding_quantize_int8`` is the storage artifact shape;
    here encode→decode runs fused in one pass so the DuckDB oracle can
    certify the SEARCH full-value), queries stay full precision, and
    the score is cos(q, reconstruct(code)) — the middle rung of the
    compression ladder between exact flat (1×) and PQ (64×): SQ8 keeps
    per-dimension resolution, so recall@k is near-exact while scan
    bytes drop 8×.

    Plan shape: the trained ranges are a bounded d-row artifact inlined
    as literal arrays; the corpus makes ONE map-only reconstruct+score
    pass entirely in whole-stage codegen (transform/zip_with folds — no
    Python, no Arrow transfer); the only shuffle is the per-query top-k
    window. At 100 TB the scan reads the 8×-smaller code table and the
    same plan applies unchanged.

    Determinism: ranges are exact min/max; the reconstruction is the
    same IEEE op sequence on both engines (see :func:`_sq8_recon`); the
    cosine uses the parity-proven fold devices; ties break on
    neighbor_id ASC; ROUND(8) display-only."""
    emb = load(spark, sf_dir, "embeddings")
    vmin_arr, span_arr = _sq8_ranges(emb)
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            _as_double("embedding").alias("q"),
        )
        .withColumn("nq", _norm(F.col("q")))
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _sq8_recon(_as_double("embedding"), vmin_arr, span_arr).alias("r"),
    ).withColumn("nr", _norm(F.col("r")))
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("q"), F.col("r")) / (F.col("nq") * F.col("nr"))).alias(
                "cos_raw"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 8).alias("sq8_cos"),
            "rank",
        )
    )


def ann_ivf_sq8_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × SQ8 composed — FAISS's workhorse ``IVF…,SQ8`` index: cell
    pruning cuts the SCAN to |probed cells|/k of the corpus and SQ8 cuts
    the BYTES of what remains 8×; the two compressions are orthogonal
    and this entry is the proof of composition (cells assigned on
    full-precision vectors exactly like the uncompressed IVF — FAISS
    assigns before encoding — then scoring runs on reconstructions).

    Fully in-engine like the flat SQ8 path: the per-vector cell
    assignment is a k-row broadcast cross join + one rank window (the
    oracle's own assign CTE shape — no Arrow batch, no Python), probe
    cells are the bounded driver-side |queries|×k selection of
    :func:`_probe_batch`, and the probed candidates score cos(q,
    reconstruct(x)) through the fold devices. Shuffles: the rank window
    over (vec_id)-keyed n·k rows and the per-query top-k. At 100 TB the
    assignment is done ONCE at ingest (the cell-partitioned store), so
    the query-time plan is just the pruned scan + top-k."""
    emb = load(spark, sf_dir, "embeddings")
    cent_rows = _centroids(emb).orderBy("label").collect()
    vmin_arr, span_arr = _sq8_ranges(emb)
    cents = local_frame(
        spark,
        [(int(r["label"]), r["centroid"]) for r in cent_rows],
        "cell int, centroid array<double>",
    ).withColumn("nc", _norm(F.col("centroid")))
    vecs = emb.select(
        "vec_id", _as_double("embedding").alias("e")
    ).withColumn("ne", _norm(F.col("e")))
    w_cell = Window.partitionBy("vec_id").orderBy(
        F.desc("cell_cos"), F.asc("cell")
    )
    assign = (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn(
            "cell_cos",
            _dot(F.col("e"), F.col("centroid")) / (F.col("ne") * F.col("nc")),
        )
        .withColumn("cell_rank", F.row_number().over(w_cell))
        .filter(F.col("cell_rank") == 1)
        .select("vec_id", "cell", "e")
    )

    probes, _ = _probe_batch(spark, emb, cent_rows)
    probes = probes.withColumn("nq", _norm(F.col("q")))

    cand = (
        assign.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _sq8_recon(F.col("e"), vmin_arr, span_arr).alias("r"),
            "q",
            "nq",
        )
        .withColumn("nr", _norm(F.col("r")))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("q"), F.col("r")) / (F.col("nq") * F.col("nr"))).alias(
                "cos_raw"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 8).alias("sq8_cos"),
            "rank",
        )
    )


def ann_sq8_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query integer agreement of the SQ8 top-k with exact brute
    force — the acceptance gate before swapping fp vectors for 1-byte
    codes, next to the PQ report so the ladder reads flat → SQ8 (8×) →
    PQ (64×) with measured recall at each rung. Integer set-overlap
    counts only (no float compares), so the row is exact on both
    engines."""
    bf = knn_bruteforce_cosine(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    sq = ann_sq8_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        sq.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_topk"))
        .join(
            sq.join(bf, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_match")),
            "query_id",
            "left_outer",
        )
        .select(
            "query_id",
            "n_topk",
            F.coalesce("n_match", F.lit(0)).alias("n_match"),
        )
        .orderBy("query_id")
    )


# --- OPQ: variance-balanced dimension allocation ----------------------------
def _opq_perm_frame(
    spark: SparkSession, sf_dir: str, _per_dim: "DataFrame | None" = None
) -> DataFrame:
    """The OPQ ALLOCATION artifact (d rows): each dimension's variance,
    its variance rank, and its assigned (subspace, slot) under a snake
    allocation — rank 0 → subspace 0, rank PQ_M−1 → subspace PQ_M−1,
    rank PQ_M → subspace PQ_M−1 again (boustrophedon), so every subspace
    receives one dimension from each variance band and the per-subspace
    variance mass is balanced.

    This is the allocation step of Optimized Product Quantization (Ge,
    He, Ke, Sun 2013): plain PQ's contiguous split concentrates the
    high-variance dimensions in few subspaces, whose codebooks then
    carry most of the quantization error; OPQ fixes the imbalance with a
    learned rotation + eigenvalue allocation. The rotation needs an
    eigensolve (not SQL-replicable — the full-value-oracle line this
    engine does not cross, same stance as the PQ codebook choice); the
    ALLOCATION — which the OPQ paper applies to the variance spectrum —
    is exactly reproducible in SQL, so the whole permuted pipeline stays
    full-value certified. FAISS's cheap pre-transform alternative
    (``RandomRotationMatrix``) balances the same way, blindly.

    Determinism across engines: variances come from the decimal-sum
    device (per-term DECIMAL(28,12) rounding, exact accumulation, one
    final double cast — bit-identical in Spark and DuckDB, the
    ``embedding_pca_variance`` precedent), rank ties break on pos ASC,
    and the snake is pure-integer arithmetic. Scale: one posexplode
    aggregation (map-side combinable) to d groups; the d-row window is
    bounded work regardless of corpus size.

    ``_per_dim`` (r16, guide §1.2 — don't recompute what the caller
    already has): optional (pos, …, var) frame from the SAME decimal
    variance device (``ann_ivf_opq_rot_cosine`` computes one for its
    trace check); when given, the corpus posexplode pass here is
    skipped and the allocation ranks that frame's identical values."""
    if _per_dim is not None:
        per_dim = _per_dim.select("pos", F.col("var").alias("dim_var"))
    else:
        emb = load(spark, sf_dir, "embeddings")
        comp = emb.select(
            F.posexplode(_as_double("embedding")).alias("pos", "v")
        )
        mu = F.sum(
            F.col("v").cast("decimal(28,12)")
        ).cast("double") / F.count("v")
        msq = F.sum(
            (F.col("v") * F.col("v")).cast("decimal(28,12)")
        ).cast("double") / F.count("v")
        per_dim = comp.groupBy("pos").agg(
            F.greatest(msq - mu * mu, F.lit(0.0)).alias("dim_var")
        )
    w = Window.orderBy(F.desc("dim_var"), F.asc("pos"))  # d rows: bounded
    ranked = per_dim.withColumn("rk", F.row_number().over(w) - 1)
    band = F.expr(f"rk div {PQ_M}")
    off = F.pmod(F.col("rk"), F.lit(PQ_M))
    # d-row bounded output; consumers collect it once (the r15 stage()
    # here bought no reuse — its memo never existed — and cost a write)
    return ranked.select(
        "pos",
        F.round("dim_var", 10).alias("dim_var"),
        F.col("rk").cast("int").alias("var_rank"),
        F.when(F.pmod(band, F.lit(2)) == 0, off)
        .otherwise(F.lit(PQ_M - 1) - off)
        .cast("int")
        .alias("subspace"),
        band.cast("int").alias("slot"),
    )


def embedding_opq_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate entry for the OPQ allocation table — see
    :func:`_opq_perm_frame`."""
    return _opq_perm_frame(spark, sf_dir)


def _opq_subidx(
    spark: SparkSession, sf_dir: str, _per_dim: "DataFrame | None" = None
) -> list:
    """Materialize the allocation as per-subspace numpy index arrays for
    :func:`_pq_topk`'s ``subidx`` hook. Collects d rows — bounded by the
    embedding dimension, never by corpus size."""
    import numpy as np

    rows = _opq_perm_frame(spark, sf_dir, _per_dim=_per_dim).select(
        "pos", "subspace", "slot"
    ).collect()
    by_m: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by_m.setdefault(int(r["subspace"]), []).append(
            (int(r["slot"]), int(r["pos"]))
        )
    return [
        np.array([p for _, p in sorted(by_m[m])], dtype=np.int64)
        for m in range(PQ_M)
    ]


def ann_ivf_opq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the OPQ variance-balanced dimension allocation
    (:func:`_opq_perm_frame`) instead of the contiguous split — same
    encode → ADC → shortlist → exact-refine pipeline as
    :func:`ann_ivf_pq_cosine` (the refine stage means final top-k
    quality is set by shortlist recall; the allocation's effect is
    measured head-to-head in :func:`ann_ivf_opq_recall_report`)."""
    return _pq_topk(spark, sf_dir, N_PROBE, subidx=_opq_subidx(spark, sf_dir))


def ann_ivf_opq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@``TOP_K`` of the OPQ-allocated PQ probe vs exact brute
    force, per probe count — the third column of the accuracy/cost
    frontier next to :func:`ann_ivf_recall_report` (uncompressed) and
    :func:`ann_ivf_pq_recall_report` (contiguous PQ): probes ×
    compression × allocation."""
    sub = _opq_subidx(spark, sf_dir)
    bf = stage(
        knn_bruteforce_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    )
    # ONE centroid collect shared by every probe point (r16, guide §1.2)
    cent_rows = (
        _centroids(load(spark, sf_dir, "embeddings"))
        .orderBy("label")
        .collect()
    )
    # encode ONCE under the OPQ allocation, sweep probes against the
    # staged code store (r16, guide §1.2/§8)
    enc = stage(
        _pq_encode(spark, sf_dir, subidx=sub, _cent_rows=cent_rows)
    )
    cand = None
    for p in RECALL_PROBES:
        part = _pq_topk(
            spark, sf_dir, p, subidx=sub, _cent_rows=cent_rows, _enc=enc
        ).select(
            F.lit(p).alias("n_probe"), "query_id", "neighbor_id"
        )
        cand = part if cand is None else cand.unionByName(part)
    return _recall_tail(cand, bf)


# --- OPQ: true learned rotation (OPQ-P, eigenvalue allocation) ---------------
def _opq_rotation(spark: SparkSession, sf_dir: str, _mu_n=None):
    """The PARAMETRIC OPQ rotation (Ge, He, Ke, Sun 2013 §4, OPQ-P):
    eigendecompose the corpus covariance, then allocate eigen-dimensions
    to the ``PQ_M`` subspaces balancing the PRODUCT of eigenvalues per
    subspace (the paper's 'eigenvalue allocation' — under the Gaussian
    assumption quantization distortion is minimized when subspace
    variance products equalize). Returns (R, lam_alloc, logp): the d×d
    orthonormal rotation whose column blocks are the allocated
    eigenvectors, the allocated eigenvalues, and the per-subspace
    log-products.

    Scale: the distributed work is exactly the two bounded accumulations
    the engine already has — :func:`embedding_gram_matrix` (d(d+1)/2
    decimal rows) and the per-dimension means (d rows); the d×d ``eigh``
    is a driver-side numpy call at any corpus size (the
    ``embedding_pca_variance`` precedent). Allocation is a deterministic
    greedy: eigenvalues descending, each assigned to the not-full
    subspace with the smallest current log-product (index tiebreak).
    Eigenvector sign is canonicalized (largest-|component| positive) so
    the replay test is stable."""
    import numpy as np

    if _mu_n is not None:
        mu, n = _mu_n
        mu = np.asarray(mu, dtype=np.float64)
        d = len(mu)
    else:
        emb = load(spark, sf_dir, "embeddings")
        comp = emb.select(
            F.posexplode(_as_double("embedding")).alias("pos", "v")
        )
        mean = F.sum(
            F.col("v").cast("decimal(28,12)")
        ).cast("double") / F.count("v")
        per_dim = comp.groupBy("pos").agg(
            F.count("v").alias("n"), mean.alias("mean")
        )
        rows = per_dim.collect()
        d = len(rows)
        n = int(rows[0]["n"])
        mu = np.zeros(d)
        for r in rows:
            mu[int(r["pos"])] = float(r["mean"])
    G = np.zeros((d, d))
    for r in embedding_gram_matrix(spark, sf_dir).collect():
        G[int(r["i"]), int(r["j"])] = G[int(r["j"]), int(r["i"])] = float(
            r["gram"]
        )
    cov = G / n - np.outer(mu, mu)
    lam, V = np.linalg.eigh(cov)
    order = np.argsort(-lam)
    lam, V = lam[order], V[:, order]
    # canonical eigenvector signs: largest-|component| entry positive
    for j in range(d):
        i = int(np.argmax(np.abs(V[:, j])))
        if V[i, j] < 0:
            V[:, j] = -V[:, j]
    buckets: list[list[int]] = [[] for _ in range(PQ_M)]
    logp = [0.0] * PQ_M
    for i in range(d):
        m = min(
            (m for m in range(PQ_M) if len(buckets[m]) < PQ_SUB),
            key=lambda m: (logp[m], m),
        )
        buckets[m].append(i)
        logp[m] += float(np.log(max(lam[i], 1e-12)))
    perm = [i for m in range(PQ_M) for i in buckets[m]]
    return V[:, perm], lam[perm], logp


def ann_ivf_opq_rot_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ under the TRUE learned OPQ rotation (:func:`_opq_rotation`)
    — the full Ge-et-al pipeline next to the allocation-only permutation
    (:func:`ann_ivf_opq_cosine`): rotate into the covariance eigenbasis,
    allocate eigen-dimensions balancing per-subspace variance products,
    then the same encode → ADC → shortlist → exact-refine through
    :func:`_pq_topk`'s ``rot`` hook (a 64×64 matmul per Arrow batch,
    zero extra exchanges).

    The eigensolve is not SQL-replicable, so — exactly the
    ``kmeans_ivf_train`` / ``embedding_pca_variance`` gating stance —
    the gate row carries what SQL CAN certify plus in-engine invariant
    booleans, and the full result is replayed against plain numpy in
    tests: ``trace_var`` is the decimal-exact total variance (the real
    cross-check: a wrong gram/mean assembly breaks it), the rotation is
    checked orthonormal (‖RᵀR − I‖∞ < 1e-9), the allocated eigenvalues
    must conserve the trace, the top-k result must be complete
    (N_QUERIES·TOP_K rows), and recall@k at ``N_PROBE`` must be ≥ the
    allocation-only permutation's — the paper's claim, measured live
    (0.62 vs 0.60 at n_probe=4 on the sf0.01 testdata)."""
    import numpy as np

    # ONE per-dimension pass serves the trace cross-check AND the
    # rotation's mean vector (r11 self-review: the entry previously ran
    # this posexplode aggregation twice and _pq_topk twice)
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(F.posexplode(_as_double("embedding")).alias("pos", "v"))
    mean = F.sum(F.col("v").cast("decimal(28,12)")).cast("double") / F.count(
        "v"
    )
    mean_sq = F.sum(
        (F.col("v") * F.col("v")).cast("decimal(28,12)")
    ).cast("double") / F.count("v")
    per_dim = stage(  # d rows, consumed twice (mu collect + trace agg)
        comp.groupBy("pos").agg(
            F.count("v").alias("n"),
            mean.alias("mean"),
            F.greatest(mean_sq - mean * mean, F.lit(0.0)).alias("var"),
        )
    )
    rows = per_dim.collect()
    d = len(rows)
    n = int(rows[0]["n"])
    mu = np.zeros(d)
    for r in rows:
        mu[int(r["pos"])] = float(r["mean"])

    R, lam_alloc, _ = _opq_rotation(spark, sf_dir, _mu_n=(mu, n))
    rot_ok = bool(np.abs(R.T @ R - np.eye(d)).max() < 1e-9)

    # the decimal-exact trace the oracle reproduces: same agg, same pass
    trow = per_dim.agg(
        F.round(
            F.sum(F.col("var").cast("decimal(28,12)")).cast("double"), 6
        ).alias("trace_var"),
    ).collect()[0]
    # gram entries round at 6 dp → assembled eigen-sum can drift ~d·5e-7
    alloc_trace_ok = bool(
        abs(float(lam_alloc.sum()) - float(trow["trace_var"])) < 1e-3
    )

    bf = stage(
        knn_bruteforce_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    )
    # ONE centroid collect serves both probes (r16, guide §1.2)
    cent_rows = _centroids(emb).orderBy("label").collect()
    # staged: consumed twice (completeness count + recall hits)
    rot_topk = stage(
        _pq_topk(spark, sf_dir, N_PROBE, rot=R, _cent_rows=cent_rows)
    )
    alloc_topk = _pq_topk(
        spark,
        sf_dir,
        N_PROBE,
        # reuse this entry's own staged per-dim variance frame for
        # the allocation (identical values; skips a corpus pass)
        subidx=_opq_subidx(spark, sf_dir, _per_dim=per_dim),
        _cent_rows=cent_rows,
    )

    # r16 (guide §1.2): four sequential count() jobs → one union of four
    # 1-row aggregates, collected once (identical counts, same frames)
    def _cnt(df, tag):
        return df.agg(F.count(F.lit(1)).alias("v")).select(
            F.lit(tag).alias("k"), "v"
        )

    on = ["query_id", "neighbor_id"]
    counts = {
        r["k"]: int(r["v"])
        for r in _cnt(bf, "total")
        .unionByName(_cnt(rot_topk, "n_rows"))
        .unionByName(_cnt(rot_topk.join(bf, on), "hits_rot"))
        .unionByName(_cnt(alloc_topk.join(bf, on), "hits_alloc"))
        .collect()
    }
    total, n_rows = counts["total"], counts["n_rows"]
    hits_rot, hits_alloc = counts["hits_rot"], counts["hits_alloc"]
    return local_frame(
        spark,
        [
            (
                d,
                n,
                float(trow["trace_var"]),
                rot_ok,
                alloc_trace_ok,
                bool(n_rows == total),
                bool(hits_rot >= hits_alloc),
            )
        ],
        "dim int, n_vectors long, trace_var double,"
        " rot_orthonormal_ok boolean, alloc_trace_ok boolean,"
        " topk_complete_ok boolean, recall_ge_alloc_ok boolean",
    )


# --- OPQ-NP: non-parametric alternating optimization (Ge et al. §3) ---------
OPQ_NP_ROUNDS = 2


def _opq_np_train(
    spark: SparkSession, sf_dir: str, R0=None, _cent_rows=None, _sq=None
):
    """OPQ non-parametric training (Ge, He, Ke, Sun 2013 §3): block
    coordinate descent on min ‖X·R − Y(codes)‖²_F over (codes,
    sub-codebooks, R), warm-started from the OPQ-P rotation (the
    paper's own recommendation). Per round:

    1. **codes** ← per-subspace L2 argmin under (R, cb) — map-only
       Arrow pass;
    2. **codebooks** ← per-(subspace, code) MEAN of assigned rotated
       subvectors. Because x' = x·R, the group mean of SUBVECTORS is
       (group-Σ of ORIGINAL x)·R[:, block] / n — so the distributed
       aggregation is one groupBy(m, code, pos) DECIMAL sum of
       original components (M·K·d ≤ 5120 bounded rows,
       partition-order independent → bit-deterministic, the k-means
       accumulation stance);
    3. **rotation** ← orthogonal Procrustes: R* = U·Vᵀ from
       XᵀY = U·S·Vᵀ, where XᵀY assembles DRIVER-SIDE from the same
       decimal sums (XᵀY = Σ_m Σ_j Sx[m][j] ⊗ embed(cb_m[j])) — no
       second distributed pass, no float accumulation anywhere.

    Every step is individually non-increasing in the objective, so the
    per-round distortion sequence (evaluated from the same bounded
    artifacts: E = Σ‖x‖² − 2·tr(RᵀXᵀY) + Σ_mj n·‖cb‖²) is monotone —
    the gate boolean. The ONLY distributed work per round is the
    encode pass + the 5120-group decimal agg; SVD/eigh are d×d
    driver-side (the ``_opq_rotation`` precedent). Returns
    (R, codebooks, distortions)."""
    import numpy as np
    import pandas as pd

    if R0 is None:
        R0, _, _ = _opq_rotation(spark, sf_dir)
    R = np.asarray(R0, dtype=np.float64)
    d = R.shape[0]

    emb = load(spark, sf_dir, "embeddings")
    # r16 (guide §1.2): no staging — the encode passes read only the
    # embedding column straight off the columnar source (2 round reads
    # beat a stage write + 3 staged reads; the sq pass is gone below)
    vecs = emb.select(_as_double("embedding").alias("embedding"))
    cent_rows = (
        _cent_rows
        if _cent_rows is not None
        else _centroids(emb).orderBy("label").collect()
    )
    C = _quantizer(cent_rows)[1]
    k = C.shape[0]
    # Σ‖x‖² (decimal-exact scalar; rotation-invariant). _sq (r16): the
    # caller derives it exactly from its own per-dim decimal sums —
    # decimal addition is exact, so Σ_pos (Σ_rows v²) = the global sum
    # bit-for-bit — instead of this extra corpus pass.
    sq = (
        _sq
        if _sq is not None
        else vecs.select(F.explode("embedding").alias("v"))
        .agg(
            F.sum((F.col("v") * F.col("v")).cast("decimal(28,12)"))
            .cast("double")
            .alias("s")
        )
        .collect()[0]["s"]
    )
    _, cb = _pq_books(C @ R, _PQ_SLICES)
    distortions = []
    for _ in range(OPQ_NP_ROUNDS):
        Rc, cbc = R.copy(), [b.copy() for b in cb]

        # r16 (guide §4.1): the Python side emits ONE row per vector —
        # its M argmin codes plus the original embedding — instead of
        # fanning out M·d (m, code, pos, val) rows per vector through
        # the Arrow boundary (a 3·M·d/(M+d) ≈ 24× serialization cut at
        # d=64, M=8); the fan-out to (m, code, pos, val) happens JVM-
        # side in codegen via two posexplodes feeding the SAME decimal
        # partial agg. Groups and per-group value multisets are
        # identical, so the decimal sums stay bit-deterministic.
        def encode_emit(batches, _R=Rc, _cb=cbc):
            for pdf in batches:
                E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                codes, _ = _pq_codes(E @ _R, _PQ_SLICES, _cb)
                yield pd.DataFrame(
                    {"codes": list(codes), "embedding": pdf["embedding"]}
                )

        agg = (
            vecs.select("embedding")  # §4.1: ship only what the fn reads
            .mapInPandas(
                encode_emit, "codes array<int>, embedding array<double>"
            )
            .select(F.posexplode("codes").alias("m", "code"), "embedding")
            .select("m", "code", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("m", "code", "pos")
            .agg(
                F.sum(F.col("val").cast("decimal(28,12)"))
                .cast("double")
                .alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()  # bounded: ≤ PQ_M·k·d = 5120 rows
        )
        Sx = np.zeros((PQ_M, k, d))
        n_mj = np.zeros((PQ_M, k), dtype=np.int64)
        for r in agg:
            Sx[int(r["m"]), int(r["code"]), int(r["pos"])] = float(r["s"])
            n_mj[int(r["m"]), int(r["code"])] = int(r["n"])
        # codebook update (empty codes keep their codeword — standard)
        for m in range(PQ_M):
            blk = R[:, m * PQ_SUB : (m + 1) * PQ_SUB]
            for j in range(k):
                if n_mj[m, j] > 0:
                    cb[m][j] = (Sx[m, j] @ blk) / n_mj[m, j]
        # Procrustes rotation update from the SAME decimal sums
        M_cross = np.zeros((d, d))
        y_sq = 0.0
        for m in range(PQ_M):
            for j in range(k):
                if n_mj[m, j] == 0:
                    continue
                y = np.zeros(d)
                y[m * PQ_SUB : (m + 1) * PQ_SUB] = cb[m][j]
                M_cross += np.outer(Sx[m, j], y)
                y_sq += n_mj[m, j] * float(cb[m][j] @ cb[m][j])
        U, _s, Vt = np.linalg.svd(M_cross)
        R = U @ Vt
        distortions.append(
            float(sq) - 2.0 * float(np.trace(R.T @ M_cross)) + y_sq
        )
    return R, cb, distortions


def ann_ivf_opq_np_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ under NON-PARAMETRIC OPQ (Ge et al. 2013 §3) — the final
    rung of the quantizer-training ladder and the 4th point of the
    recall frontier (uncompressed IVF → contiguous PQ → OPQ allocation
    → OPQ-P rotation → OPQ-NP): alternate code assignment, sub-codebook
    re-training, and a Procrustes rotation solve (:func:`_opq_np_train`,
    warm-started from OPQ-P), then the same encode → ADC → shortlist →
    exact-refine through :func:`_pq_topk`'s ``rot`` + ``codebooks``
    hooks. Trained sub-codebooks are what the allocation-only and
    OPQ-P variants deliberately gave up for SQL-replicability
    (_pq_topk's documented +0.14-shortlist-recall trade); OPQ-NP takes
    the trade the other way, so — exactly the ``kmeans_ivf_train`` /
    ``ann_ivf_opq_rot_cosine`` gating stance — the gate row carries
    the SQL-certifiable facts (dim, corpus count, decimal-exact
    trace) plus live invariant booleans, and the full alternation is
    replayed bit-exactly in tests (the decimal group sums make every
    round deterministic): rotation orthonormal, per-round distortion
    NON-INCREASING (the block-descent guarantee, measured live:
    330.1 → 300.2 over 2 rounds at sf0.01 — codebook training removes
    ~9% of the quantization distortion OPQ-P leaves), top-k complete,
    and recall@k at n_probe = 2·``N_PROBE`` ≥ the OPQ-P learned
    rotation's — the paper's NP-beats-P ordering (measured 0.62 vs
    0.60 at n_probe=4 on the sf0.01 testdata; at n_probe=2 the exact
    refine masks the difference — both 0.38)."""
    import numpy as np

    import decimal as _decimal

    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(F.posexplode(_as_double("embedding")).alias("pos", "v"))
    mean = F.sum(F.col("v").cast("decimal(28,12)")).cast("double") / F.count(
        "v"
    )
    s2dec = F.sum((F.col("v") * F.col("v")).cast("decimal(28,12)"))
    mean_sq = s2dec.cast("double") / F.count("v")
    per_dim = stage(
        comp.groupBy("pos").agg(
            F.count("v").alias("n"),
            mean.alias("mean"),
            F.greatest(mean_sq - mean * mean, F.lit(0.0)).alias("var"),
            # raw per-dim Σv² as DECIMAL (r16): Σ over dims of these is
            # the trainer's Σ‖x‖² bit-exactly (decimal adds are exact),
            # deleting _opq_np_train's own corpus pass for it
            s2dec.alias("s2"),
        )
    )
    rows = per_dim.collect()
    d = len(rows)
    n = int(rows[0]["n"])
    mu = np.zeros(d)
    for r in rows:
        mu[int(r["pos"])] = float(r["mean"])
    with _decimal.localcontext() as ctx:
        ctx.prec = 60  # exact: ≤ d additions of scale-12 decimals
        sq = float(sum(r["s2"] for r in rows))
    R_p, _, _ = _opq_rotation(spark, sf_dir, _mu_n=(mu, n))
    # ONE centroid collect serves the NP trainer and both probes below
    # (r16, guide §1.2 — the bounded k×d table was re-derived from a
    # fresh corpus posexplode pass at each of the three sites)
    cent_rows = _centroids(emb).orderBy("label").collect()
    R_np, cb_np, dist = _opq_np_train(
        spark, sf_dir, R0=R_p, _cent_rows=cent_rows, _sq=sq
    )

    rot_ok = bool(np.abs(R_np.T @ R_np - np.eye(d)).max() < 1e-9)
    mono_ok = bool(
        all(b <= a + 1e-6 * abs(a) for a, b in zip(dist, dist[1:]))
    )
    trow = per_dim.agg(
        F.round(
            F.sum(F.col("var").cast("decimal(28,12)")).cast("double"), 6
        ).alias("trace_var"),
    ).collect()[0]

    bf = stage(
        knn_bruteforce_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    )
    np_topk = stage(
        _pq_topk(
            spark,
            sf_dir,
            2 * N_PROBE,
            rot=R_np,
            codebooks=cb_np,
            _cent_rows=cent_rows,
        )
    )
    rot_topk = _pq_topk(
        spark, sf_dir, 2 * N_PROBE, rot=R_p, _cent_rows=cent_rows
    )

    # r16 (guide §1.2): total / completeness / both recall hits were four
    # sequential count() jobs over bounded staged tables; one union of
    # four 1-row aggregates collects them in a single job (the OPQ-P
    # probe's plan rides as a subtree — same pass count, fewer round
    # trips). Counts are identical: same joins, same frames.
    def _cnt(df, tag):
        return df.agg(F.count(F.lit(1)).alias("v")).select(
            F.lit(tag).alias("k"), "v"
        )

    on = ["query_id", "neighbor_id"]
    counts = {
        r["k"]: int(r["v"])
        for r in _cnt(bf, "total")
        .unionByName(_cnt(np_topk, "n_rows"))
        .unionByName(_cnt(np_topk.join(bf, on), "hits_np"))
        .unionByName(_cnt(rot_topk.join(bf, on), "hits_rot"))
        .collect()
    }
    total, n_rows = counts["total"], counts["n_rows"]
    hits_np, hits_rot = counts["hits_np"], counts["hits_rot"]
    return local_frame(
        spark,
        [
            (
                d,
                n,
                OPQ_NP_ROUNDS,
                float(trow["trace_var"]),
                rot_ok,
                mono_ok,
                bool(n_rows == total),
                bool(hits_np >= hits_rot),
            )
        ],
        "dim int, n_vectors long, np_rounds int, trace_var double,"
        " rot_orthonormal_ok boolean, distortion_nonincreasing_ok boolean,"
        " topk_complete_ok boolean, recall_ge_opq_p_ok boolean",
    )


def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding DRIFT monitoring — the production check a vector
    pipeline runs when the upstream encoder or crawl mix changes: split
    the corpus into the standing half and the arriving half (vec_id
    parity is the deterministic stand-in for crawl generations), compute
    each half's per-dimension decimal-exact mean, and report the
    per-dimension shift. A drifted encoder shows up as large shifts on
    the high-variance dimensions long before recall degrades; IVF/PQ
    stores re-train their quantizers off exactly this signal.

    Shape: ONE posexplode pass with conditional decimal sums (map-side
    combinable to d groups) — the `embedding_dim_stats` budget, two
    filters cheaper than two passes. All means are the decimal-sum
    device (bit-identical across engines); shift is a subtraction of
    identical doubles, ROUND display-only."""
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        (F.col("vec_id") % 2 == 0).alias("is_old"),
        F.posexplode(_as_double("embedding")).alias("pos", "v"),
    )

    def _mean(flag):
        return F.sum(
            F.when(flag, F.col("v")).cast("decimal(28,12)")
        ).cast("double") / F.count(F.when(flag, F.lit(1)))

    m_old = _mean(F.col("is_old"))
    m_new = _mean(~F.col("is_old"))
    return comp.groupBy("pos").agg(
        F.round(m_old, 8).alias("mean_old"),
        F.round(m_new, 8).alias("mean_new"),
        F.round(F.abs(m_old - m_new), 8).alias("abs_shift"),
    )


# --- incremental IVF maintenance ---------------------------------------------
def _assign_frozen(
    vectors: DataFrame, cent_rows: list, with_embedding: bool = False
) -> DataFrame:
    """(vec_id, cell[, embedding]): map-only Arrow assignment of
    ``vectors`` against a FROZEN centroid list (collected bounded k×d
    artifact, riding the closure; one :func:`_nearest_cells` matmul per
    batch), so an index can score vectors it was NOT trained on.
    ``with_embedding`` carries the vector through for store writes (no
    join-back needed)."""
    import numpy as np
    import pandas as pd

    quant = _quantizer(cent_rows)

    def assign(batches):
        for pdf in batches:
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            out = {
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "cell": _nearest_cells(E, quant)[0],
            }
            if with_embedding:
                out["embedding"] = pdf["embedding"]
            yield pd.DataFrame(out)

    schema = "vec_id long, cell int"
    if with_embedding:
        schema += ", embedding array<double>"
    return vectors.select(
        "vec_id", _as_double("embedding").alias("embedding")
    ).mapInPandas(assign, schema)


def ann_ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF index maintenance — the batch-static store meets
    the append-only pipeline: new embeddings arrive continuously, and
    re-training the coarse quantizer per batch is neither affordable
    nor desirable (cell ids must stay stable for the partitioned
    store). The production protocol (FAISS/Milvus alike): assign the
    arriving batch to the FROZEN existing centroids — a map-only pass,
    the ``dedup_incremental`` standing-vs-arriving split device over
    vectors — and monitor DRIFT; the index re-trains only when the
    drift report says so. vec_id parity is the deterministic crawl-
    generation stand-in (``embedding_drift_report``'s convention):
    even = standing corpus the index was trained on, odd = arriving.

    Per frozen cell the report carries the re-train decision inputs:
    occupancy before/after (arrivals land where the frozen index puts
    them), the AGREEMENT between frozen-index assignment and a full
    re-train's assignment of the same arrivals (the quality cost of
    not re-training, measured — a label-pure doctored fixture pins
    agreement == 100% when cells don't move), the centroid shift a
    re-train would apply (max per-dimension |Δ|, decimal-exact means
    on both engines), and the integer-exact re-train trigger
    (occupancy growth > 150% OR shift > 0.01 — the thresholds a real
    deployment tunes; growth is the pure-integer cross-product compare
    2·n_arrived > 3·n_standing).

    Scale shape (100 TB): three map-only Arrow passes (standing
    occupancy, arriving frozen-assign, arriving rebuilt-assign) — each
    one matmul per batch against a broadcast k×d matrix in the UDF
    closure; the centroid relations are k-row bounded artifacts
    (collected only for the closures, the IVF-centroid precedent); the
    drift join is k×d in-engine (zip_with, no collect); all counts are
    map-side-combinable k-group aggs. Nothing scales with corpus rows
    on the driver. In steady state only the arriving batch is scored —
    the standing corpus is already partitioned by cell (the
    ``ann_ivf_partitioned_probe`` store) and untouched."""
    return _incremental_assign_report(spark, sf_dir)


def _incremental_assign_report(
    spark: SparkSession, sf_dir: str, _rows=None, _frames=None
) -> DataFrame:
    """:func:`ann_ivf_incremental_assign` body with an optional
    ``(frozen_rows, full_rows)`` centroid hand-off (r16, guide §1.2):
    ``ann_ivf_append_probe`` already collected both bounded k×d centroid
    tables for its own probes, so its nested re-train verdict must not
    re-run the corpus centroid passes. The drift join's centroid
    relations are rebuilt from the collected rows (k×d bounded,
    bit-identical doubles through py4j), which cut the standalone
    entry from four corpus centroid passes (2 collects + 2 more under
    the shift join's uncached lineage) to two in r16 — and r17's fused
    :func:`_centroids_frozen_full` collect makes it ONE.

    ``_frames`` (r16, guide §1.2 again): optional
    ``(standing_assign, arriving_frozen, arriving_full)`` (vec_id, cell)
    relations — ``ann_ivf_append_probe`` has ALL THREE assignments
    already materialized (its own store writes), so the nested verdict
    reads them back instead of re-running three corpus Arrow assignment
    passes. Cell values are identical: the store IS the frozen/full
    assignment, and parquet round-trips the ints exactly."""
    emb = load(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") % 2 == 0)
    arriving = emb.filter(F.col("vec_id") % 2 == 1)
    if _rows is None:
        # r17 (guide §1.2): both centroid tables from ONE corpus pass
        # (was two posexplode aggregation jobs, one per table)
        frozen_rows, full_rows = _centroids_frozen_full(emb)
    else:
        frozen_rows, full_rows = _rows
    # bounded k×d relation for the in-engine drift computation, rebuilt
    # from the already-collected artifact instead of re-running the
    # corpus aggregation under this frame's lineage. r17: the two
    # per-table relations were joined on label immediately below — the
    # join is performed driver-side over the collected rows instead
    # (frozen labels ⊆ full labels, inner semantics preserved), so ONE
    # local relation replaces two driver-built tables plus a
    # 16-row join subtree. Same doubles, same in-engine zip_with.
    _full_by_label = {int(r["label"]): list(r["centroid"]) for r in full_rows}
    cent_pair = local_frame(
        spark,
        [
            (int(r["label"]), list(r["centroid"]), _full_by_label[int(r["label"])])
            for r in frozen_rows
        ],
        "label int, cf array<double>, cr array<double>",
    )

    if _frames is not None:
        standing_assign, arriving_frozen, arriving_full = _frames
    else:
        standing_assign = _assign_frozen(standing, frozen_rows)
        arriving_frozen = _assign_frozen(arriving, frozen_rows)
        arriving_full = _assign_frozen(arriving, full_rows)
    s_occ = standing_assign.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_standing")
    )
    a_frozen = arriving_frozen
    a_full = arriving_full.withColumnRenamed("cell", "cell_rebuilt")
    a_cmp = (
        a_frozen.join(a_full, "vec_id")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_arrived"),
            F.sum(
                (F.col("cell") == F.col("cell_rebuilt")).cast("long")
            ).alias("n_agree_rebuild"),
        )
    )
    shift = cent_pair.select(
        F.col("label").alias("cell"),
        F.round(
            F.array_max(
                F.zip_with(
                    F.col("cf"),
                    F.col("cr"),
                    lambda x, y: F.abs(x - y),
                )
            ),
            8,
        ).alias("centroid_shift"),
    )
    out = (
        shift.join(s_occ, "cell", "left_outer")
        .join(a_cmp, "cell", "left_outer")
        .select(
            "cell",
            F.coalesce("n_standing", F.lit(0)).alias("n_standing"),
            F.coalesce("n_arrived", F.lit(0)).alias("n_arrived"),
            F.coalesce("n_agree_rebuild", F.lit(0)).alias(
                "n_agree_rebuild"
            ),
            "centroid_shift",
        )
    )
    return out.withColumn(
        "retrain",
        (
            (F.col("n_arrived") * 2 > F.col("n_standing") * 3)
            | (F.col("centroid_shift") > 0.01)
        ).cast("int"),
    )


def ann_ivf_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOSE the incremental-ANN loop (r12 verdict task 5):
    :func:`ann_ivf_incremental_assign` DECIDES whether to re-train; this
    entry executes the APPEND path that decision protects and measures
    its query-visible cost. The arriving batch (odd vec_ids) is
    frozen-assigned and physically APPENDED into the standing index's
    cell-partitioned store (hive ``cell=`` layout, parquet
    ``mode("append")`` — exactly how a FAISS/Milvus segment lands); a
    probe query then sees standing + appended vectors through the same
    partition-pruned read as :func:`ann_ivf_partitioned_probe`. The
    comparison: that post-append probe vs a FULL REBUILD's probe
    (centroids re-trained on the whole corpus, store re-assigned). Per
    query: top-k size, rank-for-rank agreement, set agreement — plus
    the drift report's global re-train verdict, so the row reads as
    'the trigger said X and the append path's answer differed by Y'.
    A doctored stable-cluster fixture pins the invariant: when the
    trigger says NO re-train (no growth, no shift), the append path's
    probe results EQUAL the rebuild's.

    Scale shape: map-only Arrow assignment passes only (arriving-only in
    steady state; the rebuild side exists to be measured against), one
    parquet append of batch-sized files into existing cell directories
    (no rewrite of standing data — the entire point), two
    partition-pruned probes, and bounded driver artifacts (k×d
    centroids from ONE fused corpus aggregation, |queries|×d batch).
    The agreement join is top-k-bounded rows per query; the nested
    re-train verdict reads the appended store back and recomputes only
    the arriving half's full-rebuild cells (narrow: no embedding column
    crosses the Arrow boundary)."""
    emb = load(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") % 2 == 0)
    arriving = emb.filter(F.col("vec_id") % 2 == 1)
    # r17 (guide §1.2): both centroid tables from ONE corpus pass
    frozen_rows, full_rows = _centroids_frozen_full(emb)

    import uuid

    path = os.path.join(
        _session_root(spark), f"ivf_append_{uuid.uuid4().hex[:12]}"
    )
    _assign_frozen(standing, frozen_rows, with_embedding=True).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    # THE append: arriving batch lands in its frozen cells — new files
    # in existing cell= directories, standing files untouched
    _assign_frozen(arriving, frozen_rows, with_embedding=True).write.mode(
        "append"
    ).partitionBy("cell").parquet(path)
    appended_store = spark.read.parquet(path)
    # r17 (the r16-verdict re-adjudication): the r16 shape staged the
    # rebuild-side store (full corpus incl. embeddings) because two
    # consumers read it — but the probe is its ONLY consumer that needs
    # embeddings, and the nested verdict needs just the ARRIVING half's
    # (vec_id, cell). Dropping the full-store write in favor of one
    # direct rebuild-assign pass under the probe plus a narrow
    # arriving-only assign pass trades a full-corpus store write+read
    # for half a map-only Arrow pass — cheaper at sf0.1 (the driver-
    # visible +0.9 s regression) and at scale (store write is
    # O(corpus·d) I/O; the narrow pass is O(corpus/2) compute, no I/O).
    rebuilt_assign = _assign_frozen(emb, full_rows, with_embedding=True)
    # both probes are consumed twice below (rank agreement + set
    # agreement): stage the bounded |queries|·TOP_K results so each
    # probe's store scan runs ONCE (r16 §1.2; was recomputed per
    # consumer under the final plan's lineage)
    top_append = stage(
        _probe_store(spark, emb, appended_store, frozen_rows)
    )
    top_rebuild = stage(
        _probe_store(spark, emb, rebuilt_assign, full_rows)
    )

    # re-use THIS entry's collected centroid tables AND materialized
    # assignments for the nested re-train verdict (r16, guide §1.2:
    # previously the inner call re-ran both corpus centroid passes and
    # three corpus Arrow assignment passes this entry had just done —
    # the appended store IS the frozen assignment; the full-rebuild
    # assignment of the arriving half is recomputed narrow (no
    # embedding column crosses the boundary), cell-identical to the
    # r16 staged store's odd rows: same argmax over the same doubles)
    even = F.col("vec_id") % 2 == 0
    any_retrain = _incremental_assign_report(
        spark,
        sf_dir,
        _rows=(frozen_rows, full_rows),
        _frames=(
            appended_store.filter(even).select("vec_id", "cell"),
            appended_store.filter(~even).select("vec_id", "cell"),
            _assign_frozen(arriving, full_rows),
        ),
    ).agg(F.max("retrain").alias("any_retrain"))
    a = top_append.select(
        "query_id", "rank", F.col("neighbor_id").alias("na")
    )
    b = top_rebuild.select(
        "query_id", "rank", F.col("neighbor_id").alias("nb")
    )
    rank_agree = (
        a.join(b, ["query_id", "rank"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_topk"),
            F.sum((F.col("na") == F.col("nb")).cast("long")).alias(
                "n_rank_agree"
            ),
        )
    )
    set_agree = (
        top_append.select("query_id", "neighbor_id")
        .join(
            top_rebuild.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_set_agree"))
    )
    return (
        rank_agree.join(set_agree, "query_id", "left_outer")
        .crossJoin(F.broadcast(any_retrain))
        .select(
            "query_id",
            "n_topk",
            "n_rank_agree",
            F.coalesce("n_set_agree", F.lit(0)).alias("n_set_agree"),
            F.col("any_retrain").cast("int").alias("any_retrain"),
        )
        .orderBy("query_id")
    )


def ann_store_snapshot_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIFY the vector store with the engine's snapshot lifecycle (the
    r14-verdict task 5): instead of ad-hoc ``cell=`` parquet directories,
    the IVF store IS a :class:`~.lifecycle.SnapshotTable` with ``cell``
    as the manifest stats column — vector appends become ATOMIC commits
    (the CAS manifest swap), probes plan their scan from MANIFEST stats
    alone (one file per cell per generation, entry stats [c, c], so a
    probe opens exactly the probed cells' files — zero data-file footer
    reads at plan time), and TIME TRAVEL gives the pre-append index back
    for free. Fixture: commit 1 = the standing corpus (even vec_ids)
    frozen-assigned and written one file per cell; commit 2 = the
    arriving batch (odd vec_ids) appended the same way. The probe then
    runs TWICE through manifest-planned scans — version 1 (the
    time-traveled pre-append index) and version 2 (post-append) — and
    the report reads per query: both top-k sizes, how many neighbors the
    append preserved (set agreement), and how many post-append neighbors
    came from the batch.

    Scale shape: probe-cell selection is the bounded driver artifact
    (k×d centroids, |queries|×d batch); the per-version scan reads ONLY
    the files manifest planning selects for the probed cells (plan-
    tested: files_read = probed cells × generations, the rest skipped
    with zero GETs beyond the snapshot+manifests); scoring is the shared
    :func:`_score_probes` broadcast join + top-k window. The commits are
    the production ingest path — a concurrent append retries on the CAS,
    never corrupts the manifest, and a reader mid-append sees v1 or v2,
    never a torn store (the property the ad-hoc ``mode("append")``
    directories could not give)."""
    from .lifecycle import _write_chunked, make_table

    emb = load(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") % 2 == 0)
    arriving = emb.filter(F.col("vec_id") % 2 == 1)
    frozen_rows = _centroids(standing).orderBy("label").collect()

    tbl = make_table(spark, "annstore_", stats_col="cell")
    # _c duplicates cell as the chunk key: partitionBy consumes the
    # chunk column, so the data files keep their readable cell column
    stand_df = _assign_frozen(
        standing, frozen_rows, with_embedding=True
    ).withColumn("_c", F.col("cell"))
    _write_chunked(tbl, stand_df, chunk_col="_c")
    v_pre = tbl.current_version
    arr_df = _assign_frozen(
        arriving, frozen_rows, with_embedding=True
    ).withColumn("_c", F.col("cell"))
    _write_chunked(tbl, arr_df, chunk_col="_c")
    v_post = tbl.current_version

    probes, probed = _probe_batch(spark, emb, frozen_rows)

    def store_at(version: int) -> DataFrame:
        files: list = []
        for c in probed:
            plan = tbl.plan_scan_manifests(
                predicates={"cell": (c, c)}, version=version
            )
            files.extend(f for f in plan["files_read"] if f not in files)
        return tbl.read_files(files)

    # r17 (the append_probe r16 device): both top-k results are consumed
    # twice below (per-version agg + set agreement) — stage the bounded
    # |queries|·TOP_K rows so each version's manifest-planned scan and
    # scoring window run ONCE instead of per consumer
    top_pre = stage(_score_probes(store_at(v_pre), probes))
    top_post = stage(_score_probes(store_at(v_post), probes))

    pre_agg = top_pre.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_topk_pre")
    )
    post_agg = top_post.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_topk_post"),
        F.sum((F.col("neighbor_id") % 2 == 1).cast("long")).alias(
            "n_from_batch"
        ),
    )
    set_agree = (
        top_pre.select("query_id", "neighbor_id")
        .join(
            top_post.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_set_agree"))
    )
    return (
        pre_agg.join(post_agg, "query_id")
        .join(set_agree, "query_id", "left_outer")
        .select(
            "query_id",
            "n_topk_pre",
            "n_topk_post",
            F.coalesce("n_set_agree", F.lit(0)).alias("n_set_agree"),
            "n_from_batch",
        )
        .orderBy("query_id")
    )


# --- hybrid search: BM25 × vector fusion (Reciprocal Rank Fusion) ------------
RRF_K = 60  # the canonical RRF constant (Cormack, Clarke, Buettcher 2009)
RRF_TOPK = 10


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — the production search shape every vector store
    ships (Elasticsearch/Vespa/Weaviate 'hybrid'): a LEXICAL ranking
    (BM25 over the query terms, :func:`~.textstats.doc_bm25_search`) and
    a VECTOR ranking (cosine against the query embedding, here doc 0's
    vector as the pseudo-query) fused by Reciprocal Rank Fusion:
    score(d) = Σ_r 1/(RRF_K + rank_r(d)) over the rankings that retrieved
    d. RRF needs no score calibration between the two systems — only
    ranks — which is why it is the default fusion everywhere.

    Scale shape: each leg is already top-``BM25_TOPK`` bounded (BM25 ends
    in TakeOrderedAndProject; the vector leg broadcasts the 1-row query,
    scores map-side, and takes top-k the same way), so the fusion is a
    full-outer join of two ≤k-row relations — driver-light, corpus-scan
    cost = one BM25 pass + one embedding pass. Ranks inside each bounded
    leg use a row_number window over ≤k rows (single-partition is the
    point, not a smell). Determinism: both legs tie-break on doc_id ASC;
    1/(K+rank) is exact IEEE division on both engines; the two addends
    sum in fixed textual order."""
    from .textstats import BM25_TOPK, doc_bm25_search

    lex = doc_bm25_search(spark, sf_dir)  # ≤ BM25_TOPK rows, ordered
    w_lex = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex_r = lex.select(
        "doc_id", F.row_number().over(w_lex).alias("lex_rank")
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        _as_double("embedding").alias("q")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            _as_double("embedding").alias("e"),
        )
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            (
                _dot(F.col("q"), F.col("e"))
                / (_norm(F.col("q")) * _norm(F.col("e")))
            ).alias("cos"),
        )
    )
    top_vec = scored.orderBy(F.desc("cos"), F.asc("doc_id")).limit(BM25_TOPK)
    w_vec = Window.orderBy(F.desc("cos"), F.asc("doc_id"))  # ≤ k rows
    vec_r = top_vec.select(
        "doc_id", F.row_number().over(w_vec).alias("vec_rank")
    )

    fused = lex_r.join(vec_r, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)
            )
        ).alias("rrf_raw"),
    )
    return (
        fused.orderBy(F.desc("rrf_raw"), F.asc("doc_id"))
        .limit(RRF_TOPK)
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round("rrf_raw", 8).alias("rrf_score"),
        )
    )


# --- Lloyd's k-means (IVF coarse-quantizer training) -------------------------
KMEANS_K = 8
KMEANS_ITERS = 4


def kmeans_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised IVF training: Lloyd's k-means over the embeddings, the
    iterative-algorithm companion to ``connected_components``. Each round:
    centroids (k×dim — collected to the driver, re-broadcast as literals)
    → map-side argmin-L2 assignment (no join, no shuffle) → new means via
    one groupBy(cell, pos) shuffle of (cell, pos, value) triples with
    decimal accumulation (partition-order independent, so every round is
    bit-deterministic). Init = the k lowest vec_ids (deterministic seed).
    At 100 TB: assignment stays map-side per round because k×dim always
    fits the plan; the mean shuffle carries dim·|corpus| scalars — the
    same budget as one column-stats pass. Output: per-cell size and mean
    within-cluster squared L2 (the training diagnostic). The unit test
    replays the identical arithmetic in Python; the driver-gate entry is
    the invariant summary ``kmeans_ivf_train`` below."""
    emb = load(spark, sf_dir, "embeddings")
    # disk-staged (not checkpointed): consumed by the driver collect for
    # init plus one scan per Lloyd round — see stage.py for the residency
    # and fault-tolerance rationale.
    vecs = stage(emb.select("vec_id", _as_double("embedding").alias("e")))
    cents = [
        (int(r["vec_id"]), list(r["e"]))
        for r in vecs.orderBy("vec_id").limit(KMEANS_K).collect()
    ]
    centroids = [c for _, c in cents]

    def assign_df():
        dist_cols = [
            F.aggregate(
                F.zip_with(
                    F.col("e"),
                    F.array(*[F.lit(v) for v in c]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            ).alias(f"d{i}")
            for i, c in enumerate(centroids)
        ]
        with_d = vecs.select("vec_id", "e", *dist_cols)
        # argmin over k literal distance columns: least() + CASE chain —
        # stays in codegen, no per-row array materialization
        least = F.least(*[F.col(f"d{i}") for i in range(len(centroids))])
        cell = F.lit(None).cast("int")
        expr = None
        for i in range(len(centroids)):
            cond = F.col(f"d{i}") == least
            expr = F.when(cond, i) if expr is None else expr.when(cond, i)
        return with_d.select(
            "vec_id", "e", expr.alias("cell"), least.alias("d2")
        )

    for _ in range(KMEANS_ITERS):
        assigned = assign_df()
        new_cents = (
            assigned.select("cell", F.posexplode("e").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(
                (
                    F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
                    / F.count("v")
                ).alias("c")
            )
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select("cell", F.expr("transform(pc, x -> x.c)").alias("centroid"))
            .orderBy("cell")
            .collect()
        )
        by_cell = {int(r["cell"]): list(r["centroid"]) for r in new_cents}
        # a cell can empty out: keep its previous centroid (standard Lloyd's)
        centroids = [by_cell.get(i, centroids[i]) for i in range(KMEANS_K)]

    final = assign_df()
    return final.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(
            F.sum(F.col("d2").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_sq_dist"),
    )


def kmeans_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate summary of Lloyd's training: per-cell sizes/objectives
    are algorithm outputs no SQL engine can re-derive, so the gate row
    carries the SQL-checkable invariants instead — every input vector is
    assigned to exactly one of ≤ k cells (total_vectors == COUNT(embeddings),
    the real cross-check) and the per-cell objective is non-negative.
    ``kmeans_ivf_cells`` above keeps the full per-cell diagnostics, exact-
    replayed against plain Python in tests/test_corpus.py."""
    cells = kmeans_ivf_cells(spark, sf_dir)
    return cells.agg(
        F.sum("n_vectors").cast("long").alias("total_vectors"),
        F.lit(KMEANS_K).cast("int").alias("k"),
        (F.countDistinct("cell") <= KMEANS_K).alias("cells_ok"),
        F.expr("bool_and(mean_sq_dist >= 0)").alias("msd_nonneg"),
    )


# --- int8 symmetric quantization (4× embedding storage cut) -----------------
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x|/127,
    q_i = round(x_i/scale). The storage story for 100 TB of embeddings —
    float32→int8 is 4× less scan and shuffle for the ANN candidate stage;
    exact re-rank (if wanted) fetches the float rows for finalists only.
    Entirely built-in array exprs (transform/aggregate) — codegen, no UDF.
    Reports per-vector max reconstruction error as the quality control."""
    emb = load(spark, sf_dir, "embeddings")
    e = _as_double("embedding")
    scale = (
        F.aggregate(
            F.transform(e, lambda x: F.abs(x)),
            F.lit(0.0).cast("double"),
            lambda acc, x: F.greatest(acc, x),
        )
        / F.lit(127.0)
    )
    with_scale = emb.select("vec_id", e.alias("e"), scale.alias("scale"))
    q = F.transform(
        F.col("e"), lambda x: F.round(x / F.col("scale")).cast("int")
    )
    max_err = F.aggregate(
        F.zip_with(
            F.col("e"), F.col("q8"), lambda x, qi: F.abs(x - qi * F.col("scale"))
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: F.greatest(acc, x),
    )
    # scale/max_abs_err stay RAW doubles: the fold is identical on both
    # engines (bit-exact), while a round-through-decimal differs at half-ulp
    # boundaries (engines disagree on double→decimal conversion).
    return (
        with_scale.withColumn("q8", q)
        .select(
            "vec_id",
            "scale",
            # serialized for the cross-engine comparator (duckdb hands
            # numeric lists to pandas as ndarrays); consumers inside Spark
            # would keep the array<int> column instead
            F.concat_ws(",", F.col("q8")).alias("q8"),
            max_err.alias("max_abs_err"),
        )
    )


# --- Gram-matrix accumulation (whitening / PCA preparation) ------------------


def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram matrix G[i,j] = Σ_v e_i·e_j over the corpus —
    the d×d accumulation every whitening / PCA / ZCA preprocessing step
    needs before touching an eigensolver (covariance = G/n − μμᵀ with μ
    from :func:`embedding_dim_stats`; the eigendecomposition itself is a
    driver-side d×d numpy call on this bounded output, never a
    distributed op).

    Spark shape: ONE map-only Arrow pass expands each vector to its
    d(d+1)/2 upper-triangle products — a vectorized numpy outer-product
    slice per batch, exact per product (one IEEE multiply, bit-identical
    to the oracle's `vi*vj`) — then a single groupBy(i,j) with DECIMAL
    accumulation: map-side combine collapses every partition to ≤ 2,080
    rows (d=64) before the only exchange, so the shuffle is
    O(partitions·d²) regardless of corpus rows, and decimal addition
    keeps the sums partition-order independent (the `det_sum` recipe —
    the twin of this plan with per-batch float dgemm partials, EᵀE, is
    the raw-throughput deployment shape but reassociates float adds and
    loses cross-engine bit-parity; at 100 TB you run the dgemm form and
    accept engine-level tolerance, here the gate demands exactness).

    Staged and memoized per (session, sf_dir): its own registry entry
    and the PCA spectrum both consume it, so the accumulation pass runs
    once per corpus."""
    return memo(
        spark,
        ("gram", sf_dir),
        [table_path(sf_dir, "embeddings")],
        lambda: stage(_gram_plan(spark, sf_dir)),
    )


def _gram_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstaged gram accumulation plan (the shape the plan test pins);
    :func:`embedding_gram_matrix` stages + memoizes its output."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")

    def expand(batches):
        for pdf in batches:
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if not len(E):
                continue
            d = E.shape[1]
            iu, ju = np.triu_indices(d)
            P = E[:, iu] * E[:, ju]  # (batch, d(d+1)/2) exact products
            n = len(E)
            yield pd.DataFrame(
                {
                    "i": np.tile(iu.astype(np.int32), n),
                    "j": np.tile(ju.astype(np.int32), n),
                    "p": P.ravel(),
                }
            )

    prods = emb.select(_as_double("embedding").alias("embedding")).mapInPandas(
        expand, "i int, j int, p double"
    )
    return prods.groupBy("i", "j").agg(
        F.round(
            F.sum(F.col("p").cast("decimal(28,12)")).cast("double"), 6
        ).alias("gram")
    )


# --- PCA spectrum over the bounded gram artifact -----------------------------
def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA / whitening end-to-end on the engine's two bounded artifacts:
    covariance C = G/n − μμᵀ assembled driver-side from
    :func:`embedding_gram_matrix` (d(d+1)/2 rows) and the per-dimension
    means (d rows), then a d×d numpy ``eigvalsh`` — the eigensolve is
    NEVER distributed work at any corpus size; only the two linear
    accumulations touch data. Like ``kmeans_ivf_train``, the gate row
    carries what SQL can certify: the exact decimal-deterministic trace
    (Σ per-dimension variance — which equals Σ eigenvalues, the
    invariant that catches a wrong gram/mean assembly) plus in-engine
    booleans that the eigen-spectrum conserves that trace and is
    PSD-nonnegative. Eigenvalues themselves are replayed against plain
    numpy in the unit test."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(F.posexplode(_as_double("embedding")).alias("pos", "v"))
    mean = F.sum(F.col("v").cast("decimal(28,12)")).cast("double") / F.count(
        "v"
    )
    mean_sq = F.sum(
        (F.col("v") * F.col("v")).cast("decimal(28,12)")
    ).cast("double") / F.count("v")
    per_dim = comp.groupBy("pos").agg(
        F.count("v").alias("n"),
        mean.alias("mean"),
        F.greatest(mean_sq - mean * mean, F.lit(0.0)).alias("var"),
    )
    trace_df = per_dim.agg(
        F.count(F.lit(1)).cast("int").alias("dim"),
        F.max("n").cast("long").alias("n_vectors"),
        F.round(
            F.sum(F.col("var").cast("decimal(28,12)")).cast("double"), 6
        ).alias("trace_var"),
    )
    row = trace_df.collect()[0]
    d, n = int(row["dim"]), int(row["n_vectors"])
    mu = np.zeros(d)
    for r in per_dim.select("pos", "mean").collect():
        mu[int(r["pos"])] = float(r["mean"])
    G = np.zeros((d, d))
    for r in embedding_gram_matrix(spark, sf_dir).collect():
        G[int(r["i"]), int(r["j"])] = G[int(r["j"]), int(r["i"])] = float(
            r["gram"]
        )
    lam = np.linalg.eigvalsh(G / n - np.outer(mu, mu))
    # tolerances: gram entries are rounded to 6 dp, so the assembled
    # trace can drift ~d·5e-7 from the exact decimal one
    eig_sum_ok = bool(abs(float(lam.sum()) - float(row["trace_var"])) < 1e-3)
    eig_nonneg_ok = bool(float(lam.min()) > -1e-6)
    return trace_df.select(
        "dim",
        "n_vectors",
        "trace_var",
        F.lit(eig_sum_ok).alias("eig_sum_ok"),
        F.lit(eig_nonneg_ok).alias("eig_nonneg_ok"),
    )


# --- Arrow-vectorized brute force (the Pandas-UDF batch-matmul path) --------
def knn_pandas_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same top-k semantics as :func:`knn_bruteforce_cosine`, computed on
    the Arrow path: corpus batches cross ``mapInPandas`` as pandas frames,
    each scored against the (tiny, closure-captured) query matrix with one
    numpy matmul — the 10-100× batch-vectorization pattern for math that
    built-in expressions can't reach. Here the built-ins CAN express it, so
    this variant doubles as an A/B of codegen fold vs Arrow+BLAS — measured
    1.8× faster at sf0.1 (0.64s vs 1.14s warm, 2000×64 corpus; the fold
    evaluates per-element lambda calls, BLAS does one dgemm per batch) —
    and the exact-expr twin's oracle stays the referee: on the fixed
    testdata both agree after round-8 (matmul reassociates float adds;
    verified, and rank ties break on neighbor_id).

    Scale shape: queries broadcast in the task closure (k×dim floats), the
    corpus streams through in Arrow batches with NO shuffle before the
    per-query top-k window."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    q_ids, Q, Qn = _query_batch(emb)  # broadcast via the UDF closure

    def score(batches):
        for pdf in batches:
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            En = np.linalg.norm(E, axis=1)
            S = (E @ Q.T) / (En[:, None] * Qn[None, :])  # (batch, k)
            b, k = S.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(q_ids, b),
                    "neighbor_id": np.repeat(ids, k),
                    "cos_raw": S.ravel(),
                }
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, neighbor_id long, cos_raw double"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 8).alias("cosine_sim"),
            "rank",
        )
    )


QUERIES = {
    "knn_bruteforce_cosine": knn_bruteforce_cosine,
    "ann_range_search_cosine": ann_range_search_cosine,
    "benchmark_contamination_semantic": benchmark_contamination_semantic,
    "mmr_diverse_topk": mmr_diverse_topk,
    "embedding_truncation_recall": embedding_truncation_recall,
    "knn_graph_degree_stats": knn_graph_degree_stats,
    "knn_pandas_cosine": knn_pandas_cosine,
    "embedding_quantize_int8": embedding_quantize_int8,
    "embedding_norms": embedding_norms,
    "label_centroid_sim": label_centroid_sim,
    "ann_lsh_cosine": ann_lsh_cosine,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "semantic_dedup": semantic_dedup,
    "semantic_dedup_threshold_sweep": semantic_dedup_threshold_sweep,
    "semantic_dedup_incremental": semantic_dedup_incremental,
    "ann_ivf_cosine": ann_ivf_cosine,
    "ann_ivf_partitioned_probe": ann_ivf_partitioned_probe,
    "ann_ivf_append_probe": ann_ivf_append_probe,
    "ann_store_snapshot_probe": ann_store_snapshot_probe,
    "ann_ivf_recall_report": ann_ivf_recall_report,
    "ann_ivf_recall_sweep": ann_ivf_recall_sweep,
    "ann_ivf_pq_cosine": ann_ivf_pq_cosine,
    "ann_ivf_pq_recall_report": ann_ivf_pq_recall_report,
    "ann_sq8_cosine": ann_sq8_cosine,
    "ann_ivf_sq8_cosine": ann_ivf_sq8_cosine,
    "ann_sq8_recall_report": ann_sq8_recall_report,
    "embedding_pq_codes": embedding_pq_codes,
    "kmeans_ivf_train": kmeans_ivf_train,
    "knn_hard_negatives": knn_hard_negatives,
    "embedding_dim_stats": embedding_dim_stats,
    "embedding_gram_matrix": embedding_gram_matrix,
    "embedding_pca_variance": embedding_pca_variance,
    "ann_ivf_cell_stats": ann_ivf_cell_stats,
    "embedding_opq_permutation": embedding_opq_permutation,
    "ann_ivf_opq_cosine": ann_ivf_opq_cosine,
    "ann_ivf_opq_rot_cosine": ann_ivf_opq_rot_cosine,
    "ann_ivf_opq_np_cosine": ann_ivf_opq_np_cosine,
    "ann_ivf_opq_recall_report": ann_ivf_opq_recall_report,
    "hybrid_search_rrf": hybrid_search_rrf,
    "embedding_drift_report": embedding_drift_report,
    "ann_ivf_incremental_assign": ann_ivf_incremental_assign,
}


_DUCK_COS = (
    "list_cosine_similarity(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
)


def _duck_planes_values() -> str:
    rows = []
    for p, plane in enumerate(hyperplanes()):
        arr = "[" + ", ".join(repr(v) for v in plane) + "]"
        rows.append(f"({p}, CAST({arr} AS DOUBLE[]))")
    return "planes(p, plane) AS (SELECT * FROM (VALUES " + ", ".join(rows) + "))"


def _duck_bucket_cte() -> str:
    # bucket = Σ 2^p over planes with non-negative dot product
    return f"""
        {_duck_planes_values()},
        bucketed AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                   CAST(SUM(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), plane) >= 0
                            THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
            FROM embeddings, planes
            GROUP BY vec_id, embedding
        )
    """


# shared CTE prefix: per-label decimal-mean centroids + nearest-cell
# assignment by (cosine DESC, cell ASC) — consumed by the ann_ivf_cosine
# and semantic_dedup oracles (identical text, so the two entries certify
# the same assignment semantics)
_DUCK_ASSIGN_CTES = """
        comp AS (
            SELECT vec_id, label, e[i + 1] AS v, i AS pos
            FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings),
                 UNNEST(range(len(e))) AS u(i)
        ),
        cent AS (
            SELECT label, pos,
                   CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v) AS c
            FROM comp GROUP BY label, pos
        ),
        centroids AS (
            SELECT label AS cell, list(c ORDER BY pos) AS centroid
            FROM cent GROUP BY label
        ),
        scored AS (
            SELECT v.vec_id, cc.cell, v.e,
                   list_cosine_similarity(v.e, cc.centroid) AS cell_cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_cosine_similarity(v.e, cc.centroid) DESC,
                                cc.cell ASC
                   ) AS cell_rank
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings) v
            CROSS JOIN centroids cc
        ),
        assign AS (
            SELECT vec_id, cell, e FROM scored WHERE cell_rank = 1
        )"""

ORACLE = {
    "embedding_quantize_int8": """
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                   list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                       x -> abs(x)), 'max') / 127.0 AS scale
            FROM embeddings
        ),
        quant AS (
            SELECT vec_id, e, scale,
                   list_transform(e, x -> CAST(round(x / scale) AS INTEGER))
                       AS q8
            FROM base
        )
        SELECT vec_id,
               scale,
               array_to_string(q8, ',') AS q8,
               list_aggregate(
                   list_transform(list_zip(e, q8),
                       p -> abs(p[1] - p[2] * scale)), 'max') AS max_abs_err
        FROM quant
    """,
    "knn_bruteforce_cosine": f"""
        SELECT query_id, neighbor_id, ROUND(cos_raw, 8) AS cosine_sim, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_DUCK_COS.format(a="q.embedding", b="c.embedding")} AS cos_raw,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_DUCK_COS.format(a="q.embedding", b="c.embedding")} DESC,
                                c.vec_id ASC
                   ) AS rank
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rank <= {TOP_K}
    """,
    "embedding_norms": """
        SELECT vec_id, label, CAST(len(embedding) AS INT) AS dim,
               ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[]))), 8) AS l2_norm
        FROM embeddings
    """,
    "label_centroid_sim": """
        WITH comp AS (
            SELECT vec_id, label, e[i + 1] AS v, i AS pos
            FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings),
                 UNNEST(range(len(e))) AS u(i)
        ),
        cent AS (
            SELECT label, pos,
                   CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v) AS c
            FROM comp GROUP BY label, pos
        ),
        centroids AS (
            SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label
        )
        SELECT e.vec_id, e.label,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.centroid), 6)
                   AS centroid_cosine
        FROM embeddings e JOIN centroids c ON e.label = c.label
    """,
    "ann_lsh_cosine": f"""
        WITH {_duck_bucket_cte()}
        SELECT query_id, neighbor_id, ROUND(cos_raw, 8) AS cosine_sim, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_cosine_similarity(q.e, c.e) AS cos_raw,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.vec_id ASC
                   ) AS rank
            FROM bucketed q JOIN bucketed c
              ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rank <= {TOP_K}
    """,
    "dedup_embedding_cosine": f"""
        SELECT doc_a, doc_b, ROUND(cos_raw, 8) AS cosine_sim FROM (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                   {_DUCK_COS.format(a="a.embedding", b="b.embedding")} AS cos_raw
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ) WHERE cos_raw >= {NEAR_DUP_THRESHOLD}
    """,
    "ann_ivf_cosine": f"""
        WITH {_DUCK_ASSIGN_CTES},
        probes AS (
            SELECT vec_id AS query_id, cell AS probe_cell, e AS q
            FROM scored
            WHERE vec_id < {N_QUERIES} AND cell_rank <= {N_PROBE}
        )
        SELECT query_id, neighbor_id, ROUND(cos_raw, 8) AS cosine_sim, rank FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   list_cosine_similarity(p.q, a.e) AS cos_raw,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.query_id
                       ORDER BY list_cosine_similarity(p.q, a.e) DESC,
                                a.vec_id ASC
                   ) AS rank
            FROM assign a JOIN probes p
              ON a.cell = p.probe_cell AND a.vec_id <> p.query_id
        ) WHERE rank <= {TOP_K}
    """,
}

# the Arrow/numpy twin must produce byte-identical top-k after round-8
ORACLE["knn_pandas_cosine"] = ORACLE["knn_bruteforce_cosine"]

def _duck_trunc_topk(d: int) -> str:
    cos = _DUCK_COS.format(
        a=f"(CAST(q.embedding AS DOUBLE[]))[1:{d}]",
        b=f"(CAST(c.embedding AS DOUBLE[]))[1:{d}]",
    )
    return f"""
        SELECT {d} AS dim, q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY q.vec_id ORDER BY {cos} DESC, c.vec_id
        ) <= {TOP_K}
    """


ORACLE["embedding_truncation_recall"] = f"""
    WITH topks AS (
        {" UNION ALL ".join(_duck_trunc_topk(d) for d in MRL_DIMS)}
    ),
    gt AS (
        SELECT query_id, neighbor_id FROM topks WHERE dim = {MRL_DIMS[-1]}
    ),
    hits AS (
        SELECT t.dim, COUNT(*) AS hits
        FROM topks t JOIN gt f
             ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
        GROUP BY t.dim
    )
    SELECT dim, CAST(hits AS INT) AS hits,
           {N_QUERIES * TOP_K} AS possible,
           (CAST((2000000 * hits + {N_QUERIES * TOP_K})
                 // (2 * {N_QUERIES * TOP_K}) AS DOUBLE) / 1000000.0)
               AS recall
    FROM hits
"""

# MMR oracle: the same greedy replayed as a recursive CTE — one row per
# (query, step); each iteration joins the remaining shortlist candidates,
# scores them against the selected-so-far list (pair sims via a per-cand
# MAP, list_max over the lookups), and QUALIFY-picks rn=1. Same doubles,
# same id tiebreak, so the trajectories are identical.
ORACLE["mmr_diverse_topk"] = f"""
    WITH RECURSIVE scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_DUCK_COS.format(a="q.embedding", b="c.embedding")} AS rel,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_DUCK_COS.format(a="q.embedding", b="c.embedding")}
                            DESC, c.vec_id
               ) AS rnk
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    short AS (
        SELECT query_id, neighbor_id, rel FROM scored
        WHERE rnk <= {MMR_SHORTLIST}
    ),
    prs AS (
        SELECT a.query_id, a.neighbor_id AS cand, b.neighbor_id AS other,
               {_DUCK_COS.format(a="ea.embedding", b="eb.embedding")} AS sim
        FROM short a
        JOIN short b ON a.query_id = b.query_id
                    AND a.neighbor_id <> b.neighbor_id
        JOIN embeddings ea ON ea.vec_id = a.neighbor_id
        JOIN embeddings eb ON eb.vec_id = b.neighbor_id
    ),
    cands AS (
        SELECT s.query_id, s.neighbor_id AS cand, s.rel, m.m
        FROM short s
        JOIN (
            SELECT query_id, cand,
                   MAP(list(other ORDER BY other),
                       list(sim ORDER BY other)) AS m
            FROM prs GROUP BY query_id, cand
        ) m ON m.query_id = s.query_id AND m.cand = s.neighbor_id
    ),
    rec AS (
        SELECT query_id, CAST([] AS BIGINT[]) AS sel, 0 AS step,
               CAST(NULL AS BIGINT) AS pick, CAST(NULL AS DOUBLE) AS score
        FROM (SELECT DISTINCT query_id FROM short)
        UNION ALL
        SELECT query_id, list_append(sel, cand), step + 1, cand, score
        FROM (
            SELECT r.query_id, r.sel, r.step, c.cand,
                   {MMR_LAMBDA} * c.rel - {MMR_MU} * COALESCE(
                       list_max(list_transform(r.sel, x -> c.m[x][1])), 0.0
                   ) AS score,
                   ROW_NUMBER() OVER (
                       PARTITION BY r.query_id
                       ORDER BY {MMR_LAMBDA} * c.rel - {MMR_MU} * COALESCE(
                           list_max(list_transform(r.sel, x -> c.m[x][1])),
                           0.0) DESC,
                           c.cand
                   ) AS rn
            FROM rec r
            JOIN cands c ON c.query_id = r.query_id
                        AND NOT list_contains(r.sel, c.cand)
            WHERE r.step < {MMR_K}
        ) WHERE rn = 1
    )
    SELECT query_id, step AS mmr_rank, pick AS neighbor_id,
           ROUND(score, 6) AS mmr_score
    FROM rec WHERE step >= 1
"""

ORACLE["ann_range_search_cosine"] = f"""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND({_DUCK_COS.format(a="q.embedding", b="c.embedding")}, 8)
               AS cosine_sim
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {N_QUERIES}
      AND {_DUCK_COS.format(a="q.embedding", b="c.embedding")} >= {RANGE_TAU}
"""

def _duck_sem_contam() -> str:
    from .textstats import CONTAM_MOD

    cos = _DUCK_COS.format(a="b.embedding", b="c.embedding")
    return f"""
    WITH hits AS (
        SELECT c.vec_id AS doc_id, {cos} AS cos_raw
        FROM embeddings c JOIN embeddings b
          ON NOT (c.vec_id % {CONTAM_MOD} = 0
                  AND c.vec_id < {SEM_BENCH_ID_CAP})
         AND b.vec_id % {CONTAM_MOD} = 0
         AND b.vec_id < {SEM_BENCH_ID_CAP}
        WHERE {cos} >= {SEM_CONTAM_TAU}
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
           ROUND(MAX(cos_raw), 8) AS max_bench_cos
    FROM hits GROUP BY doc_id
"""


ORACLE["benchmark_contamination_semantic"] = _duck_sem_contam()

ORACLE["knn_graph_degree_stats"] = f"""
    WITH knn AS ({ORACLE["knn_bruteforce_cosine"]}),
    deg AS (
        SELECT neighbor_id, COUNT(*) AS in_degree FROM knn GROUP BY neighbor_id
    )
    SELECT in_degree, COUNT(*) AS n_vectors,
           MIN(neighbor_id) AS example_vec
    FROM deg GROUP BY in_degree
"""

ORACLE["knn_hard_negatives"] = f"""
    SELECT query_id, query_label, neighbor_id, neighbor_label,
           ROUND(cos_raw, 8) AS cosine_sim, rank FROM (
        SELECT q.vec_id AS query_id, q.label AS query_label,
               c.vec_id AS neighbor_id, c.label AS neighbor_label,
               {_DUCK_COS.format(a="q.embedding", b="c.embedding")} AS cos_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_DUCK_COS.format(a="q.embedding", b="c.embedding")} DESC,
                            c.vec_id ASC
               ) AS rank
        FROM embeddings q JOIN embeddings c ON q.label <> c.label
        WHERE q.vec_id < {N_QUERIES}
    ) WHERE rank <= {TOP_K}
"""

ORACLE["embedding_dim_stats"] = """
    WITH comp AS (
        SELECT e[i + 1] AS v, CAST(i AS INT) AS pos
        FROM (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             UNNEST(range(len(e))) AS u(i)
    ),
    agg AS (
        SELECT pos, COUNT(v) AS n,
               CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v) AS mean,
               CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v)
                   AS mean_sq,
               MIN(v) AS mn, MAX(v) AS mx
        FROM comp GROUP BY pos
    )
    SELECT pos, n, ROUND(mean, 8) AS mean,
           ROUND(sqrt(GREATEST(mean_sq - mean * mean, 0)), 8) AS std,
           ROUND(mn, 8) AS min_v, ROUND(mx, 8) AS max_v
    FROM agg
"""

ORACLE["embedding_gram_matrix"] = """
    WITH comp AS (
        SELECT e[i + 1] AS vi, e[j + 1] AS vj,
               CAST(i AS INT) AS i, CAST(j AS INT) AS j
        FROM (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             UNNEST(range(len(e))) AS u(i), UNNEST(range(len(e))) AS v(j)
        WHERE j >= i
    )
    SELECT i, j,
           ROUND(CAST(SUM(CAST(vi * vj AS DECIMAL(28,12))) AS DOUBLE), 6)
               AS gram
    FROM comp GROUP BY i, j
"""

# eigen outputs aren't SQL-derivable; the gate certifies the exact decimal
# trace (= Σ eigenvalues by linear algebra) + in-engine conservation booleans
ORACLE["embedding_pca_variance"] = """
    WITH comp AS (
        SELECT e[i + 1] AS v, CAST(i AS INT) AS pos
        FROM (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             UNNEST(range(len(e))) AS u(i)
    ),
    agg AS (
        SELECT pos, COUNT(v) AS n,
               CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v)
                   AS mean,
               CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v)
                   AS mean_sq
        FROM comp GROUP BY pos
    )
    SELECT CAST(COUNT(*) AS INT) AS dim,
           CAST(MAX(n) AS BIGINT) AS n_vectors,
           ROUND(CAST(SUM(CAST(GREATEST(mean_sq - mean * mean, 0)
                AS DECIMAL(28,12))) AS DOUBLE), 6) AS trace_var,
           TRUE AS eig_sum_ok,
           TRUE AS eig_nonneg_ok
    FROM agg
"""

# OPQ-NP: the alternation (trained codebooks + Procrustes solves) is not
# SQL — same stance as ann_ivf_opq_rot_cosine: the oracle certifies the
# decimal-exact trace + corpus counts and the live invariant booleans
# (orthonormality, block-descent monotone distortion, completeness,
# recall ≥ OPQ-P); the full training loop is replayed bit-exactly in
# tests/test_corpus.py (decimal group sums make each round deterministic)
ORACLE["ann_ivf_opq_np_cosine"] = f"""
    WITH comp AS (
        SELECT e[i + 1] AS v, CAST(i AS INT) AS pos
        FROM (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             UNNEST(range(len(e))) AS u(i)
    ),
    agg AS (
        SELECT pos, COUNT(v) AS n,
               CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v)
                   AS mean,
               CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v)
                   AS mean_sq
        FROM comp GROUP BY pos
    )
    SELECT CAST(COUNT(*) AS INT) AS dim,
           CAST(MAX(n) AS BIGINT) AS n_vectors,
           CAST({OPQ_NP_ROUNDS} AS INT) AS np_rounds,
           ROUND(CAST(SUM(CAST(GREATEST(mean_sq - mean * mean, 0)
                AS DECIMAL(28,12))) AS DOUBLE), 6) AS trace_var,
           TRUE AS rot_orthonormal_ok,
           TRUE AS distortion_nonincreasing_ok,
           TRUE AS topk_complete_ok,
           TRUE AS recall_ge_opq_p_ok
    FROM agg
"""

# standing = even vec_id, arriving = odd; frozen centroids trained on
# standing only, rebuilt centroids on everything; every count, the
# agreement, the decimal-exact max per-dim shift, and the integer
# re-train trigger recomputed from scratch
ORACLE["ann_ivf_incremental_assign"] = """
    WITH src AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ),
    old AS (SELECT * FROM src WHERE vec_id % 2 = 0),
    arr AS (SELECT * FROM src WHERE vec_id % 2 = 1),
    compf AS (
        SELECT label, e[i + 1] AS v, i AS pos
        FROM old, UNNEST(range(len(e))) AS u(i)
    ),
    centf AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v) AS c
        FROM compf GROUP BY label, pos
    ),
    cf AS (
        SELECT label AS cell, list(c ORDER BY pos) AS centroid
        FROM centf GROUP BY label
    ),
    compr AS (
        SELECT label, e[i + 1] AS v, i AS pos
        FROM src, UNNEST(range(len(e))) AS u(i)
    ),
    centr AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v) AS c
        FROM compr GROUP BY label, pos
    ),
    cr AS (
        SELECT label AS cell, list(c ORDER BY pos) AS centroid
        FROM centr GROUP BY label
    ),
    sassign AS (
        SELECT vec_id, cell FROM (
            SELECT o.vec_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY o.vec_id
                       ORDER BY list_cosine_similarity(o.e, c.centroid)
                                DESC, c.cell ASC) AS rk
            FROM old o CROSS JOIN cf c
        ) WHERE rk = 1
    ),
    afrozen AS (
        SELECT vec_id, cell FROM (
            SELECT n.vec_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY list_cosine_similarity(n.e, c.centroid)
                                DESC, c.cell ASC) AS rk
            FROM arr n CROSS JOIN cf c
        ) WHERE rk = 1
    ),
    arebuilt AS (
        SELECT vec_id, cell FROM (
            SELECT n.vec_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY list_cosine_similarity(n.e, c.centroid)
                                DESC, c.cell ASC) AS rk
            FROM arr n CROSS JOIN cr c
        ) WHERE rk = 1
    ),
    occ AS (
        SELECT cell, COUNT(*) AS n_standing FROM sassign GROUP BY cell
    ),
    acmp AS (
        SELECT f.cell, COUNT(*) AS n_arrived,
               CAST(SUM(CASE WHEN f.cell = r.cell THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_agree_rebuild
        FROM afrozen f JOIN arebuilt r USING (vec_id)
        GROUP BY f.cell
    ),
    shift AS (
        SELECT f.cell,
               ROUND(list_aggregate(
                   list_transform(list_zip(f.centroid, r.centroid),
                                  p -> abs(p[1] - p[2])), 'max'),
                   8) AS centroid_shift
        FROM cf f JOIN cr r USING (cell)
    )
    SELECT s.cell,
           COALESCE(o.n_standing, 0) AS n_standing,
           COALESCE(a.n_arrived, 0) AS n_arrived,
           COALESCE(a.n_agree_rebuild, 0) AS n_agree_rebuild,
           s.centroid_shift,
           CAST((COALESCE(a.n_arrived, 0) * 2
                     > COALESCE(o.n_standing, 0) * 3
                 OR s.centroid_shift > 0.01) AS INT) AS retrain
    FROM shift s
    LEFT JOIN occ o USING (cell)
    LEFT JOIN acmp a USING (cell)
"""

ORACLE["ann_ivf_append_probe"] = f"""
    WITH src AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ),
    old AS (SELECT * FROM src WHERE vec_id % 2 = 0),
    compf AS (
        SELECT label, e[i + 1] AS v, i AS pos
        FROM old, UNNEST(range(len(e))) AS u(i)
    ),
    centf AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v) AS c
        FROM compf GROUP BY label, pos
    ),
    cf AS (
        SELECT label AS cell, list(c ORDER BY pos) AS centroid
        FROM centf GROUP BY label
    ),
    compr AS (
        SELECT label, e[i + 1] AS v, i AS pos
        FROM src, UNNEST(range(len(e))) AS u(i)
    ),
    centr AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v) AS c
        FROM compr GROUP BY label, pos
    ),
    cr AS (
        SELECT label AS cell, list(c ORDER BY pos) AS centroid
        FROM centr GROUP BY label
    ),
    fscored AS (
        SELECT s.vec_id, c.cell, s.e,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id
                   ORDER BY list_cosine_similarity(s.e, c.centroid) DESC,
                            c.cell ASC) AS rk
        FROM src s CROSS JOIN cf c
    ),
    fassign AS (SELECT vec_id, cell, e FROM fscored WHERE rk = 1),
    ftop AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.query_id
                       ORDER BY list_cosine_similarity(p.q, a.e) DESC,
                                a.vec_id ASC) AS rank
            FROM fassign a JOIN (
                SELECT vec_id AS query_id, cell AS probe_cell, e AS q
                FROM fscored
                WHERE vec_id < {N_QUERIES} AND rk <= {N_PROBE}
            ) p ON a.cell = p.probe_cell AND a.vec_id <> p.query_id
        ) WHERE rank <= {TOP_K}
    ),
    gscored AS (
        SELECT s.vec_id, c.cell, s.e,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id
                   ORDER BY list_cosine_similarity(s.e, c.centroid) DESC,
                            c.cell ASC) AS rk
        FROM src s CROSS JOIN cr c
    ),
    gassign AS (SELECT vec_id, cell, e FROM gscored WHERE rk = 1),
    gtop AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.query_id
                       ORDER BY list_cosine_similarity(p.q, a.e) DESC,
                                a.vec_id ASC) AS rank
            FROM gassign a JOIN (
                SELECT vec_id AS query_id, cell AS probe_cell, e AS q
                FROM gscored
                WHERE vec_id < {N_QUERIES} AND rk <= {N_PROBE}
            ) p ON a.cell = p.probe_cell AND a.vec_id <> p.query_id
        ) WHERE rank <= {TOP_K}
    ),
    rk_agree AS (
        SELECT a.query_id, COUNT(*) AS n_topk,
               CAST(SUM(CASE WHEN a.neighbor_id = b.neighbor_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_rank_agree
        FROM ftop a JOIN gtop b
          ON a.query_id = b.query_id AND a.rank = b.rank
        GROUP BY a.query_id
    ),
    set_agree AS (
        SELECT f.query_id, COUNT(*) AS n_set_agree
        FROM ftop f JOIN gtop g
          ON f.query_id = g.query_id AND f.neighbor_id = g.neighbor_id
        GROUP BY f.query_id
    ),
    occ AS (
        SELECT cell,
               SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_standing,
               SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS n_arrived
        FROM fassign GROUP BY cell
    ),
    shift AS (
        SELECT f.cell,
               ROUND(list_aggregate(
                   list_transform(list_zip(f.centroid, r.centroid),
                                  p -> abs(p[1] - p[2])), 'max'),
                   8) AS centroid_shift
        FROM cf f JOIN cr r USING (cell)
    ),
    anyr AS (
        SELECT MAX(CASE WHEN COALESCE(o.n_arrived, 0) * 2
                             > COALESCE(o.n_standing, 0) * 3
                         OR s.centroid_shift > 0.01
                    THEN 1 ELSE 0 END) AS any_retrain
        FROM shift s LEFT JOIN occ o USING (cell)
    )
    SELECT r.query_id, r.n_topk, r.n_rank_agree,
           COALESCE(sa.n_set_agree, 0) AS n_set_agree,
           CAST(anyr.any_retrain AS INT) AS any_retrain
    FROM rk_agree r
    LEFT JOIN set_agree sa USING (query_id)
    CROSS JOIN anyr
    ORDER BY r.query_id
"""

# The snapshot-store probe: BOTH versions assign under the FROZEN
# standing centroids (cf) — v1's corpus is the standing (even) half, v2
# adds the appended batch; the snapshot/manifest machinery is execution
# detail (which files a probe opens), the ANSWER is pure probe algebra,
# so the oracle re-derives both probes from the embeddings table alone.
ORACLE["ann_store_snapshot_probe"] = f"""
    WITH src AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ),
    old AS (SELECT * FROM src WHERE vec_id % 2 = 0),
    compf AS (
        SELECT label, e[i + 1] AS v, i AS pos
        FROM old, UNNEST(range(len(e))) AS u(i)
    ),
    centf AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v) AS c
        FROM compf GROUP BY label, pos
    ),
    cf AS (
        SELECT label AS cell, list(c ORDER BY pos) AS centroid
        FROM centf GROUP BY label
    ),
    fscored AS (
        SELECT s.vec_id, c.cell, s.e,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id
                   ORDER BY list_cosine_similarity(s.e, c.centroid) DESC,
                            c.cell ASC) AS rk
        FROM src s CROSS JOIN cf c
    ),
    fassign AS (SELECT vec_id, cell, e FROM fscored WHERE rk = 1),
    probes AS (
        SELECT vec_id AS query_id, cell AS probe_cell, e AS q
        FROM fscored
        WHERE vec_id < {N_QUERIES} AND rk <= {N_PROBE}
    ),
    pretop AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.query_id
                       ORDER BY list_cosine_similarity(p.q, a.e) DESC,
                                a.vec_id ASC) AS rank
            FROM fassign a JOIN probes p
              ON a.cell = p.probe_cell AND a.vec_id <> p.query_id
            WHERE a.vec_id % 2 = 0
        ) WHERE rank <= {TOP_K}
    ),
    posttop AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.query_id
                       ORDER BY list_cosine_similarity(p.q, a.e) DESC,
                                a.vec_id ASC) AS rank
            FROM fassign a JOIN probes p
              ON a.cell = p.probe_cell AND a.vec_id <> p.query_id
        ) WHERE rank <= {TOP_K}
    ),
    pre_agg AS (
        SELECT query_id, COUNT(*) AS n_topk_pre FROM pretop GROUP BY query_id
    ),
    post_agg AS (
        SELECT query_id, COUNT(*) AS n_topk_post,
               CAST(SUM(CASE WHEN neighbor_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_from_batch
        FROM posttop GROUP BY query_id
    ),
    sagree AS (
        SELECT a.query_id, COUNT(*) AS n_set_agree
        FROM pretop a JOIN posttop b
          ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
        GROUP BY a.query_id
    )
    SELECT p.query_id,
           CAST(p.n_topk_pre AS BIGINT) AS n_topk_pre,
           CAST(q.n_topk_post AS BIGINT) AS n_topk_post,
           CAST(COALESCE(s.n_set_agree, 0) AS BIGINT) AS n_set_agree,
           q.n_from_batch
    FROM pre_agg p
    JOIN post_agg q USING (query_id)
    LEFT JOIN sagree s USING (query_id)
    ORDER BY p.query_id
"""

ORACLE["semantic_dedup"] = f"""
    WITH {_DUCK_ASSIGN_CTES},
    dup AS (
        SELECT DISTINCT a.vec_id
        FROM assign a JOIN assign b
          ON a.cell = b.cell AND b.vec_id < a.vec_id
        WHERE list_cosine_similarity(a.e, b.e) >= {SEMDEDUP_THRESHOLD}
    )
    SELECT s.vec_id, s.cell, d.vec_id IS NOT NULL AS is_semdup
    FROM assign s LEFT JOIN dup d ON s.vec_id = d.vec_id
"""

_SWEEP_VALUES = ", ".join(f"({e!r})" for e in SEMDEDUP_SWEEP)
ORACLE["semantic_dedup_threshold_sweep"] = f"""
    WITH {_DUCK_ASSIGN_CTES},
    mc AS (
        SELECT a.vec_id,
               MAX(list_cosine_similarity(a.e, b.e)) AS max_cos
        FROM assign a JOIN assign b
          ON a.cell = b.cell AND b.vec_id < a.vec_id
        GROUP BY a.vec_id
    ),
    tot AS (SELECT COUNT(*) AS n FROM assign),
    eps(eps) AS (SELECT * FROM (VALUES {_SWEEP_VALUES}))
    SELECT e.eps,
           CAST(tot.n AS BIGINT) AS n_total,
           CAST((SELECT COUNT(*) FROM mc WHERE mc.max_cos >= e.eps)
                AS BIGINT) AS n_semdup,
           CAST(tot.n - (SELECT COUNT(*) FROM mc
                         WHERE mc.max_cos >= e.eps) AS BIGINT) AS n_kept
    FROM eps e CROSS JOIN tot
    ORDER BY e.eps
"""

ORACLE["semantic_dedup_incremental"] = f"""
    WITH src AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ),
    old AS (SELECT * FROM src WHERE vec_id % 2 = 0),
    compf AS (
        SELECT label, e[i + 1] AS v, i AS pos
        FROM old, UNNEST(range(len(e))) AS u(i)
    ),
    centf AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v) AS c
        FROM compf GROUP BY label, pos
    ),
    cf AS (
        SELECT label AS cell, list(c ORDER BY pos) AS centroid
        FROM centf GROUP BY label
    ),
    fscored AS (
        SELECT s.vec_id, c.cell, s.e,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id
                   ORDER BY list_cosine_similarity(s.e, c.centroid) DESC,
                            c.cell ASC) AS rk
        FROM src s CROSS JOIN cf c
    ),
    fassign AS (SELECT vec_id, cell, e FROM fscored WHERE rk = 1),
    stand AS (SELECT * FROM fassign WHERE vec_id % 2 = 0),
    arr AS (SELECT * FROM fassign WHERE vec_id % 2 = 1),
    vstand AS (
        SELECT a.vec_id,
               MAX(CASE WHEN list_cosine_similarity(a.e, s.e)
                             >= {SEMDEDUP_THRESHOLD}
                        THEN 1 ELSE 0 END) AS hit
        FROM arr a JOIN stand s ON a.cell = s.cell
        GROUP BY a.vec_id
    ),
    varr AS (
        SELECT a.vec_id,
               MAX(CASE WHEN list_cosine_similarity(a.e, b.e)
                             >= {SEMDEDUP_THRESHOLD}
                        THEN 1 ELSE 0 END) AS hit
        FROM arr a JOIN arr b
          ON a.cell = b.cell AND b.vec_id < a.vec_id
        GROUP BY a.vec_id
    )
    SELECT a.vec_id, a.cell,
           COALESCE(vs.hit, 0) = 1 AS dup_vs_standing,
           COALESCE(va.hit, 0) = 1 AS dup_vs_batch,
           (COALESCE(vs.hit, 0) = 1 OR COALESCE(va.hit, 0) = 1)
               AS is_semdup
    FROM arr a
    LEFT JOIN vstand vs ON a.vec_id = vs.vec_id
    LEFT JOIN varr va ON a.vec_id = va.vec_id
"""

# the cell-partitioned store probe returns the same top-k as the map-only
# Arrow formulation — one oracle certifies both storage stories
ORACLE["ann_ivf_partitioned_probe"] = ORACLE["ann_ivf_cosine"]

ORACLE["ann_ivf_cell_stats"] = f"""
    WITH {_DUCK_ASSIGN_CTES},
    counts AS (
        SELECT cell, COUNT(*) AS n_vectors FROM assign GROUP BY cell
    ),
    tot AS (SELECT SUM(n_vectors) AS total, COUNT(*) AS k FROM counts)
    SELECT cell, n_vectors,
           ROUND(CAST(n_vectors AS DOUBLE) / total, 6) AS frac,
           ROUND(CAST(n_vectors AS DOUBLE) / (CAST(total AS DOUBLE) / k), 6)
               AS load_factor
    FROM counts CROSS JOIN tot
"""


def _duck_ivf_topk_sql(n_probe: int) -> str:
    """Per-probe IVF top-k pairs (consumed by the recall-report oracle);
    shares the assignment CTEs already in scope."""
    return f"""
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.query_id
                       ORDER BY list_cosine_similarity(p.q, a.e) DESC,
                                a.vec_id ASC
                   ) AS rank
            FROM assign a JOIN (
                SELECT vec_id AS query_id, cell AS probe_cell, e AS q
                FROM scored
                WHERE vec_id < {N_QUERIES} AND cell_rank <= {n_probe}
            ) p ON a.cell = p.probe_cell AND a.vec_id <> p.query_id
        ) WHERE rank <= {TOP_K}
    """


_DUCK_RECALL_CAND = " UNION ALL ".join(
    f"SELECT {p} AS n_probe, query_id, neighbor_id"
    f" FROM ({_duck_ivf_topk_sql(p)}) ivf{p}"
    for p in RECALL_PROBES
)

ORACLE["ann_ivf_recall_report"] = f"""
    WITH {_DUCK_ASSIGN_CTES},
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_DUCK_COS.format(a="q.embedding", b="c.embedding")} DESC,
                                c.vec_id ASC
                   ) AS rank
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rank <= {TOP_K}
    ),
    cand AS ({_DUCK_RECALL_CAND})
    SELECT c.n_probe,
           CAST({TOP_K} AS INT) AS top_k,
           COUNT(*) AS hits,
           (SELECT COUNT(*) FROM bf) AS total_pairs,
           ROUND(CAST(COUNT(*) AS DOUBLE) /
                 (SELECT COUNT(*) FROM bf), 6) AS recall
    FROM cand c JOIN bf ON c.query_id = bf.query_id
                       AND c.neighbor_id = bf.neighbor_id
    GROUP BY c.n_probe
"""

# the one-pass sweep must land on the identical curve — shared oracle
# text is the certification (the simhash64 wide-layout twin precedent)
ORACLE["ann_ivf_recall_sweep"] = ORACLE["ann_ivf_recall_report"]

# --- IVF-PQ oracles: the ENTIRE encode → ADC → top-k pipeline in SQL ---------
# The codebook is a deterministic artifact of the decimal-mean centroids
# (code_id = centroid rank by cell), so DuckDB reproduces codes, recon
# norms and ADC scores full-value — not rows-only. Same float stance as
# the IVF family: numpy reassociates adds vs SQL's folds; parity verified
# on the fixed testdata, ties broken (code_id ASC / neighbor_id ASC).
_DUCK_PQ_CTES = f"""
        codebook AS (
            SELECT b.m, c.code_id,
                   c.centroid[b.m * {PQ_SUB} + 1 : b.m * {PQ_SUB} + {PQ_SUB}]
                       AS cw,
                   list_dot_product(
                       c.centroid[b.m * {PQ_SUB} + 1 : b.m * {PQ_SUB} + {PQ_SUB}],
                       c.centroid[b.m * {PQ_SUB} + 1 : b.m * {PQ_SUB} + {PQ_SUB}]
                   ) AS cw2
            FROM (SELECT ROW_NUMBER() OVER (ORDER BY cell) - 1 AS code_id,
                         centroid
                  FROM centroids) c
            CROSS JOIN (SELECT CAST(i AS INT) AS m
                        FROM UNNEST(range({PQ_M})) AS u(i)) b
        ),
        enc AS (
            SELECT a.vec_id, a.cell, b.m, b.code_id, b.cw, b.cw2,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id, b.m
                       ORDER BY (list_dot_product(
                                     a.e[b.m * {PQ_SUB} + 1 : b.m * {PQ_SUB} + {PQ_SUB}],
                                     a.e[b.m * {PQ_SUB} + 1 : b.m * {PQ_SUB} + {PQ_SUB}])
                                 - 2.0 * list_dot_product(
                                     a.e[b.m * {PQ_SUB} + 1 : b.m * {PQ_SUB} + {PQ_SUB}],
                                     b.cw)) + b.cw2 ASC,
                                b.code_id ASC
                   ) AS rk
            FROM assign a CROSS JOIN codebook b
        ),
        codes AS (
            SELECT vec_id, cell, m, code_id, cw, cw2 FROM enc WHERE rk = 1
        ),
        rnorm AS (
            SELECT vec_id, sqrt(SUM(cw2)) AS rn FROM codes GROUP BY vec_id
        )"""


def _duck_pq_topk_sql(n_probe: int) -> str:
    """Per-probe IVF-PQ top-k pairs: ADC scan → PQ_REFINE shortlist →
    exact cosine re-rank (the refine stage). Expects the assignment CTEs
    and ``_DUCK_PQ_CTES`` already in scope."""
    return f"""
        SELECT query_id, neighbor_id, adc_raw, cos_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_raw DESC, neighbor_id ASC
               ) AS rank
        FROM (
            SELECT s.query_id, s.neighbor_id, s.adc_raw,
                   list_cosine_similarity(qv.e, cv.e) AS cos_raw
            FROM (
                SELECT query_id, neighbor_id, adc_raw,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY adc_raw DESC, neighbor_id ASC
                       ) AS adc_rank
                FROM (
                    SELECT p.query_id, c.vec_id AS neighbor_id,
                           SUM(list_dot_product(
                               p.q[c.m * {PQ_SUB} + 1 : c.m * {PQ_SUB} + {PQ_SUB}],
                               c.cw)) / (p.qn * r.rn) AS adc_raw
                    FROM codes c
                    JOIN (SELECT vec_id AS query_id, cell AS probe_cell,
                                 e AS q,
                                 sqrt(list_dot_product(e, e)) AS qn
                          FROM scored
                          WHERE vec_id < {N_QUERIES}
                            AND cell_rank <= {n_probe}) p
                      ON c.cell = p.probe_cell AND c.vec_id <> p.query_id
                    JOIN rnorm r ON r.vec_id = c.vec_id
                    GROUP BY p.query_id, c.vec_id, p.qn, r.rn
                )
            ) s
            JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings) qv ON qv.vec_id = s.query_id
            JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings) cv ON cv.vec_id = s.neighbor_id
            WHERE s.adc_rank <= {PQ_REFINE}
        )
    """


ORACLE["ann_ivf_pq_cosine"] = f"""
    WITH {_DUCK_ASSIGN_CTES},
    {_DUCK_PQ_CTES}
    SELECT query_id, neighbor_id, ROUND(adc_raw, 8) AS adc_cos,
           ROUND(cos_raw, 8) AS cosine_sim, rank
    FROM ({_duck_pq_topk_sql(N_PROBE)})
    WHERE rank <= {TOP_K}
"""

_DUCK_PQ_RECALL_CAND = " UNION ALL ".join(
    f"SELECT {p} AS n_probe, query_id, neighbor_id"
    f" FROM ({_duck_pq_topk_sql(p)}) pq{p} WHERE rank <= {TOP_K}"
    for p in RECALL_PROBES
)

ORACLE["ann_ivf_pq_recall_report"] = f"""
    WITH {_DUCK_ASSIGN_CTES},
    {_DUCK_PQ_CTES},
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_DUCK_COS.format(a="q.embedding", b="c.embedding")} DESC,
                                c.vec_id ASC
                   ) AS rank
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rank <= {TOP_K}
    ),
    cand AS ({_DUCK_PQ_RECALL_CAND})
    SELECT c.n_probe,
           CAST({TOP_K} AS INT) AS top_k,
           COUNT(*) AS hits,
           (SELECT COUNT(*) FROM bf) AS total_pairs,
           ROUND(CAST(COUNT(*) AS DOUBLE) /
                 (SELECT COUNT(*) FROM bf), 6) AS recall
    FROM cand c JOIN bf ON c.query_id = bf.query_id
                       AND c.neighbor_id = bf.neighbor_id
    GROUP BY c.n_probe
"""

# SQ8: per-dim trained ranges + clamp/floor/midpoint reconstruction — the
# IDENTICAL IEEE double op sequence as _sq8_recon, so reconstructions are
# bit-equal across engines (ranges are exact min/max)
_DUCK_SQ8_CTES = f"""
    src AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    dims AS (
        SELECT i AS pos, MIN(e[i + 1]) AS lo,
               MAX(e[i + 1]) - MIN(e[i + 1]) AS sp
        FROM src, UNNEST(range(len(e))) AS u(i)
        GROUP BY i
    ),
    ranges AS (
        SELECT list(lo ORDER BY pos) AS vmin, list(sp ORDER BY pos) AS span
        FROM dims
    ),
    recon AS (
        SELECT s.vec_id,
               list_transform(list_zip(s.e, r.vmin, r.span),
                   p -> p[2] + (CASE WHEN p[3] = 0 THEN 0.0
                                ELSE LEAST({SQ8_LEVELS}.0, GREATEST(0.0,
                                     FLOOR((p[1] - p[2]) * {SQ8_LEVELS}.0
                                           / p[3]))) END
                                + 0.5) * p[3] / {SQ8_LEVELS}.0) AS r
        FROM src s, ranges r
    )"""

ORACLE["ann_sq8_cosine"] = f"""
    WITH {_DUCK_SQ8_CTES}
    SELECT query_id, neighbor_id, ROUND(cos_raw, 8) AS sq8_cos, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(q.e, c.r) AS cos_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.e, c.r) DESC,
                            c.vec_id ASC
               ) AS rank
        FROM src q JOIN recon c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ) WHERE rank <= {TOP_K}
"""

ORACLE["ann_ivf_sq8_cosine"] = f"""
    WITH {_DUCK_ASSIGN_CTES},
    {_DUCK_SQ8_CTES},
    probes AS (
        SELECT vec_id AS query_id, cell AS probe_cell, e AS q
        FROM scored
        WHERE vec_id < {N_QUERIES} AND cell_rank <= {N_PROBE}
    )
    SELECT query_id, neighbor_id, ROUND(cos_raw, 8) AS sq8_cos, rank FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               list_cosine_similarity(p.q, r.r) AS cos_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY p.query_id
                   ORDER BY list_cosine_similarity(p.q, r.r) DESC,
                            a.vec_id ASC
               ) AS rank
        FROM assign a
        JOIN recon r ON a.vec_id = r.vec_id
        JOIN probes p ON a.cell = p.probe_cell AND a.vec_id <> p.query_id
    ) WHERE rank <= {TOP_K}
"""

ORACLE["ann_sq8_recall_report"] = f"""
    WITH sq AS ({ORACLE["ann_sq8_cosine"]}),
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_DUCK_COS.format(a="q.embedding", b="c.embedding")} DESC,
                                c.vec_id ASC
                   ) AS rank
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rank <= {TOP_K}
    ),
    tot AS (SELECT query_id, COUNT(*) AS n_topk FROM sq GROUP BY query_id),
    m AS (
        SELECT s.query_id, COUNT(*) AS n_match
        FROM sq s JOIN bf b
          ON s.query_id = b.query_id AND s.neighbor_id = b.neighbor_id
        GROUP BY s.query_id
    )
    SELECT t.query_id, t.n_topk, COALESCE(m.n_match, 0) AS n_match
    FROM tot t LEFT JOIN m ON t.query_id = m.query_id
    ORDER BY t.query_id
"""

ORACLE["embedding_pq_codes"] = f"""
    WITH {_DUCK_ASSIGN_CTES},
    {_DUCK_PQ_CTES},
    xr AS (
        SELECT c.vec_id,
               string_agg(CAST(c.code_id AS VARCHAR), ',' ORDER BY c.m)
                   AS codes_csv,
               SUM(list_dot_product(
                   a.e[c.m * {PQ_SUB} + 1 : c.m * {PQ_SUB} + {PQ_SUB}],
                   c.cw)) AS xdotr,
               SUM(c.cw2) AS rr,
               any_value(list_dot_product(a.e, a.e)) AS xx,
               any_value(a.cell) AS cell
        FROM codes c JOIN assign a ON a.vec_id = c.vec_id
        GROUP BY c.vec_id
    )
    SELECT vec_id, cell, codes_csv,
           ROUND(sqrt(GREATEST(xx - 2.0 * xdotr + rr, 0.0)) / sqrt(xx), 6)
               AS recon_rel_err
    FROM xr
"""

# --- OPQ oracles: allocation + the permuted encode→ADC→top-k in SQL ---------
# The permutation derives from decimal-exact per-dim variances (identical
# across engines — the embedding_pca_variance device), so the WHOLE
# permuted PQ pipeline stays full-value certified: DuckDB reproduces the
# allocation, the gathered subvectors, codes, recon norms, ADC scores and
# the exact refine. Same float stance and tie-breaks as the PQ oracles.
_DUCK_OPQ_PERM_CTES = f"""
        dimstat AS (
            SELECT pos,
                   CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(v) AS mu,
                   CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(v) AS msq
            FROM comp GROUP BY pos
        ),
        dimrank AS (
            SELECT pos, GREATEST(msq - mu * mu, 0.0) AS dim_var,
                   ROW_NUMBER() OVER (
                       ORDER BY GREATEST(msq - mu * mu, 0.0) DESC, pos ASC
                   ) - 1 AS rk
            FROM dimstat
        ),
        opq_perm AS (
            SELECT pos, dim_var, rk,
                   CASE WHEN ((rk // {PQ_M}) % 2) = 0 THEN rk % {PQ_M}
                        ELSE {PQ_M - 1} - (rk % {PQ_M}) END AS subspace,
                   rk // {PQ_M} AS slot
            FROM dimrank
        )"""

ORACLE["embedding_opq_permutation"] = f"""
    WITH {_DUCK_ASSIGN_CTES},
    {_DUCK_OPQ_PERM_CTES}
    SELECT CAST(pos AS INT) AS pos,
           ROUND(dim_var, 10) AS dim_var,
           CAST(rk AS INT) AS var_rank,
           CAST(subspace AS INT) AS subspace,
           CAST(slot AS INT) AS slot
    FROM opq_perm
"""

_DUCK_OPQ_CTES = f"""
        opq_cb AS (
            SELECT p.subspace AS m, c.code_id,
                   list(c.centroid[p.pos + 1] ORDER BY p.slot) AS cw
            FROM (SELECT ROW_NUMBER() OVER (ORDER BY cell) - 1 AS code_id,
                         centroid
                  FROM centroids) c
            CROSS JOIN opq_perm p
            GROUP BY p.subspace, c.code_id
        ),
        ocb AS (
            SELECT m, code_id, cw, list_dot_product(cw, cw) AS cw2
            FROM opq_cb
        ),
        osub AS (
            SELECT a.vec_id, a.cell, p.subspace AS m,
                   list(a.e[p.pos + 1] ORDER BY p.slot) AS sub
            FROM assign a CROSS JOIN opq_perm p
            GROUP BY a.vec_id, a.cell, p.subspace
        ),
        oenc AS (
            SELECT s.vec_id, s.cell, s.m, b.code_id, b.cw, b.cw2,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id, s.m
                       ORDER BY (list_dot_product(s.sub, s.sub)
                                 - 2.0 * list_dot_product(s.sub, b.cw))
                                + b.cw2 ASC,
                                b.code_id ASC
                   ) AS rk
            FROM osub s JOIN ocb b ON b.m = s.m
        ),
        ocodes AS (
            SELECT vec_id, cell, m, code_id, cw, cw2 FROM oenc WHERE rk = 1
        ),
        ornorm AS (
            SELECT vec_id, sqrt(SUM(cw2)) AS rn FROM ocodes GROUP BY vec_id
        )"""


def _duck_opq_topk_sql(n_probe: int) -> str:
    """Per-probe OPQ-allocated IVF-PQ top-k pairs: gathered-subvector ADC
    scan → PQ_REFINE shortlist → exact cosine re-rank. Expects the
    assignment, ``_DUCK_OPQ_PERM_CTES`` and ``_DUCK_OPQ_CTES`` CTEs in
    scope."""
    return f"""
        SELECT query_id, neighbor_id, adc_raw, cos_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_raw DESC, neighbor_id ASC
               ) AS rank
        FROM (
            SELECT s.query_id, s.neighbor_id, s.adc_raw,
                   list_cosine_similarity(qv.e, cv.e) AS cos_raw
            FROM (
                SELECT query_id, neighbor_id, adc_raw,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY adc_raw DESC, neighbor_id ASC
                       ) AS adc_rank
                FROM (
                    SELECT qs.query_id, c.vec_id AS neighbor_id,
                           SUM(list_dot_product(qs.qs, c.cw))
                               / (qs.qn * r.rn) AS adc_raw
                    FROM ocodes c
                    JOIN (
                        SELECT q.vec_id AS query_id, q.cell AS probe_cell,
                               q.qn, p.subspace AS m,
                               list(q.e[p.pos + 1] ORDER BY p.slot) AS qs
                        FROM (SELECT vec_id, cell, e,
                                     sqrt(list_dot_product(e, e)) AS qn
                              FROM scored
                              WHERE vec_id < {N_QUERIES}
                                AND cell_rank <= {n_probe}) q
                        CROSS JOIN opq_perm p
                        GROUP BY q.vec_id, q.cell, q.qn, p.subspace
                    ) qs ON c.cell = qs.probe_cell AND c.m = qs.m
                        AND c.vec_id <> qs.query_id
                    JOIN ornorm r ON r.vec_id = c.vec_id
                    GROUP BY qs.query_id, c.vec_id, qs.qn, r.rn
                )
            ) s
            JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings) qv ON qv.vec_id = s.query_id
            JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings) cv ON cv.vec_id = s.neighbor_id
            WHERE s.adc_rank <= {PQ_REFINE}
        )
    """


ORACLE["ann_ivf_opq_cosine"] = f"""
    WITH {_DUCK_ASSIGN_CTES},
    {_DUCK_OPQ_PERM_CTES},
    {_DUCK_OPQ_CTES}
    SELECT query_id, neighbor_id, ROUND(adc_raw, 8) AS adc_cos,
           ROUND(cos_raw, 8) AS cosine_sim, rank
    FROM ({_duck_opq_topk_sql(N_PROBE)})
    WHERE rank <= {TOP_K}
"""

_DUCK_OPQ_RECALL_CAND = " UNION ALL ".join(
    f"SELECT {p} AS n_probe, query_id, neighbor_id"
    f" FROM ({_duck_opq_topk_sql(p)}) opq{p} WHERE rank <= {TOP_K}"
    for p in RECALL_PROBES
)

ORACLE["ann_ivf_opq_recall_report"] = f"""
    WITH {_DUCK_ASSIGN_CTES},
    {_DUCK_OPQ_PERM_CTES},
    {_DUCK_OPQ_CTES},
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_DUCK_COS.format(a="q.embedding", b="c.embedding")} DESC,
                                c.vec_id ASC
                   ) AS rank
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rank <= {TOP_K}
    ),
    cand AS ({_DUCK_OPQ_RECALL_CAND})
    SELECT c.n_probe,
           CAST({TOP_K} AS INT) AS top_k,
           COUNT(*) AS hits,
           (SELECT COUNT(*) FROM bf) AS total_pairs,
           ROUND(CAST(COUNT(*) AS DOUBLE) /
                 (SELECT COUNT(*) FROM bf), 6) AS recall
    FROM cand c JOIN bf ON c.query_id = bf.query_id
                       AND c.neighbor_id = bf.neighbor_id
    GROUP BY c.n_probe
"""

# RRF fusion: both legs' rankings reproduced exactly (BM25 oracle reused
# verbatim; cosine leg = the knn oracle's device), fused with the same
# fixed-order IEEE arithmetic as the Spark expression
from .textstats import BM25_TOPK as _BM25_TOPK  # noqa: E402
from .textstats import ORACLE as _TXT_ORACLE  # noqa: E402

ORACLE["hybrid_search_rrf"] = f"""
    WITH lex AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
        FROM ({_TXT_ORACLE["doc_bm25_search"]})
    ),
    vec AS (
        SELECT doc_id, rn AS vec_rank FROM (
            SELECT c.vec_id AS doc_id,
                   ROW_NUMBER() OVER (
                       ORDER BY {_DUCK_COS.format(a="c.embedding", b="q.embedding")} DESC,
                                c.vec_id ASC
                   ) AS rn
            FROM embeddings c JOIN embeddings q ON q.vec_id = 0
            WHERE c.vec_id <> 0
        ) WHERE rn <= {_BM25_TOPK}
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               CAST(l.lex_rank AS INT) AS lex_rank,
               CAST(v.vec_rank AS INT) AS vec_rank,
               COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + l.lex_rank), 0.0)
                   + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + v.vec_rank),
                              0.0) AS rrf_raw
        FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank, ROUND(rrf_raw, 8) AS rrf_score
    FROM fused ORDER BY rrf_raw DESC, doc_id ASC LIMIT {RRF_TOPK}
"""

ORACLE["embedding_drift_report"] = """
    WITH comp AS (
        SELECT (vec_id % 2 = 0) AS is_old, i AS pos, e[i + 1] AS v
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings),
             UNNEST(range(len(e))) AS u(i)
    )
    SELECT CAST(pos AS INT) AS pos,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(28,12)))
                          FILTER (WHERE is_old) AS DOUBLE)
                 / COUNT(*) FILTER (WHERE is_old), 8) AS mean_old,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(28,12)))
                          FILTER (WHERE NOT is_old) AS DOUBLE)
                 / COUNT(*) FILTER (WHERE NOT is_old), 8) AS mean_new,
           ROUND(ABS(
               CAST(SUM(CAST(v AS DECIMAL(28,12)))
                        FILTER (WHERE is_old) AS DOUBLE)
               / COUNT(*) FILTER (WHERE is_old)
               - CAST(SUM(CAST(v AS DECIMAL(28,12)))
                          FILTER (WHERE NOT is_old) AS DOUBLE)
               / COUNT(*) FILTER (WHERE NOT is_old)), 8) AS abs_shift
    FROM comp GROUP BY pos
"""

# per-cell k-means outputs aren't SQL-derivable; the gate row checks the
# conservation invariant (every vector assigned once) + in-engine booleans
ORACLE["kmeans_ivf_train"] = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_vectors,
           CAST({KMEANS_K} AS INT) AS k,
           TRUE AS cells_ok,
           TRUE AS msd_nonneg
    FROM embeddings
"""

# the learned-rotation entry: the eigensolve is not SQL — the oracle
# certifies the decimal-exact trace (the real cross-check on the gram/mean
# assembly) and the invariant booleans the engine computes live
# (orthonormality, trace conservation, top-k completeness, recall ≥ the
# allocation-only permutation); the rotation itself is numpy-replayed in
# tests/test_corpus.py
ORACLE["ann_ivf_opq_rot_cosine"] = """
    WITH comp AS (
        SELECT e[i + 1] AS v, CAST(i AS INT) AS pos
        FROM (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             UNNEST(range(len(e))) AS u(i)
    ),
    agg AS (
        SELECT pos, COUNT(v) AS n,
               CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v)
                   AS mean,
               CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(v)
                   AS mean_sq
        FROM comp GROUP BY pos
    )
    SELECT CAST(COUNT(*) AS INT) AS dim,
           CAST(MAX(n) AS BIGINT) AS n_vectors,
           ROUND(CAST(SUM(CAST(GREATEST(mean_sq - mean * mean, 0)
                AS DECIMAL(28,12))) AS DOUBLE), 6) AS trace_var,
           TRUE AS rot_orthonormal_ok,
           TRUE AS alloc_trace_ok,
           TRUE AS topk_complete_ok,
           TRUE AS recall_ge_alloc_ok
    FROM agg
"""
