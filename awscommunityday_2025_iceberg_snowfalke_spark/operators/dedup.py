"""Deduplication operators over the ``documents`` table (north-star
extension — SURVEY §7 step 8; no counterpart in the reference, which has no
document pipeline).

The dedup families, each shuffle-aware for 100 TB:

- exact (full-text groupBy) — correctness baseline; shuffles full text.
- exact by content hash — the scale path: shuffle 32-byte digests, not
  documents. At 100 TB this is the difference between a ~100 TB shuffle and
  a ~tens-of-GB shuffle.
- incremental (new crawl vs standing corpus) — digest LEFT-ANTI join, the
  production ingest shape: a batch never re-deduplicates the corpus.
- n-gram Jaccard / containment — exact all-pairs similarity restricted
  to shingle-sharing pairs (one inverted-index join and one pair
  aggregation, :func:`_shingle_overlaps`), never a cartesian product;
  containment (shared/min) is the asymmetric short-inside-long signal
  on the identical plan. PPJoin prefix-filters the τ = 0.8 regime and
  verifies its candidates through the MinHash verify kernel.
- MinHash + LSH banding — the sublinear candidate generator over the
  staged per-document shingle-hash sets: signature = 16 portable
  min-hashes (one explode of the staged hashes, one MIN pass), 4 bands
  × 4 rows; only band-collision pairs are verified, by intersecting the
  two docs' hash sets in-row; the candidates are staged once per corpus
  together with their verify counts. Hashing is md5-prefix→int64 so the
  duckdb oracle reproduces it bit-for-bit (engine-neutral, unlike
  xxhash64).
- SimHash (32- and 64-bit) — near-dup fingerprints with pigeonhole-banded
  Hamming pairing (4 bands of 8 or 16 bits).
- duplicate clustering — driver union-find, or large/small-star
  contraction past the driver bound, over the verified pair graph.

Embedding-cosine / semantic (SemDeDup) near-dup lives in :mod:`similarity`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import load, local_frame, table_path
from ..stage import discard, memo, stage

JACCARD_THRESHOLD = 0.10
# Exact rational twin of JACCARD_THRESHOLD for keep predicates:
# keep iff shared·JACCARD_X[1] ≥ JACCARD_X[0]·union — pure int64
# arithmetic on both engines, immune to the ROUND(double)-in-predicate
# fragility class (the rounded jaccard stays as a display column only).
JACCARD_X = (1, 10)
assert JACCARD_X[0] / JACCARD_X[1] == JACCARD_THRESHOLD
N_HASHES = 16
N_BANDS = 4  # 4 rows per band

# Portable 60-bit hash: md5 hex prefix → int64. Same value in Spark and
# duckdb (verified), so LSH pipelines are exactly reproducible cross-engine.
from .hashing import _DUCK_H, _SPARK_H  # canonical 60-bit hash device


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged per-document shingle sets ``(doc_id, n, hs)`` of the
    corpus (see :func:`_shingles_of`), memoized per (session, sf_dir):
    the shared intermediate of the whole dedup family. MinHash and the
    verify kernel (:func:`_verified_of`) read the arrays in-row;
    Jaccard, containment and the PPJoin prefix index read exploded rows
    (:func:`_shingle_rows`)."""
    return memo(
        spark,
        ("shingle_sets", sf_dir),
        [table_path(sf_dir, "documents")],
        lambda: _shingles_of(spark, load(spark, sf_dir, "documents")),
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus shingle index, one ``(doc_id, n, sh_h)`` row per
    distinct shingle of a doc: :func:`_shingle_rows` over the memoized
    :func:`_shingle_sets`."""
    return _shingle_rows(_shingle_sets(spark, sf_dir))


def _shingle_rows(sets: DataFrame) -> DataFrame:
    """One ``(doc_id, n, sh_h)`` row per element of each staged shingle
    set: a plain explode over the staged files. The per-doc set size
    ``n`` rides along with every row, so Jaccard needs no separate sizes
    aggregation and no join-back."""
    return sets.select("doc_id", "n", F.explode("hs").alias("sh_h"))


def _shingles_of(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Staged per-document shingle sets ``(doc_id, n, hs array<bigint>)``
    over any (doc_id, text) relation: ``hs`` holds the portable 60-bit
    hash of each distinct word-3-shingle, ``n = size(hs)``, for docs with
    ≥3 tokens (so every set is non-empty). The md5-prefix hash runs once
    per distinct shingle, inside the row and before the barrier, so no
    consumer re-hashes shingle strings; every consumer keys on an 8-byte
    int. The duckdb oracle applies the identical hash, so results stay
    bit-for-bit reproducible. Not memoized (see :func:`_shingle_sets`);
    the fused curation pipeline shingles paragraph-rebuilt text through
    it."""
    # single-file inputs arrive as one partition; spread docs across cores
    # before the shingle compute (at scale, many files make this a no-op
    # but the explicit spread keeps the plan robust to skewed file sizes)
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    # array_distinct over the shingle STRINGS, then hash: per-doc set
    # semantics computed locally inside the row (no cross-partition
    # DISTINCT shuffle), and `n` counts distinct shingles as the oracle's
    # DISTINCT does
    shset = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i),
                F.element_at(F.col("toks"), i + 1),
                F.element_at(F.col("toks"), i + 2),
            ),
        )
    )
    sets = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", shset.alias("shset"))
        .select(
            "doc_id",
            F.size("shset").alias("n"),
            F.expr(f"transform(shset, s -> {_SPARK_H.format(expr='s')})").alias(
                "hs"
            ),
        )
    )
    # eager disk staging of the per-doc ARRAY form, before any explode.
    # Ordering is load-bearing: exploding a computed column triggers
    # Catalyst's InferFiltersFromGenerate, whose inferred `size(hs)>0`
    # filter substitutes the whole shingle expression and gets pushed
    # below the repartition exchange — i.e. the heavy compute lands on
    # the narrow scan stage and runs 3x (filter, size, generator).
    # Measured 8-10x regression at sf0.1. A fresh parquet scan is a hard
    # barrier that stops the push; explode and the in-row MinHash read
    # materialized arrays. Staging also feeds every consumer without
    # racing, holds no executor memory for the session, and keeps fault
    # tolerance (splits re-readable) — unlike the localCheckpoint it
    # replaces (see stage.py).
    return stage(sets)


def _duck_shingles_of(
    rel: str, textcol: str = "text", materialized: bool = False
) -> str:
    """sh0/sh CTE fragment (no WITH) over any (doc_id, textcol)
    relation — the oracle twin of :func:`_shingles_of`.
    ``materialized=True`` pins both CTEs against DuckDB's inline-per-
    reference default — required when ``rel`` is itself an expensive
    chain consumed by several downstream CTEs (the fused pipeline)."""
    kw = "MATERIALIZED " if materialized else ""
    return (
        r"""
    sh0 AS {kw}(
        SELECT DISTINCT doc_id,
               toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3] AS shingle
        FROM (SELECT doc_id, string_split_regex(lower({textcol}), '\s+') AS toks
              FROM {rel}) t,
             UNNEST(range(len(toks) - 2)) AS u(i)
        WHERE len(toks) >= 3
    ),
    sh AS {kw}(
        SELECT doc_id,
               COUNT(*) OVER (PARTITION BY doc_id) AS n,
               {duck_h} AS sh_h
        FROM sh0
    )
"""
        .replace("{duck_h}", _DUCK_H.format(expr="shingle"))
        .replace("{kw}", kw)
        .replace("{rel}", rel)
        .replace("{textcol}", textcol)
    )


_DUCK_SHINGLES = _duck_shingles_of("documents")


# --- exact dedup (full text) ------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("copies"),
    ).select("keep_doc_id", "copies")


# --- exact dedup by content hash (the 100 TB path) --------------------------
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2("text", 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("copies"))
    )


# --- n-gram Jaccard similarity join -----------------------------------------
def _shingle_overlaps(sh: DataFrame) -> DataFrame:
    """``(doc_a, doc_b, na, nb, shared)`` for every pair of docs
    (doc_a < doc_b) sharing at least one shingle, over any shingle
    relation ``(doc_id, n, sh_h)``: the inverted-index self-join (a
    hash shuffle keyed on the shingle, never O(n²)) and ONE pair
    aggregation. Set sizes ride along as grouping keys (constant per
    doc), so every ratio falls straight out of the aggregate, with no
    sizes join-back. The exact pair kernel of the Jaccard and
    containment entries; each keeps only its own integer keep predicate.
    Every shingle joins, hot ones included, so the join work is Σdf²
    over the shingles: AQE's skew join spreads a hot shingle's partition
    across tasks but does not shrink it (SCALE.md)."""
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh_h") == F.col("b.sh_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard ≥ 0.1 over every pair of docs sharing a
    shingle (:func:`_shingle_overlaps` over the memoized shingle index);
    the keep predicate is the integer cross-product
    ``shared·10 ≥ union``, the rounded Jaccard a display column."""
    pairs = _shingle_overlaps(_shingles(spark, sf_dir))
    union = F.col("na") + F.col("nb") - F.col("shared")
    return (
        pairs.filter(F.col("shared") * JACCARD_X[1] >= JACCARD_X[0] * union)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("shared") / union.cast("double"), 6).alias("jaccard"),
        )
    )


# --- Bloom-filter dedup screen (two-tier incremental ingest) -----------------
BLOOM_K = 7           # hash functions
BLOOM_WORDS = 64      # 32-bit words → 2048 bits: sized so the testdata
#                       standing corpus produces a NONZERO, deterministic
#                       false-positive count (the quantity the report is
#                       about); production sizes m for the target FP rate
BLOOM_BITS = BLOOM_WORDS * 32


def _incremental_split(docs: DataFrame):
    """Standing-corpus / incoming-batch split shared by
    ``dedup_incremental`` and ``dedup_bloom_screen`` (one definition so
    the two incremental entries can never disagree on which docs are
    'standing'): digests below the 80%-of-id-range mark are the corpus
    (distinct), the rest the batch."""
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    split = int(lo) + int((int(hi) - int(lo)) * INCREMENTAL_SPLIT_FRAC)
    digests = docs.select(
        "doc_id", "lang", F.sha2("text", 256).alias("d")
    )
    corpus = digests.filter(F.col("doc_id") < split).select("d").distinct()
    batch = digests.filter(F.col("doc_id") >= split)
    return corpus, batch


def _bloom_flags(
    corpus: DataFrame, batch: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """The Bloom pre-screen + exact-confirm device over a standing
    digest set (one column ``d``) and an arriving batch carrying
    ``keys`` + ``d``: per batch row, ``maybe_dup`` (any of its BLOOM_K
    bit positions set in the broadcast bitmap) and ``is_dup`` (exact
    digest confirm, paid only by the 'maybe' residue). Extracted from
    :func:`dedup_bloom_screen` so the fused curation pipeline reuses
    the identical screen (answer-invariant: admitted set equals the
    plain digest anti-join's)."""
    salts = F.array(*[F.lit(i) for i in range(BLOOM_K)])
    pos_h = _SPARK_H.format(expr="concat(cast(s as string), '|', d)")
    positions = lambda df: (  # noqa: E731 — local plan fragment
        df.select("*", F.explode(salts).alias("s"))
        .withColumn("bitpos", F.expr(pos_h) % BLOOM_BITS)
        .withColumn("word", F.expr("bitpos div 32").cast("int"))
        .withColumn(
            # shiftleft's Python wrapper wants a literal shift; the SQL
            # form takes a column
            "bit",
            F.expr("shiftleft(cast(1 as bigint), cast(bitpos % 32 as int))"),
        )
    )
    bloom = (
        positions(corpus)
        .groupBy("word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    checked = (
        positions(batch)
        .join(F.broadcast(bloom), "word", "left")
        .withColumn(
            "hit",
            (
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("bit"))
                != 0
            ).cast("int"),
        )
        .groupBy(*keys, "d")
        .agg((F.min("hit") == 1).alias("maybe_dup"))
    )
    confirmed = (
        checked.filter("maybe_dup")
        .join(corpus.withColumnRenamed("d", "d2"),
              F.col("d") == F.col("d2"), "left")
        .select(
            *keys, "d",
            F.lit(True).alias("maybe_dup"),
            F.col("d2").isNotNull().alias("is_dup"),
        )
    )
    screened = checked.filter(~F.col("maybe_dup")).select(
        *keys, "d",
        F.lit(False).alias("maybe_dup"),
        F.lit(False).alias("is_dup"),
    )
    return confirmed.unionByName(screened)


def dedup_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier incremental dedup with a BLOOM-FILTER pre-screen — the
    RedPajama/CCNet production shape for new-crawl-vs-standing-corpus at
    100 TB: the standing corpus's digest set is summarized into a
    fixed-size bit array (here ``BLOOM_WORDS`` 32-bit words, built in ONE
    digest pass with a bitwise-OR aggregation to ≤64 rows), and each
    arriving doc checks its ``BLOOM_K`` bit positions against the
    BROADCAST bitmap — docs with any bit clear are DEFINITELY new and
    skip the exact join entirely; only the 'maybe' residue pays the
    digest anti-join that confirms real duplicates and unmasks the
    filter's false positives. The exact tier means the screen NEVER
    changes the answer (admitted set == `dedup_incremental`'s) — it only
    removes join traffic; the report quantifies exactly how much
    (definitely-new vs maybe vs confirmed-dup vs false-positive per
    language). Fully deterministic: bit positions come from the portable
    md5 device over salt‖sha256(text), so the false-positive count is an
    exact cross-engine integer, not a probability."""
    docs = load(spark, sf_dir, "documents")
    corpus, batch = _incremental_split(docs)
    corpus = stage(corpus)
    allrows = _bloom_flags(corpus, batch, ("doc_id", "lang"))
    return allrows.groupBy("lang").agg(
        F.count(F.lit(1)).alias("batch_docs"),
        F.sum((~F.col("maybe_dup")).cast("long")).alias("definitely_new"),
        F.sum(F.col("maybe_dup").cast("long")).alias("maybe_dup"),
        F.sum(F.col("is_dup").cast("long")).alias("confirmed_dup"),
        F.sum(
            (F.col("maybe_dup") & ~F.col("is_dup")).cast("long")
        ).alias("false_positive"),
    )


# --- PPJoin: prefix-filtered set-similarity self-join ------------------------
# the high-threshold near-dup regime (CCNet-style τ = 0.8). Exact rational
# twin: keep iff shared·5 ≥ 4·union.
PPJOIN_X = (4, 5)


def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin set-similarity self-join (Xiao, Wang, Lin, Yu 2011; prefix
    filter from Chaudhuri, Ganti, Kaushik 2006) at τ = 0.8 — the exact
    candidate generator for the high-threshold regime, and the algorithm
    that makes set-similarity joins feasible at 100 TB without giving up
    recall:

    - **prefix filter**: under a global canonical token order (df ASC,
      hash ASC — rarest first), any pair with J ≥ τ must share a token
      inside each side's first |d| − ⌈τ·|d|⌉ + 1 tokens, so ONLY those
      prefixes are indexed. At τ = 0.8 that is ~20% of each set — and
      because prefixes are the RAREST tokens, the stopword-head skew
      never enters the join at all (the hot shingles sit at the suffix
      end of every sorted set).
    - **size filter**: J ≥ τ forces max(|a|,|b|)·4 ≤ min(|a|,|b|)·5 —
      applied inside the join condition, pure int64.
    - **positional filter** (PPJoin's tightening): with ia/jb the
      1-based positions of the first shared prefix token, the overlap
      can't exceed 1 + min(|a|−ia, |b|−jb); keep only pairs where that
      bound still allows shared·(4+5) ≥ 4·(|a|+|b|).

    Surviving candidates are verified EXACTLY by the LSH front's verify
    kernel (:func:`_verified_of`: each pair intersects the two staged
    shingle sets in-row), so the result equals the brute inverted-index
    join at τ = 0.8 verbatim — pinned by a unit test that also measures
    the candidate-volume reduction (the entire point). At lower τ the
    prefix grows toward the whole set and the filter stops paying
    (SCALE.md), which is why the τ = 0.1 entries join every shingle."""
    num, den = PPJOIN_X
    sets = _shingle_sets(spark, sf_dir)
    shared = _verified_of(sets, _ppjoin_candidates_of(sets))
    union = F.col("na") + F.col("nb") - F.col("shared")
    return shared.filter(
        F.col("shared") * den >= num * union
    ).select(
        "doc_a",
        "doc_b",
        F.round(F.col("shared") / union.cast("double"), 6).alias("jaccard"),
    )


def _ppjoin_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PPJoin candidate stage over the memoized corpus shingle sets —
    split out so the losslessness/volume test can measure exactly what
    the verify stage pays."""
    return _ppjoin_candidates_of(_shingle_sets(spark, sf_dir))


def _ppjoin_candidates_of(sets: DataFrame) -> DataFrame:
    """PPJoin candidate pairs ``(doc_a, doc_b)`` (prefix + size +
    positional filters) of any staged shingle-set relation (doc_id, n,
    hs) — the same shape as :func:`_lsh_candidates_of`, verified by the
    same kernel."""
    num, den = PPJOIN_X
    sh = _shingle_rows(sets)
    df_counts = sh.groupBy("sh_h").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(df_counts, "sh_h")
    # per-doc canonical order + prefix slice, computed IN-ROW
    # p = n − ceil(τ·n) + 1, ceil as pure integer div: (n·num + den−1) div den
    prefix_len = (
        F.col("n") - F.expr(f"(n * {num} + {den - 1}) div {den}") + F.lit(1)
    )
    pre = (
        ranked.groupBy("doc_id", "n")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("sh_h")))
            ).alias("sorted_sh")
        )
        .select(
            "doc_id",
            "n",
            F.posexplode(F.slice(F.col("sorted_sh"), F.lit(1), prefix_len)),
        )
        .select(
            "doc_id",
            "n",
            (F.col("pos") + 1).alias("pos"),  # 1-based prefix position
            F.col("col.sh_h").alias("sh_h"),
        )
    )
    pre = stage(pre)  # both sides of the prefix self-join
    a, b = pre.alias("a"), pre.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh_h") == F.col("b.sh_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size filter: max·num ≤ min·den, as two int predicates
            & (F.col("a.n") * num <= F.col("b.n") * den)
            & (F.col("b.n") * num <= F.col("a.n") * den),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        # Xiao et al.'s positional filter, at FULL tightness (r11
        # ADVICE): for the k-th shared prefix token (1-based, in
        # canonical rank order) at positions (i, j), every common token
        # ranked ≤ it lies inside BOTH prefixes (rank order == position
        # order), so overlap ≤ k + min(na−i, nb−j) — valid for EVERY k,
        # and the pair keeps the MINIMUM over its matches. Computed
        # IN-ROW from the collected (tiny, prefix-only) match list:
        # array_sort orders by ia == canonical rank, transform indexes
        # k, array_min takes the tightest bound. No extra exchange vs
        # the old min(ia)/min(jb) device, strictly fewer survivors.
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("a.pos").alias("ia"),
                        F.col("b.pos").alias("jb"),
                    )
                )
            ).alias("ms")
        )
        .filter(
            F.array_min(
                F.expr(
                    "transform(ms, (m, k) ->"
                    " k + 1 + least(na - m.ia, nb - m.jb))"
                )
            )
            * (num + den)
            >= num * (F.col("na") + F.col("nb"))
        )
        .select("doc_a", "doc_b")
    )


# --- n-gram containment (asymmetric near-dup / subset detection) -------------
CONTAINMENT_THRESHOLD = 0.5
CONTAINMENT_X = (1, 2)  # exact rational: keep iff shared·2 ≥ 1·min(na, nb)


def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment C(A,B) = |A∩B| / min(|A|,|B|) over the same shingle
    index — the ASYMMETRIC near-dup signal Jaccard misses: a short doc
    fully embedded in a long one (quote farms, boilerplate wrappers,
    article + comment-thread mirrors) scores shared/min = 1.0 while its
    Jaccard shrinks with the length gap (Broder's resemblance-vs-
    containment distinction). The plan is the Jaccard one: the same
    exact pair kernel (:func:`_shingle_overlaps`), only the keep
    predicate and the ratio differ, so the scale analysis in SCALE.md
    carries over unchanged."""
    pairs = _shingle_overlaps(_shingles(spark, sf_dir))
    return (
        pairs.filter(
            F.col("shared") * CONTAINMENT_X[1]
            >= CONTAINMENT_X[0] * F.least("na", "nb")
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("int").alias("shared"),
            F.round(
                F.col("shared") / F.least("na", "nb").cast("double"), 6
            ).alias("containment"),
        )
    )


# --- incremental dedup (new crawl vs existing corpus) ------------------------
INCREMENTAL_SPLIT_FRAC = 0.8  # doc_id below the 80% mark = "existing" corpus


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production dedup shape: a new crawl batch arrives and must be
    deduplicated AGAINST the standing corpus, not within itself — rerunning
    global dedup over 100 TB per batch is the naive plan this op exists to
    avoid. Split: docs below the 80%-of-id-range mark play the standing
    corpus, the rest the incoming batch. The batch's content digests
    LEFT-ANTI join the corpus digest index (at scale: a stored, bucketed
    digest table — the only thing the batch touches; 32-B keys, broadcast
    when the batch is small, bucket-local otherwise), then survivors dedup
    within the batch by the usual min-id groupBy. Output: per-language
    admitted/rejected accounting — the ingest report. Shuffles digests
    only, never text; corpus side is scanned once for its digest
    projection and nothing else."""
    docs = load(spark, sf_dir, "documents")
    corpus, batch = _incremental_split(docs)
    corpus = corpus.withColumnRenamed("d", "h")
    batch = batch.withColumnRenamed("d", "h")
    fresh = batch.join(corpus, "h", "left_anti")
    admitted = (
        fresh.groupBy("h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
        )
    )
    batch_counts = batch.groupBy("lang").agg(
        F.count(F.lit(1)).alias("batch_docs")
    )
    adm_counts = admitted.groupBy("lang").agg(
        F.count(F.lit(1)).alias("admitted_docs")
    )
    return (
        batch_counts.join(adm_counts, "lang", "left")
        .select(
            "lang",
            "batch_docs",
            F.coalesce("admitted_docs", F.lit(0)).alias("admitted_docs"),
            (
                F.col("batch_docs") - F.coalesce("admitted_docs", F.lit(0))
            ).alias("rejected_docs"),
        )
    )


# --- duplicated n-gram span analysis (substring-level dedup signal) ----------
SPAN_NGRAM = 10  # Lee et al. use 50-token spans; 10 fits the 64-word docs


def doc_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-LEVEL duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): document-level dedup
    misses boilerplate headers, license blocks, and quoted passages
    repeated across otherwise-distinct docs. Per doc: how many of its
    word-10-gram positions also occur in ANOTHER document. The suffix
    array the paper builds is a single-machine structure; the Spark shape
    is the inverted n-gram index this module already scales — explode
    positional 10-grams, hash them portably, mark grams whose document
    frequency > 1 via one groupBy over (gram → distinct docs bounded
    accounting), and roll up per doc. Shuffles 8-byte gram hashes, and
    the df computation is map-side-combinable, and a hot boilerplate
    gram is exactly what this op exists to FIND, so it is counted like
    any other.
    Output per doc: total spans, duplicated spans, dup fraction — the
    span-removal planning report."""
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.split(F.lower(F.col("text")), r"\s+")
    grams = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= SPAN_NGRAM)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (SPAN_NGRAM - 1)),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("toks"), i, SPAN_NGRAM)
                    ),
                )
            ).alias("pos", "gram"),
        )
        .select(
            "doc_id", "pos", F.expr(_SPARK_H.format(expr="gram")).alias("g")
        )
    )
    grams = stage(grams)  # consumed twice: df table + per-doc rollup
    # a gram is a cross-doc duplicate iff it appears in >1 DISTINCT doc
    # (in-doc repetition alone is doc_repetition_stats' business)
    df_tab = (
        grams.select("doc_id", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 1)
        .select("g")
    )
    flagged = grams.join(
        df_tab.withColumn("dup", F.lit(1)), "g", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.coalesce(F.col("dup"), F.lit(0))).alias("dup_spans"),
        F.round(
            F.sum(F.coalesce(F.col("dup"), F.lit(0)))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_fraction"),
    )


# --- exact substring dedup (Lee et al. 2022, suffix-window formulation) -----
SUBSTR_WINDOW = 50  # tokens — the ≥50-token duplication threshold of Lee et al.


def _substr_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, wh) for every sliding ``SUBSTR_WINDOW``-token window:
    the in-row transform+explode device shared by the exact-substring
    family. md5 digests (128-bit) because the family compares windows
    corpus-wide — at ~10^12 windows the 60-bit device would start to
    birthday-collide. Tokenization matches the shingle family (lower +
    whitespace split) so both engines see identical windows."""
    W = SUBSTR_WINDOW
    docs = load(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    return (
        docs.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= W)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {W}), i -> "
                    f"struct(i as pos, "
                    f"md5(array_join(slice(t, i + 1, {W}), ' ')) as wh))"
                )
            ).alias("w"),
        )
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.wh").alias("wh"))
    )


def dedup_exact_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", the ExactSubstr tool):
    every MAXIMAL token span of ≥ ``SUBSTR_WINDOW`` tokens that occurs at
    least twice anywhere in the corpus, reported per document with its
    position and length — the remove-these-spans output the paper derives
    from a suffix array. This is the precision end of the dedup family:
    `doc_duplicate_ngram_spans` approximates the signal at 10-gram
    granularity; this operator reports the paper's own ≥50-token maximal
    spans exactly.

    Spark-first reformulation of the suffix array: a duplicated span of
    length L contains exactly L−W+1 duplicated W-token windows, so
    maximal duplicated spans = maximal runs of duplicated windows.
    (1) slide a W-token window over every doc — an in-row ``transform``
    over the token array, map-side; (2) digest each window (md5 of the
    joined tokens — 128 bits, collision-safe at 100 TB where the 60-bit
    device would start to birthday-collide across ~10^12 windows);
    (3) one count-over-digest window marks windows occurring ≥2 times
    corpus-wide — including twice within one doc, the paper's
    self-repetition case; (4) per-doc consecutive duplicated positions
    merge into maximal spans (pos − row_number island grouping). Two
    shuffles total, both linear in corpus tokens and carrying only
    (digest, doc_id, pos) — never document text — i.e. the same budget
    as the distributed suffix-array construction pass, with no global
    sort anywhere. Tokenization matches the shingle family
    (lower + whitespace split), so both engines see identical windows."""
    wins = _substr_windows(spark, sf_dir)
    W = SUBSTR_WINDOW
    n_occ = F.count(F.lit(1)).over(Window.partitionBy("wh"))
    dup = wins.withColumn("n_occ", n_occ).filter(F.col("n_occ") >= 2)
    wd = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup.withColumn("g", F.col("pos") - F.row_number().over(wd))
    return (
        isl.groupBy("doc_id", "g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + F.lit(W)).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_dup_windows"),
        )
        .drop("g")
    )


def dedup_substring_removal_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee-et-al removal ACCOUNTING over :func:`dedup_exact_substrings`:
    per source, how many docs carry a ≥50-token duplicated span and what
    fraction of the source's tokens the remove-duplicated-spans pass
    would delete — the paper's headline "~3% of tokens in C4 are exact
    duplicates" table, and the go/no-go number a curation run reads
    before paying for the removal rewrite. Maximal spans per doc are
    non-overlapping by construction (islands of consecutive duplicated
    windows), so per-doc removed tokens is a plain SUM of span lengths —
    no interval arithmetic. One extra |sources|-group exchange over the
    span output plus a map-side token-count agg; the displayed fraction
    uses the corpus integer-ratio device (exact on both engines,
    display-only)."""
    from .textstats import _ratio6

    docs = load(spark, sf_dir, "documents")
    spans = dedup_exact_substrings(spark, sf_dir)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").alias("removed_tokens")
    )
    toks = F.size(F.split(F.lower(F.col("text")), r"\s+"))
    base = docs.select("doc_id", "source", toks.alias("n_tokens"))
    joined = base.join(per_doc, "doc_id", "left_outer")
    agg = joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("removed_tokens").alias("docs_with_dup_spans"),
        F.sum("n_tokens").alias("total_tokens"),
        F.coalesce(F.sum("removed_tokens"), F.lit(0)).alias("removed_tokens"),
    )
    return agg.withColumn(
        "removed_frac",
        _ratio6(F.col("removed_tokens"), F.col("total_tokens")),
    )


def dedup_substring_removed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee-et-al removal TRANSFORM itself — the step the report
    (:func:`dedup_substring_removal_report`) only accounts for: every
    token inside a maximal ≥50-token duplicated span is CUT and the
    document is rebuilt from the survivors. This is the pass that
    actually changes the training corpus; ExactSubstr's own pipeline
    ends exactly here.

    Shape: tokens posexplode map-side (positions align with the window
    digests by construction — same lower+whitespace tokenization);
    doomed tokens leave via ONE doc_id-keyed LEFT ANTI join against the
    span table (equi key + range residual — the span side is a few rows
    per affected doc, so the residual never explodes the key group);
    reconstruction is a per-doc sort-free ``array_sort(collect_list)``
    over (pos, token) structs — the whole doc must meet in one group to
    be re-joined, the irreducible cost of producing text output.
    Reconstruction canonicalizes whitespace (single spaces, lowercase —
    the tokenization the span digests were computed over); byte-exact
    original-text surgery would need char offsets, which the token
    windows deliberately do not carry. A doc fully covered by spans
    rebuilds to the empty string (left-join + coalesce)."""
    docs = load(spark, sf_dir, "documents")
    spans = dedup_exact_substrings(spark, sf_dir).select(
        "doc_id",
        "span_start",
        (F.col("span_start") + F.col("span_tokens")).alias("span_end"),
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    kept = toks.alias("t").join(
        spans.alias("s"),
        (F.col("t.doc_id") == F.col("s.doc_id"))
        & (F.col("t.pos") >= F.col("s.span_start"))
        & (F.col("t.pos") < F.col("s.span_end")),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens_clean"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_clean"),
    )
    n_tok = F.size(F.split(F.lower(F.col("text")), r"\s+")).cast("long")
    return (
        docs.select("doc_id", n_tok.alias("n_tokens"))
        .join(rebuilt, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_tokens_clean"), F.lit(0)).alias(
                "n_tokens_clean"
            ),
            (
                F.col("n_tokens")
                - F.coalesce(F.col("n_tokens_clean"), F.lit(0))
            ).alias("removed_tokens"),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
    )


def benchmark_contamination_substrings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Substring-level decontamination: training docs sharing a FULL
    ≥``SUBSTR_WINDOW``-token window with the held-out benchmark split —
    the high-precision complement to ``benchmark_contamination``'s
    8-gram screen (8-grams over-flag boilerplate; a verbatim 50-token
    overlap is the smoking gun eval-leak signal GPT-3/PaLM-style
    decontamination acts on). Same held-out convention as the 8-gram
    entry (doc_id % CONTAM_MOD == 0 AND doc_id < LEX_BENCH_ID_CAP =
    benchmark — the split is FROZEN at the id cap, so the broadcast
    window set is bounded by the EVAL corpus at any scale, never a
    corpus fraction). Detection is then a map-side broadcast semi-join
    over the training window stream — no corpus-vs-corpus join; output
    rows are bounded by contaminated docs.
    Reports distinct shared windows and the longest contiguous leaked
    run (consecutive shared positions → islands, like the dedup spans)."""
    from .textstats import CONTAM_MOD, LEX_BENCH_ID_CAP, _lex_train_pred

    wins = _substr_windows(spark, sf_dir)
    bench = (
        wins.filter(
            (F.col("doc_id") % CONTAM_MOD == 0)
            & (F.col("doc_id") < LEX_BENCH_ID_CAP)
        )
        .select("wh")
        .distinct()
    )
    train = wins.filter(_lex_train_pred())
    hits = train.join(F.broadcast(bench), "wh")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn("g", F.col("pos") - F.row_number().over(wd))
    runs = isl.groupBy("doc_id", "g").agg(
        (F.max("pos") - F.min("pos") + F.lit(SUBSTR_WINDOW)).alias("run_tokens"),
        F.count(F.lit(1)).alias("n_wins"),
    )
    return runs.groupBy("doc_id").agg(
        F.sum("n_wins").alias("n_shared_windows"),
        F.max("run_tokens").alias("max_leak_tokens"),
    )


def contamination_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination REMOVAL TRANSFORM — the surgical alternative
    to dropping a contaminated document whole: every maximal leaked run
    (consecutive benchmark-shared ``SUBSTR_WINDOW``-token windows, the
    islands :func:`benchmark_contamination_substrings` reports) is CUT
    from the training doc and the doc is rebuilt from the survivors —
    the Lee-et-al span surgery (`dedup_substring_removed_text`) applied
    to the EVAL-LEAK signal instead of the corpus-dup signal. This
    completes the decontamination story: detect (three screens) → audit
    (`contamination_report_card`) → remove (here); production pipelines
    prefer the cut when the leak is a quoted benchmark item inside an
    otherwise-good document.

    Output: ONE ROW PER AFFECTED DOC (doc_id, span count, original /
    clean / removed token counts, rebuilt text) — the patch list an
    ingest applies; unaffected docs pass through a real pipeline
    unchanged and are not re-emitted. Overlapping runs (islands closer
    than the window width) cut correctly: a token leaves if ANY span
    covers it, and removed = original − clean counts distinct positions.

    Scale shape: the window/bench screen is the substring entry's
    certified broadcast shape; the span table is bounded by leaked runs
    (tiny — contamination is the exception); only AFFECTED docs pay the
    posexplode + anti-join + rebuild, via a semi join on the span table
    first, so the transform's heavy path is leak-bounded, not
    corpus-bounded. Rebuild canonicalizes whitespace (lower + single
    spaces — the tokenization the window digests were computed over),
    exactly like the dedup removal transform.

    Single-pass caveat (r15 ADVICE): cutting a span splices previously
    distant tokens into adjacency, which can in principle form a NEW
    benchmark-matching window across the seam; the zero-residual-leak
    property is corpus-dependent for one pass (pinned empirically on
    this testdata by ``test_contamination_span_removal_cleans_all_
    leaks``, not structurally guaranteed). A production ingest iterates
    the transform to a fixed point; one pass is the declared entry."""
    from .textstats import CONTAM_MOD, LEX_BENCH_ID_CAP, _lex_train_pred

    wins = _substr_windows(spark, sf_dir)
    bench = (
        wins.filter(
            (F.col("doc_id") % CONTAM_MOD == 0)
            & (F.col("doc_id") < LEX_BENCH_ID_CAP)
        )
        .select("wh")
        .distinct()
    )
    hits = wins.filter(_lex_train_pred()).join(
        F.broadcast(bench), "wh"
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn("g", F.col("pos") - F.row_number().over(wd))
    spans = stage(
        isl.groupBy("doc_id", "g").agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(SUBSTR_WINDOW)).alias("span_end"),
        )
    )
    docs = load(spark, sf_dir, "documents")
    affected = docs.join(
        spans.select("doc_id").distinct(), "doc_id", "left_semi"
    )
    toks = affected.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    kept = toks.alias("t").join(
        spans.alias("s"),
        (F.col("t.doc_id") == F.col("s.doc_id"))
        & (F.col("t.pos") >= F.col("s.span_start"))
        & (F.col("t.pos") < F.col("s.span_end")),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens_clean"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_clean"),
    )
    counts = affected.select(
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    n_spans = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans_cut")
    )
    return (
        counts.join(n_spans, "doc_id")
        .join(rebuilt, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_spans_cut",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_tokens_clean", F.lit(0))
            .cast("long")
            .alias("n_tokens_clean"),
            (
                F.col("n_tokens")
                - F.coalesce("n_tokens_clean", F.lit(0))
            )
            .cast("long")
            .alias("n_tokens_removed"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
        .orderBy("doc_id")
    )


# --- line-level dedup (C4's duplicate-line removal) ---------------------------
LINE_TOKENS = 16  # fixed-width pseudo-lines over the testdata's unbroken text


def dedup_lines_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style LINE-level dedup accounting: across the whole corpus each
    distinct line survives only at its first occurrence (lowest doc_id,
    then position); later copies are removed — the pass that strips
    repeated navigation bars, cookie banners, and footer boilerplate
    document-level dedup never touches. The testdata's text has no
    newlines, so "lines" are fixed 16-token segments — the plan is
    byte-identical for real newline splits (swap the segmenter
    expression). Shape: explode (doc, pos, line-hash), ONE window
    ranked by (doc_id, pos) per line hash — shuffle keyed on the 8-byte
    hash, never line text; first-occurrence semantics are deterministic
    by construction. At 100 TB the hot keys are exactly the boilerplate
    lines being removed — bounded per-key state (the rank-1 row), AQE
    skew split for the sort. Output per doc: total/kept/removed lines —
    the removal accounting a C4 run publishes."""
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.split(F.lower(F.col("text")), r"\s+")
    lines = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(
                            (F.size("toks") + LINE_TOKENS - 1)
                            / F.lit(LINE_TOKENS),
                            F.lit(1),
                        ).cast("int"),
                    ),
                    lambda i: F.concat_ws(
                        " ",
                        F.slice(
                            F.col("toks"),
                            (i - 1) * LINE_TOKENS + 1,
                            LINE_TOKENS,
                        ),
                    ),
                )
            ).alias("pos", "line"),
        )
        .select(
            "doc_id", "pos", F.expr(_SPARK_H.format(expr="line")).alias("lh")
        )
    )
    w = Window.partitionBy("lh").orderBy("doc_id", "pos")
    flagged = lines.withColumn(
        "kept", (F.row_number().over(w) == 1).cast("long")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("kept").alias("kept_lines"),
        (F.count(F.lit(1)) - F.sum("kept")).alias("removed_lines"),
    )


# --- paragraph-level dedup (CCNet's actual unit) -----------------------------
PARA_TOKENS = 64  # fixed-width pseudo-paragraphs over the unbroken testdata


def _paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, para) paragraph stream — CCNet's dedup unit
    (Wenzek et al. 2020 splits on blank lines, hashes each paragraph,
    and drops repeats corpus-wide). The testdata's text carries no
    newlines, so paragraphs are fixed ``PARA_TOKENS``-token segments
    (4× the LINE grain — the lines/paragraphs granularity ladder stays
    distinct); real blank-line text swaps ONE expression
    (``split(text, '\\n\\\\s*\\n')``) and the plan is unchanged."""
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.split(F.lower(F.col("text")), r"\s+")
    return docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        (F.size("toks") + PARA_TOKENS - 1)
                        / F.lit(PARA_TOKENS),
                        F.lit(1),
                    ).cast("int"),
                ),
                lambda i: F.concat_ws(
                    " ",
                    F.slice(
                        F.col("toks"),
                        (i - 1) * PARA_TOKENS + 1,
                        PARA_TOKENS,
                    ),
                ),
            )
        ).alias("pos", "para"),
    )


def _paragraphs_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph stream with the corpus-wide first-occurrence-survives
    flag: ONE window over 8-byte paragraph hashes ranked by (doc_id,
    pos) — the shuffle carries digests + the bounded para text for the
    rebuild, never re-reads the corpus. Shared by the report and the
    removal transform."""
    paras = _paragraphs(spark, sf_dir).select(
        "doc_id",
        "pos",
        "para",
        F.expr(_SPARK_H.format(expr="para")).alias("ph"),
    )
    w = Window.partitionBy("ph").orderBy("doc_id", "pos")
    return paras.withColumn(
        "kept", (F.row_number().over(w) == 1).cast("long")
    )


def dedup_paragraphs_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style PARAGRAPH-level dedup accounting, completing the
    granularity ladder (corpus → doc → paragraph → line → substring):
    each distinct paragraph survives only at its first corpus-wide
    occurrence (lowest doc_id, then position); later copies are removed
    — the grain CCNet actually dedups at before its LM quality buckets.
    Per doc: paragraph totals plus the exact TOKEN attrition (what a
    CCNet run publishes — paragraph counts alone hide that removed
    paragraphs skew long). Shape: segment map-side, ONE window keyed on
    the 8-byte paragraph hash, one doc-keyed rollup. At 100 TB the hot
    hash keys are exactly the boilerplate paragraphs being removed —
    bounded per-key state (rank-1 row), AQE skew split for the sort;
    nothing driver-side."""
    flagged = _paragraphs_flagged(spark, sf_dir)
    ptoks = F.size(F.split(F.col("para"), " ")).cast("long")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum("kept").alias("kept_paras"),
        (F.count(F.lit(1)) - F.sum("kept")).alias("removed_paras"),
        F.sum((1 - F.col("kept")) * ptoks).alias("removed_tokens"),
    )


def dedup_paragraphs_removed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paragraph-removal TRANSFORM itself — the pass that actually
    rewrites the corpus (the report above only accounts for it): each
    doc is rebuilt from its SURVIVING paragraphs in original order,
    reusing ``dedup_substring_removed_text``'s reconstruction shape
    (per-doc ``array_sort(collect_list(struct(pos, para)))`` — the whole
    doc must meet in one group to be re-joined, the irreducible cost of
    text output; whitespace canonicalized to the tokenization the
    hashes were computed over). A doc whose every paragraph is a repeat
    rebuilds to the empty string (array_join over an empty filter).
    ONE doc-keyed aggregation does counts AND the rebuild (r13: the
    previous filter-groupBy + groupBy + two-join shape ran the paragraph
    window twice and joined three relations for what one group holds —
    the ``kept`` flag rides inside the collected struct and a
    post-sort in-row filter drops the removed paragraphs)."""
    flagged = _paragraphs_flagged(spark, sf_dir)
    rebuilt_text = F.array_join(
        F.transform(
            F.filter(
                F.array_sort(
                    F.collect_list(F.struct("pos", "para", "kept"))
                ),
                lambda s: s["kept"] == 1,
            ),
            lambda s: s["para"],
        ),
        " ",
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum("kept").alias("kept_paras"),
        rebuilt_text.alias("text_clean"),
    )


# --- dedup release reports ----------------------------------------------------
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-METHOD agreement matrix — which near-dup detectors find the
    same pairs: verified MinHash-Jaccard vs banded 64-bit SimHash vs
    embedding-cosine, as pairwise overlap counts. The table a production
    team reads before ordering its dedup cascade (methods with high
    overlap are redundant stages; low-overlap methods catch different
    duplicate classes — shingle methods see lexical mirrors, embeddings
    see paraphrases) — the cross-method companion to
    `source_overlap_matrix`'s cross-source view.

    Scale: all three pair sets are the bounded, memoized artifacts their
    own entries already produce (candidates from banded indexes, never
    corpus²); the overlap joins and counts run on those bounded sets, and
    the scalar set sizes are bounded driver collects (the IVF-centroid
    precedent). doc_id and vec_id are the same id space (the
    `training_export_manifest` doc⋈vector contract)."""
    from .similarity import dedup_embedding_cosine

    sets = (
        ("minhash_jaccard", minhash_lsh_pairs(spark, sf_dir)),
        ("simhash64_hamming", simhash64_hamming_pairs_wide(spark, sf_dir)),
        ("embedding_cosine", dedup_embedding_cosine(spark, sf_dir)),
    )
    # each pair set is consumed twice (its size + every overlap join):
    # staged so each detection pipeline executes ONCE
    pairs = [(n, stage(d.select("doc_a", "doc_b"))) for n, d in sets]
    sizes = {n: d.count() for n, d in pairs}
    rows = []
    for i in range(len(pairs)):
        for j in range(i + 1, len(pairs)):
            na, a = pairs[i]
            nb, b = pairs[j]
            common = a.join(b, ["doc_a", "doc_b"]).count()
            rows.append((na, nb, sizes[na], sizes[nb], common))
    return local_frame(
        spark,
        rows,
        "method_a string, method_b string, pairs_a long, pairs_b long,"
        " common_pairs long",
    )


def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of duplicate-cluster sizes (how many clusters have
    exactly k members) — the one-table summary a dedup release publishes:
    a long tail of large clusters means mirror farms; mass at k=1 is the
    unique core. Rolls up the already-certified cluster labels; output is
    ≤ |distinct sizes| rows."""
    clusters = dedup_clusters(spark, sf_dir)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("k").alias("cluster_size"),
            "n_clusters",
            (F.col("k") * F.col("n_clusters")).alias("docs_in_size"),
        )
    )


# --- MinHash + LSH banding --------------------------------------------------
# Universal-hash family over one base hash: h_i(x) = (a_i·md5_60(x) + b_i)
# mod p. One md5 per shingle instead of N_HASHES md5s — at 100 TB the
# hashing pass drops from 16 digest computations per shingle to 1 digest
# (paid once, at the shingle-set stage) + 16 multiply-adds. p = 2^31-1
# (Mersenne); a_i·base < 2^62 so the arithmetic never overflows int64 in
# either engine.
_MH_P = (1 << 31) - 1


def _mh_params() -> list[tuple[int, int]]:
    import hashlib

    params = []
    for i in range(N_HASHES):
        a = int(hashlib.md5(f"mh_a_{i}".encode()).hexdigest()[:7], 16) % (_MH_P - 1) + 1
        b = int(hashlib.md5(f"mh_b_{i}".encode()).hexdigest()[:7], 16) % _MH_P
        params.append((a, b))
    return params


def _minhash_signatures(sets: DataFrame) -> DataFrame:
    """16 portable min-hashes per doc, ``(doc_id, m0..m15)``, over the
    staged shingle sets: one explode of the precomputed 60-bit hashes, 16
    universal-hash columns, one map-side-combinable MIN pass, all in
    codegen. (16 in-row ``array_min(transform(hs, …))`` columns skip the
    shuffle, but their lambdas are interpreted: 4× slower at 200 K docs,
    SCALE.md.) Every set is non-empty (see :func:`_shingles_of`), so
    every doc has a signature."""
    base = sets.select("doc_id", F.explode("hs").alias("sh_h")).select(
        "doc_id", (F.col("sh_h") % F.lit(_MH_P)).alias("hb")
    )
    hash_cols = [
        ((F.lit(a) * F.col("hb") + F.lit(b)) % F.lit(_MH_P)).alias(f"h{s}")
        for s, (a, b) in enumerate(_mh_params())
    ]
    return (
        base.select("doc_id", *hash_cols)
        .groupBy("doc_id")
        .agg(*[F.min(f"h{s}").alias(f"m{s}") for s in range(N_HASHES)])
    )


def _lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged MinHash/LSH candidate pairs (doc_a < doc_b sharing ≥1 band)
    with their exact verify counts ``(doc_a, doc_b, na, nb, shared)``,
    memoized per (session, corpus) — the shared blocking front for every
    verify layer (exact Jaccard in :func:`minhash_lsh_pairs` and the
    threshold sweep, edit distance in :func:`dedup_editdist_verify`, the
    banding calibration), read by about ten entries of one session. At
    scale the band join shuffles only (band_idx, 32-byte hash, doc_id)
    tuples. ``shared`` may be 0 (a band collision without a common
    shingle); :func:`_candidate_shared` drops those pairs."""

    def build() -> DataFrame:
        sets = _shingle_sets(spark, sf_dir)
        return _verified_of(sets, _lsh_candidates_of(sets))

    return memo(
        spark, ("lsh_candidates", sf_dir), [table_path(sf_dir, "documents")], build
    )


def _verified_of(sets: DataFrame, cand: DataFrame) -> DataFrame:
    """Staged candidate pairs ``cand`` (doc_a, doc_b) of ``sets`` with
    their exact verify counts: :func:`_candidate_shared_of`, staged. The
    one verify kernel and staging policy of every candidate front — the
    corpus LSH memo, the fused curation pipeline's band screen and
    PPJoin. The stage also keeps ``shared`` to one intersection per
    pair: a predicate over an unstaged ``shared`` is pushed into the
    verify join's condition with the intersection substituted once per
    reference, and a projection of ``shared`` computes it again."""
    return stage(_candidate_shared_of(sets, cand))


def _lsh_candidates_of(sets: DataFrame) -> DataFrame:
    """Band candidate pairs (doc_a, doc_b) of any staged shingle-set
    relation (doc_id, n, hs) — no memoization, no staging
    (:func:`_verified_of` stages them with their verify counts).
    Shapes: the signature of :func:`_minhash_signatures` (one MIN agg),
    an in-row band-hash stack, and an equi-join on (band_idx,
    band_hash) — only (int, 32-byte hash, id) tuples ever shuffle,
    never shingles."""
    sig = _minhash_signatures(sets)
    rows_per_band = N_HASHES // N_BANDS
    band_cols = [
        F.md5(
            F.concat_ws(
                "_", *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        ).alias(f"band{b}")
        for b in range(N_BANDS)
    ]
    banded = sig.select("doc_id", *band_cols)
    stack_expr = ", ".join(f"{b}, band{b}" for b in range(N_BANDS))
    long = banded.selectExpr(
        "doc_id", f"stack({N_BANDS}, {stack_expr}) as (band_idx, band_hash)"
    )
    a = long.alias("a")
    b = long.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _candidate_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shared-shingle counts (doc_a, doc_b, na, nb, shared) for every
    LSH candidate pair that shares a shingle — the verify core shared by
    the thresholded pair entry and the threshold-sweep diagnostic. It
    reads the staged counts of :func:`_lsh_candidates`; no consumer
    recomputes an intersection."""
    return _lsh_candidates(spark, sf_dir).filter(F.col("shared") > 0)


def _candidate_shared_of(sets: DataFrame, cand: DataFrame) -> DataFrame:
    """The exact-verify kernel over any staged shingle-set relation and
    any candidate-pair relation, which every blocking front (corpus LSH,
    the fused pipeline's rebuilt-text LSH, PPJoin) feeds: each candidate
    pair joins the two docs' sets by id and counts ``shared =
    size(array_intersect(ha, hb))`` in-row, so the verify cost follows
    |candidates|·n, not the Σdf² of a shingle-keyed self-join over the
    candidate docs. Every candidate pair is kept (``shared`` ≥ 0) and no
    predicate reads ``shared`` here; :func:`_verified_of` stages
    the result before anyone filters on it."""
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), F.col("hs").alias("ha")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), F.col("hs").alias("hb")
    )
    shared = F.size(F.array_intersect("ha", "hb")).cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "na", "nb", shared.alias("shared"))
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH near-dup pairs, exactly reproducible by the oracle.

    signatures → band hashes (md5 of 4 concatenated minhashes) → candidate
    pairs sharing any band → verified with exact shingle Jaccard. Output:
    (doc_a, doc_b, jaccard) for verified pairs ≥ threshold. The keep
    predicate is the INTEGER cross-product shared·10 ≥ union (exact
    rational twin of the 0.10 threshold) — the rounded jaccard is a
    display column only, never a predicate, so every downstream consumer
    (clusters, survivorship, overlap matrix) inherits a bit-portable
    pair graph instead of boundary-pair flips."""
    cs = _candidate_shared(spark, sf_dir)
    union = F.col("na") + F.col("nb") - F.col("shared")
    return (
        cs.filter(F.col("shared") * JACCARD_X[1] >= JACCARD_X[0] * union)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("shared") / union.cast("double"), 6).alias("jaccard"),
        )
    )


def dedup_graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the verified duplicate-pair graph — the
    cluster-shape diagnostic behind the connected-components pass: a
    triangle-dense graph means tight duplicate CLUSTERS (mirrors,
    re-posts — CC components are cliquish and survivorship keeps one of
    many), while a triangle-free graph of long CHAINS means borderline
    near-dup drift, where transitive closure over-merges and the
    threshold wants raising. Reports nodes/edges/triangles/wedges and
    the global clustering coefficient 3·triangles / wedges.

    Shape: the classic distributed triangle enumeration over the
    ORIENTED edge list (doc_a < doc_b by construction, so each triangle
    is counted exactly once as a<b<c): one edge-edge join builds wedges,
    one semi-join closes them — both keyed joins over the bounded
    verified-pair graph (≪ corpus; the banding physics already paid for
    it), never corpus rows. Degrees/wedges are one combinable agg;
    every output is integer except the display-only coefficient."""
    e = stage(minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b"))
    deg = (
        e.select(F.col("doc_a").alias("v"))
        .unionAll(e.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    nw = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.expr("CAST(sum(d * (d - 1)) DIV 2 AS BIGINT)").alias("n_wedges"),
    )
    ne = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    wedges = e.alias("e1").join(
        e.alias("e2"), F.col("e1.doc_b") == F.col("e2.doc_a")
    )
    tri = wedges.join(
        e.alias("e3"),
        (F.col("e3.doc_a") == F.col("e1.doc_a"))
        & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        "left_semi",
    ).agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    return (
        nw.crossJoin(ne)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The threshold-tuning curve for the LSH pipeline: candidate pairs
    bucketed by exact-Jaccard DECILE (⌊10·shared/union⌋, computed in
    pure integer arithmetic — no rounded-double predicate anywhere).
    Production dedup picks its keep threshold off exactly this histogram
    (where does the similarity mass sit? how many pairs does each cut
    admit?) instead of folklore defaults; the banded-candidate pre-image
    makes the sweep cheap — it re-aggregates the verify core's output
    (≤ |candidates| rows), adding one ≤11-group combinable agg."""
    cs = _candidate_shared(spark, sf_dir)
    a = F.col("shared") * 10
    b = F.col("na") + F.col("nb") - F.col("shared")
    decile = ((a - a % b) / b).cast("int")
    return (
        cs.select(decile.alias("jaccard_decile"))
        .groupBy("jaccard_decile")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --- cross-source duplicate overlap ------------------------------------------
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate overlap: for every source pair, how
    many VERIFIED near-dup pairs connect them (including the diagonal —
    within-source duplication) — the mirror-detection matrix that decides
    dedup ORDER in production (dedup the heavily-overlapping source pair
    first; a source whose docs all point into another is a re-crawl and
    gets dropped wholesale). Built on the already-verified MinHash pair
    graph (Jaccard ≥ threshold), not raw digests: mirrors rarely match
    byte-exactly across crawls, and this corpus has zero cross-source
    exact dups — the near-dup graph is where the overlap signal actually
    lives. Shape: two broadcast dim-joins (doc→source is a projection of
    the corpus, joined by id) over the bounded verified-pair set, then a
    ≤|sources|²-group agg. Nothing scales beyond |verified pairs|."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("near_dup_pairs"))
    )


# --- quality-aware survivorship ----------------------------------------------
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware duplicate survivorship: per near-dup cluster keep the
    BEST-quality copy (quality flag desc, doc_id asc tiebreak), not the
    lowest-id one — what production dedup actually does when mirrors
    differ in OCR noise or boilerplate wrapping (keeping MIN(doc_id) can
    systematically keep the worse copy). Quality is the same integer-rule
    composite as ``text_quality``, so the survivor choice is bit-portable.
    One cluster-keyed window (rank + quality sum share the partition) over
    the label table that :func:`dedup_clusters` already computes —
    survivorship adds no corpus-sized shuffle of its own."""
    from .textstats import STOPWORDS_EN, _in_list, _toks

    labels = dedup_clusters(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    toks = _toks()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, _in_list(STOPWORDS_EN)))
    n_punct = F.length(F.regexp_replace("text", r"[^.!?,;:]", ""))
    ok = (
        (n_tokens >= 10)
        & (n_stop * 20 >= n_tokens)
        & (n_punct * 5 <= F.length("text"))
    ).cast("int")
    joined = labels.join(docs.select("doc_id", ok.alias("ok")), "doc_id")
    wc = Window.partitionBy("cluster_id")
    rn = F.row_number().over(
        wc.orderBy(F.desc("ok"), F.asc("doc_id"))
    )
    return (
        joined.withColumn("rn", rn)
        .withColumn("n_quality_ok", F.sum("ok").over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_doc"),
            "cluster_size",
            "n_quality_ok",
            F.col("ok").alias("survivor_ok"),
        )
    )


# --- MinHash estimator accuracy report ---------------------------------------
def minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy accounting for the MinHash pipeline: for every
    VERIFIED near-dup pair, the signature-agreement estimate
    (|{i : mᵢ(A)=mᵢ(B)}| / 16 — an unbiased Jaccard estimator, Broder
    1997) next to the exact shingle Jaccard. The per-sketch analogue of
    `ann_ivf_recall_report`: corpus releases publish estimator-vs-truth
    tables so the banding thresholds can be tuned on evidence, not
    folklore. Integer agreement counts; `est_jaccard` = k/16 is an exact
    binary division, bit-portable by construction. Cost: two signature
    joins keyed on doc ids over the (already verified, small) pair set —
    the signatures and pairs are the memoized artifacts every other
    MinHash entry shares."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    sig = _minhash_signatures(_shingle_sets(spark, sf_dir))
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    eq = None
    for i in range(N_HASHES):
        term = (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        eq = term if eq is None else eq + term
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            eq.alias("eq_hashes"),
            (eq.cast("double") / N_HASHES).alias("est_jaccard"),
            "jaccard",
        )
    )


def minhash_b_bit_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing (Li & König, WWW 2010): store only the
    LOWEST BIT of each of the 16 minhash values — 2 bytes per doc instead
    of 128 — and estimate Jaccard from the 1-bit agreement count A₁ as
    Ĵ = 2·(A₁/k) − 1 (for b=1, E[A₁/k] = J + (1−J)/2, so the linear
    correction debiases it; the paper's eq. 13 at b=1 for unrelated
    docs). The companion table to `minhash_estimate_accuracy`: for every
    verified near-dup pair, the 1-bit estimate next to the full 16-hash
    estimate and the exact shingle Jaccard — the evidence a 100 TB
    deployment reads before trading 64× signature storage for estimator
    variance. Integer bit-agreement counts; both estimates are exact
    binary divisions (k = 16), bit-portable by construction. Cost: the
    same two signature joins over the verified pair set as the 16-hash
    accuracy entry — signatures and pairs are memoized artifacts."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    sig = _minhash_signatures(_shingle_sets(spark, sf_dir))
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[(F.col(f"m{i}") % 2).alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[(F.col(f"m{i}") % 2).alias(f"b{i}") for i in range(N_HASHES)],
    )
    eq = None
    for i in range(N_HASHES):
        term = (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        eq = term if eq is None else eq + term
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            eq.alias("eq_bits"),
            # 2·(A/16) − 1 = (2A − 16)/16: exact binary division
            ((eq * 2 - N_HASHES).cast("double") / N_HASHES).alias(
                "est_1bit_jaccard"
            ),
            "jaccard",
        )
    )


# --- edit-distance verification of LSH candidates ---------------------------
EDITDIST_PREFIX = 512  # chars compared per doc — bounds O(L²) per pair
EDITDIST_SIM_X = (1, 5)  # keep pairs with lev·5 ≤ max_len (≥80% similar)


def _banding_theo_catch() -> dict[int, float]:
    """Theoretical banding catch probability per Jaccard decile bucket:
    1 − (1 − j^r)^b at the bucket midpoint (r = rows per band, b =
    bands), bucket 10 = exact duplicates = 1.0. Computed once in Python
    and emitted as LITERALS on both engines — no pow() ever runs inside
    a compared expression."""
    r = N_HASHES // N_BANDS
    theo = {}
    for d in range(0, 11):
        j = 1.0 if d == 10 else (d + 0.5) / 10.0
        theo[d] = round(1.0 - (1.0 - j**r) ** N_BANDS, 6)
    return theo


def minhash_banding_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banding S-CURVE, measured against exact ground truth — the
    calibration a (bands × rows) choice is made from, and the artifact
    behind this round's pipeline decision (the fused chain's band screen
    misses an exactly-j=0.8 pair at sf0.1; this entry quantifies that
    recall per similarity band instead of leaving it anecdotal). For
    every exact near-dup pair at J ≥ 0.1 (the pair universe of
    `dedup_ngram_jaccard`), the pair is bucketed by Jaccard decile and
    scored caught/missed against the MinHash band candidates; the
    theoretical 1 − (1 − j⁴)⁴ midpoint curve rides alongside as a
    literal column, so
    the report reads measured-vs-theory directly. catch_rate is the
    `_ratio6` exact-integer division; the bucket key is floor(10·j) on
    the already bit-portable rounded Jaccard.

    Scale: ground truth reuses the exact pair join (at 100 TB the
    calibration runs on a corpus SAMPLE — the curve is a property of
    the hash family and the similarity distribution, not of corpus
    size); the band side is the memoized staged candidate set; the
    rollup is an ≤11-row agg."""
    from .textstats import _ratio6

    ground = dedup_ngram_jaccard(spark, sf_dir)
    band = _lsh_candidates(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("caught")
    )
    flagged = ground.join(band, ["doc_a", "doc_b"], "left")
    bucket = F.floor(F.col("jaccard") * 10).cast("int")
    theo_map = F.create_map(
        *[
            F.lit(x)
            for d, t in sorted(_banding_theo_catch().items())
            for x in (d, t)
        ]
    )
    return (
        flagged.select(
            bucket.alias("j_decile"),
            F.coalesce(F.col("caught"), F.lit(0)).alias("c"),
        )
        .groupBy("j_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("c").cast("long").alias("n_caught"),
        )
        .withColumn("catch_rate", _ratio6(F.col("n_caught"), F.col("n_pairs")))
        .withColumn("theo_catch", F.element_at(theo_map, F.col("j_decile")))
    )


def dedup_editdist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level (Levenshtein) verification of the MinHash/LSH
    candidate pairs — the fuzzy-dedup verify layer that catches
    insert/delete edits n-gram Jaccard dilutes (a 1-char typo destroys 3
    shingles; it is 1 edit here). Used in production pipelines as the
    precision layer after shingle blocking when near-identical boilerplate
    differs only by injected IDs/dates.

    Scale shape: edit distance is O(L²) per pair, so it NEVER runs
    all-pairs — only over the banded LSH candidate set (shared, staged,
    memoized via :func:`_lsh_candidates`; candidate volume is the banding
    physics measured in SCALE.md), and on a fixed ``EDITDIST_PREFIX``-char
    prefix so per-pair cost is bounded by a constant, not document length.
    Both engines compute classic Levenshtein on the identical lowercased
    prefix (built-in, JVM-side/vectorized — no UDF), and the keep
    predicate is the INTEGER cross-product ``lev·5 ≤ greatest(len_a,
    len_b)`` (⇔ normalized similarity ≥ 0.8) — no doubles anywhere, so
    the output is bit-portable by construction."""
    cand = _lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(F.lower(F.col("text")), 1, EDITDIST_PREFIX).alias("t"),
    )
    ta = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a")
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b")
    )
    lev = F.levenshtein("t_a", "t_b")
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            lev.alias("lev"),
            F.length("t_a").alias("len_a"),
            F.length("t_b").alias("len_b"),
        )
        .filter(
            F.col("lev") * EDITDIST_SIM_X[1]
            <= F.greatest(F.col("len_a"), F.col("len_b"))
        )
    )


# --- duplicate clustering (connected components over the near-dup graph) ----
# Driver fast-path bound for connected_components: undirected pairs the
# driver may collect and solve with exact union-find — two longs each, so
# the cap holds the collect near 32 MB plus dict overhead, far under
# driver headroom while covering any plausible verified near-dup graph of
# the benched corpora. A larger pair graph goes to star contraction.
_CC_DRIVER_MAX_PAIRS = 1_000_000


def connected_components(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components of the graph ``nodes`` (one ``id`` column)
    with undirected edges ``pairs`` (``doc_a``, ``doc_b``). Returns
    (``id``, ``label``) with label = min id of the component.

    The pair graph of a verified near-dup pass is sub-corpus (banded +
    verified pairs), so the pairs are staged once and one bounded collect
    both answers "does it fit the driver?" and fetches it when it does:
    ``limit(cap + 1)`` returns every pair iff there are at most
    ``_CC_DRIVER_MAX_PAIRS``. It reads the staged files as one partition,
    so the take is one Spark job whatever the file count (over many
    partitions Spark's take scans one, then more, one job each). A graph that fits is solved by an exact
    union-find on the driver and the labels attach to the nodes by a
    broadcast join of ONLY the non-singleton mapping. A larger graph goes
    to :func:`connected_components_star` over the same staged pairs, so
    the pair plan runs once on either path. Both paths return the same
    labels (the property tests pin each against a sequential
    union-find)."""
    staged = stage(pairs.select("doc_a", "doc_b"))
    probe = staged.coalesce(1).limit(_CC_DRIVER_MAX_PAIRS + 1).collect()
    if len(probe) > _CC_DRIVER_MAX_PAIRS:
        labels = connected_components_star(nodes, staged)
        discard(staged)  # star's result scans only its own staged edges
        return labels
    discard(staged)
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for row in probe:
        a, b = find(row["doc_a"]), find(row["doc_b"])
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    mapping = [(int(v), int(find(v))) for v in parent if v != find(v)]
    mdf = local_frame(nodes.sparkSession, mapping, "id long, label long")
    return nodes.select("id").join(F.broadcast(mdf), "id", "left").select(
        "id", F.coalesce(F.col("label"), F.col("id")).alias("label")
    )


_STAR_MAX_ROUNDS = 20


def connected_components_star(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the distributed path of :func:`connected_components`.
    Min-label propagation would need diameter-many rounds (a 100 M-node
    chain would need 100 M), while star contraction converges in
    O(log n) rounds on ANY graph shape, each round the same groupBy-min +
    keyed-join shuffle budget.

    - large-star: every node links its LARGER neighbors to the minimum of
      its neighborhood (incl. itself) — long tails fold toward minima.
    - small-star: every node links its smaller neighbors and itself to
      that minimum — stars flatten so each component becomes one star
      centered at its minimum id.

    The fixpoint is an edge set {(v, min-of-component)}; convergence is an
    exact set-equality check (count match + one-sided exceptAll — an extra
    exchange per round, but rounds are logarithmic, and a fingerprint
    check could false-positive). Per-round staging is disk-backed and
    bounded to two rounds of files. Returns (``id``, ``label``), label =
    min id of the component — bit-identical to the driver union-find of
    :func:`connected_components` (equivalence is pinned by a property
    test and by ``dedup_clusters_star`` sharing the recursive-CTE
    oracle)."""
    edges = stage(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
    )
    n_edges = edges.count()
    converged = n_edges == 0
    for _ in range(_STAR_MAX_ROUNDS):
        if converged:
            break
        # large-star over the undirected view: attach v > u to
        # m = min(neighborhood(u) ∪ {u})
        bi = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = bi.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            bi.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        large = stage(large)
        # small-star: edges are (u, v<u); attach u and its smaller
        # neighbors to m = min(smaller-neighbors)
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )
        new_edges = stage(small)
        discard(large)
        new_count = new_edges.count()
        if new_count == n_edges and new_edges.exceptAll(edges).isEmpty():
            converged = True
        discard(edges)
        edges, n_edges = new_edges, new_count
    if not converged:
        raise RuntimeError(
            f"connected_components_star: no fixpoint within "
            f"{_STAR_MAX_ROUNDS} rounds — O(log n) convergence means this "
            "graph is far larger than the round budget anticipates."
        )
    # NOTE: the returned plan still scans the final staged edge set, so it
    # is NOT discarded here (doing that served FILE_NOT_EXIST to the
    # caller's collect). Session temp-dir cleanup reclaims it at exit.
    return nodes.join(
        edges.groupBy("u").agg(F.min("v").alias("nbr")),
        nodes.id == F.col("u"),
        "left",
    ).select(
        "id", F.coalesce(F.col("nbr"), F.col("id")).alias("label")
    )


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components labels over the verified near-dup pair graph,
    memoized per (session, corpus) — four registry entries (clusters,
    size histogram, corpus summary, quality survivorship) consume the
    SAME labels, and re-running the component pass per entry was the
    dominant cost of each (measured ~3 s at sf0.01 per re-run, one
    label pass shared instead)."""

    def build() -> DataFrame:
        docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
        pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
        # connected_components' driver fast path returns a LAZY
        # broadcast-join plan; this memo serves FOUR registry entries, so
        # stage it once here — each consumer then rescans cheap parquet
        # instead of re-running the nodes scan + join per entry
        return stage(connected_components(docs, pairs))

    return memo(
        spark, ("cc_labels", sf_dir), [table_path(sf_dir, "documents")], build
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the verified
    MinHash/LSH near-dup pair graph, the final step of a real dedup
    pipeline (pairs alone don't dedup — A~B and B~C must collapse into one
    cluster {A,B,C} with one canonical survivor). Output: one row per
    document (singletons included), cluster id = min doc_id of the
    component, cluster size, and the canonical-survivor flag."""
    return _cluster_report(_cluster_labels(spark, sf_dir))


def _cluster_report(labels: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return (
        labels.select(
            F.col("id").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            (F.col("id") == F.col("label")).alias("is_canonical"),
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
    )


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_clusters` computed by the O(log n)-round
    large-star/small-star contraction instead of the driver union-find —
    the path :func:`connected_components` takes once a 100 TB corpus's
    pair graph outgrows the driver. Same verified LSH pair graph, same
    output, same recursive-CTE oracle: the driver gate itself certifies
    that star contraction agrees on the real pair graph, which the
    benched corpora never push past the driver bound."""
    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return _cluster_report(connected_components_star(docs, pairs))


# --- end-to-end dedup impact (the corpus-reduction report) -------------------
def dedup_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup story composed end-to-end: shingle → MinHash/LSH →
    verified pairs → connected components → keep one canonical doc per
    cluster — reported as per-language corpus reduction (docs and chars
    kept vs removed), i.e. the number a training-data pipeline actually
    publishes after a dedup pass."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "is_canonical")
    return (
        docs.join(clusters, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_docs"),
            F.sum(F.when(F.col("is_canonical"), 1).otherwise(0)).alias("kept_docs"),
            F.sum(F.when(F.col("is_canonical"), F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
            F.sum(F.when(~F.col("is_canonical"), 1).otherwise(0)).alias(
                "removed_docs"
            ),
        )
    )


# --- leakage-safe train/val/test split ---------------------------------------
SPLIT_MOD = 10  # hash buckets: 0-7 train, 8 val, 9 test (80/10/10)


def _split_name(bucket):
    return (
        F.when(bucket <= 7, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-AWARE train/val/test split — the eval-integrity step after
    near-dup detection: a naive per-document hash split puts near-
    duplicate pairs on BOTH sides of the train/test fence (the
    benchmark-contamination mechanism, self-inflicted), while the
    cluster-aware split hashes each document's connected-component
    REPRESENTATIVE (min doc_id of its verified LSH near-dup component),
    so every near-dup cluster lands whole in exactly one split — zero
    straddling pairs BY CONSTRUCTION, and the report proves it next to
    the naive method's measured leak count. Both splits are 80/10/10 by
    the portable 60-bit hash (deterministic, seedless, any worker
    recomputes membership from ids alone — the
    :func:`epoch_shard_assignment` property).

    Output: (method, split_name, n_docs, leaky_pairs) — leaky_pairs is
    the method-level count of verified near-dup pairs whose endpoints
    fall in different splits (repeated across the method's rows;
    cluster_safe rows carry 0, test-pinned).

    Scale shape: reuses the memoized component labels
    (:func:`_cluster_labels` — one component pass per corpus,
    shared with the cluster family), the split assignment is a map-side
    hash expression, the leak audit joins the bounded verified-pair list
    (already sub-corpus after LSH banding + verify) against the 2-column
    assignment twice, and the report aggregates to 6 rows + 1."""
    labels = _cluster_labels(spark, sf_dir)
    assign = stage(
        labels.select(
            F.col("id").alias("doc_id"),
            _split_name(
                F.expr(_SPARK_H.format(expr="cast(id as string)"))
                % SPLIT_MOD
            ).alias("nsplit"),
            _split_name(
                F.expr(_SPARK_H.format(expr="cast(label as string)"))
                % SPLIT_MOD
            ).alias("ssplit"),
        )
    )
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    a = assign.select(
        F.col("doc_id").alias("doc_a"),
        F.col("nsplit").alias("na"),
        F.col("ssplit").alias("sa"),
    )
    b = assign.select(
        F.col("doc_id").alias("doc_b"),
        F.col("nsplit").alias("nb"),
        F.col("ssplit").alias("sb"),
    )
    leaks = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            F.sum((F.col("na") != F.col("nb")).cast("long")).alias("nl"),
            F.sum((F.col("sa") != F.col("sb")).cast("long")).alias("sl"),
        )
        .collect()[0]
    )
    nl = int(leaks["nl"] or 0)
    sl = int(leaks["sl"] or 0)
    counts = (
        assign.groupBy(F.lit("naive").alias("method"), F.col("nsplit").alias("split_name"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .unionByName(
            assign.groupBy(
                F.lit("cluster_safe").alias("method"),
                F.col("ssplit").alias("split_name"),
            ).agg(F.count(F.lit(1)).alias("n_docs"))
        )
    )
    return counts.select(
        "method",
        "split_name",
        "n_docs",
        F.when(F.col("method") == "naive", F.lit(nl))
        .otherwise(F.lit(sl))
        .cast("long")
        .alias("leaky_pairs"),
    ).orderBy("method", "split_name")


def _staged_simhash(spark: SparkSession, sf_dir: str, width: int) -> DataFrame:
    """Staged SimHash signature table, memoized per (session, sf_dir,
    width): the shared intermediate of the pairing entries (both self-join
    sides read it), so the vote aggregates run once per corpus, not once
    per pairing call."""
    return memo(
        spark,
        ("simhash", sf_dir, width),
        [table_path(sf_dir, "documents")],
        lambda: stage(_simhash(spark, sf_dir, width)),
    )


# --- SimHash signatures -------------------------------------------------------
# Token hash words, 32 signature bits each. Width 32 votes on the low bits of
# the canonical ``_SPARK_H``; width 64 on two independent 32-bit halves of
# the md5 (bits 0-31 on hex chars 1-8, bits 32-63 on chars 9-16) —
# bit-identical in duckdb, same portability recipe as ``_SPARK_H``.
_SPARK_H32A = "cast(conv(substr(md5({expr}), 1, 8), 16, 10) as bigint)"
_SPARK_H32B = "cast(conv(substr(md5({expr}), 9, 8), 16, 10) as bigint)"
_DUCK_H32A = "CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"
_DUCK_H32B = "CAST(concat('0x', substr(md5({expr}), 9, 8)) AS BIGINT)"
_SIMHASH_WORDS = {32: [_SPARK_H], 64: [_SPARK_H32A, _SPARK_H32B]}
_DUCK_SIMHASH_WORDS = {32: [_DUCK_H], 64: [_DUCK_H32A, _DUCK_H32B]}


def _simhash(spark: SparkSession, sf_dir: str, width: int) -> DataFrame:
    """Per-doc ``width``-bit SimHash over distinct tokens: token hash words
    → per-bit ±1 vote sums → sign bits reassembled. One distinct-token
    explode and one groupBy(doc_id) with ``width`` conditional-sum
    aggregates — a single map-side-combinable pass; doubling the width
    costs more long sum buffers in the same pass, no extra shuffle."""
    words = _SIMHASH_WORDS[width]
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
        .select(
            "doc_id",
            *[
                F.expr(h.format(expr="tok")).alias(f"h{w}")
                for w, h in enumerate(words)
            ],
        )
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h{b // 32} >> {b % 32}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(width)
        ]
    )
    acc = None
    for b in range(width):
        # bit 63 lands in the sign bit (two's complement); xor/popcount
        # downstream is sign-agnostic
        value = -(1 << 63) if b == 63 else 1 << b
        bit = F.when(F.col(f"v{b}") > 0, F.lit(value).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        acc = bit if acc is None else acc + bit
    return votes.select("doc_id", acc.cast("bigint").alias("simhash"))


def simhash32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-bit SimHash (:func:`_simhash` at width 32)."""
    return _simhash(spark, sf_dir, 32)


def simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash — the production width (Manku-Jain-Sarma use 64-bit
    signatures for 8 B pages); :func:`_simhash` at width 64. The point,
    measured at sf0.01 (see :func:`simhash64_hamming_pairs_wide`): the
    narrow shared vocabulary that saturates 32 bits (hamming=0 collisions
    across >1 K distinct docs) de-saturates at 64."""
    return _simhash(spark, sf_dir, 64)


# --- SimHash near-dup pairs (Hamming-banded blocking) ------------------------
SIMHASH_MAX_HAMMING = 3  # ≤3 differing bits counts as near-dup
# Both layouts cut the signature into 4 disjoint bands: pigeonhole
# guarantees that a pair within Hamming ≤ 3 matches one band exactly.
_SIMHASH_BANDS = 4


def _simhash_pairs(spark: SparkSession, sf_dir: str, width: int) -> DataFrame:
    """Near-duplicate pairs by ``width``-bit SimHash Hamming distance.
    Pigeonhole blocking: the signature splits into ``_SIMHASH_BANDS``
    disjoint bands of ``width / 4`` bits; any pair within Hamming ≤ 3
    differs in at most 3 bands, so at least one band matches EXACTLY —
    candidate generation is an equi-join on (band_idx, band_value), the
    Charikar/Manku-Jain-Sarma web-dedup shape, never an all-pairs scan.
    Verification is one xor+popcount per candidate (codegen). Band-value
    hot spots (e.g. the all-zeros band from boilerplate) are the same
    skew class as hot shingles, handled by AQE skew split. Output:
    (doc_a, doc_b, hamming) for candidate pairs at fingerprint
    granularity."""
    sh = _staged_simhash(spark, sf_dir, width)  # both join sides read one file
    bits = width // _SIMHASH_BANDS
    bands = None
    for b in range(_SIMHASH_BANDS):
        part = sh.select(
            "doc_id",
            "simhash",
            F.lit(b).alias("band_idx"),
            F.expr(f"shiftright(simhash, {bits * b}) & {(1 << bits) - 1}").alias(
                "band_val"
            ),
        )
        bands = part if bands is None else bands.unionByName(part)
    a, b_ = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.expr("ha ^ hb")).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by 32-bit SimHash (4 × 8-bit bands) — the
    pairing step that makes :func:`simhash32` a dedup pipeline rather
    than a fingerprint column. The honest limit, measured on this corpus:
    a narrow shared vocabulary saturates 32 bits (at sf0.01 the
    hamming=0 class alone is 1,192 pairs across 194 distinct-text docs),
    so 32-bit pairs are a RECALL-oriented candidate feed for an exact
    verifier (the Jaccard stage); the de-saturated production width is
    :func:`simhash64_hamming_pairs_wide`."""
    return _simhash_pairs(spark, sf_dir, 32)


def simhash64_hamming_pairs_wide(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-duplicate pairs by 64-bit SimHash with 4 × 16-bit bands.

    De-saturation, measured at sf0.01 (500 all-distinct-text docs):
    32-bit emits 21,223 pairs at hamming ≤ 3 with a hamming=0 class of
    1,192 pairs chaining 194 distinct docs — saturation cliques, not
    duplicates; 64-bit cuts the ≤ 3 output 13× to 1,597 pairs and the
    hamming=0 class to 451 pairs / 78 docs (the residue is the corpus's
    genuinely templated near-identical token sets, which IS what SimHash
    should pair). Same numbers recorded in SCALE.md.

    Why 16-bit bands: an 8-bit band has only 256 values, so a random
    corpus puts ~n/256 docs in every bucket and the equi-join generates
    Θ(n²/256) candidates per band — measured on the scale smoke's
    50 K-doc corpus: 43.8 M candidate pairs under 8×8-bit banding vs
    102 K under 4×16-bit (430×), for identical output (both are exact at
    the ≤ 3 verify threshold). 16-bit bands give 65,536 buckets —
    Manku-Jain-Sarma's wider-key table design — pushing the quadratic
    wall out 256×; at genuinely web-scale n the next step is the same
    trick again (fewer, wider bands per extra Hamming bit of slack, or
    signature-sorted prefix tables). Shuffle rows per doc: 4."""
    return _simhash_pairs(spark, sf_dir, 64)


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_exact_hash": dedup_exact_hash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_jaccard_prefix_filter": dedup_jaccard_prefix_filter,
    "dedup_bloom_screen": dedup_bloom_screen,
    "dedup_ngram_containment": dedup_ngram_containment,
    "dedup_incremental": dedup_incremental,
    "doc_duplicate_ngram_spans": doc_duplicate_ngram_spans,
    "dedup_exact_substrings": dedup_exact_substrings,
    "dedup_substring_removal_report": dedup_substring_removal_report,
    "dedup_substring_removed_text": dedup_substring_removed_text,
    "benchmark_contamination_substrings": benchmark_contamination_substrings,
    "contamination_span_removal": contamination_span_removal,
    "dedup_lines_report": dedup_lines_report,
    "dedup_paragraphs_report": dedup_paragraphs_report,
    "dedup_paragraphs_removed_text": dedup_paragraphs_removed_text,
    "dedup_cluster_size_histogram": dedup_cluster_size_histogram,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "minhash_banding_calibration": minhash_banding_calibration,
    "jaccard_threshold_sweep": jaccard_threshold_sweep,
    "dedup_graph_triangle_stats": dedup_graph_triangle_stats,
    "minhash_estimate_accuracy": minhash_estimate_accuracy,
    "minhash_b_bit_accuracy": minhash_b_bit_accuracy,
    "dedup_editdist_verify": dedup_editdist_verify,
    "dedup_keep_best_quality": dedup_keep_best_quality,
    "source_overlap_matrix": source_overlap_matrix,
    "dedup_clusters": dedup_clusters,
    "dedup_clusters_star": dedup_clusters_star,
    "dedup_corpus_summary": dedup_corpus_summary,
    "leakage_safe_split": leakage_safe_split,
    "dedup_method_agreement": dedup_method_agreement,
    "simhash32": simhash32,
    "simhash_hamming_pairs": simhash_hamming_pairs,
    "simhash64": simhash64,
    "simhash64_hamming_pairs_wide": simhash64_hamming_pairs_wide,
}


def _duck_clusters_sql() -> str:
    """Recursive-CTE twin of :func:`dedup_clusters`: transitive closure over
    the same verified LSH pair graph, cluster id = MIN(reachable doc_id).
    Exact for the oracle's small graphs; the Spark side scales instead via
    union-find or star contraction (closure tables are |C|² per
    component)."""
    return f"""
        WITH RECURSIVE
        mh AS ({_duck_minhash_sql()}),
        bi AS (
            SELECT doc_a AS a, doc_b AS b FROM mh
            UNION
            SELECT doc_b AS a, doc_a AS b FROM mh
        ),
        reach(src, dst) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.src, e.b FROM reach r JOIN bi e ON r.dst = e.a
        ),
        lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
        SELECT doc_id, cluster_id,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
               doc_id = cluster_id AS is_canonical
        FROM lab
    """


def _duck_lsh_body(materialized: bool = False) -> str:
    """CTE fragment (no WITH) from an existing shingle CTE ``sh`` through
    the LSH candidate-pair CTE ``cand`` — the oracle twin of
    :func:`_lsh_candidates_of`, composable over any shingle relation
    (the fused curation pipeline bands its rebuilt-text ``sh``).
    ``materialized=True`` pins ``sig``/``banded``/``cand``: ``banded``
    is referenced once per band by the UNION-ALL stack, and DuckDB
    otherwise inlines (= recomputes) the entire upstream ``sh`` chain
    per reference — harmless over raw-document shingles (the standalone
    dedup oracles stay on the long-green default), a >25× blowup when
    ``sh`` sits on the curation pipeline's rebuilt-text chain."""
    kw = "MATERIALIZED " if materialized else ""
    mins = ",\n               ".join(
        f"MIN(({a} * hb + {b}) % {_MH_P}) AS m{s}"
        for s, (a, b) in enumerate(_mh_params())
    )
    rows_per_band = N_HASHES // N_BANDS
    bands = ",\n               ".join(
        "md5(concat_ws('_', "
        + ", ".join(f"m{b * rows_per_band + r}" for r in range(rows_per_band))
        + f")) AS band{b}"
        for b in range(N_BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, band{b} AS band_hash FROM banded"
        for b in range(N_BANDS)
    )
    return f"""
        shb AS (
            SELECT doc_id, sh_h % {_MH_P} AS hb
            FROM sh
        ),
        sig AS {kw}(
            SELECT doc_id,
               {mins}
            FROM shb GROUP BY doc_id
        ),
        banded AS {kw}(
            SELECT doc_id,
               {bands}
            FROM sig
        ),
        long AS ({band_rows}),
        cand AS {kw}(
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM long a JOIN long b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        )"""


def _duck_lsh_cand_cte() -> str:
    """The shared WITH-body through the LSH candidate-pair CTE ``cand`` —
    the oracle twin of :func:`_lsh_candidates` (corpus shingles), reused
    by every verify layer (Jaccard, edit distance)."""
    return f"""
        WITH {_DUCK_SHINGLES},{_duck_lsh_body()}"""


def _duck_minhash_sql() -> str:
    return f"""
        {_duck_lsh_cand_cte()},
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n AS na, b.n AS nb, COUNT(*) AS shared
            FROM sh a JOIN sh b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        )
        SELECT c.doc_a, c.doc_b,
               ROUND(CAST(s.shared AS DOUBLE) / (s.na + s.nb - s.shared), 6)
                   AS jaccard
        FROM cand c
        JOIN shared s ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b
        WHERE s.shared * {JACCARD_X[1]}
              >= {JACCARD_X[0]} * (s.na + s.nb - s.shared)
    """


def _duck_simhash_sql(width: int) -> str:
    """DuckDB twin of :func:`_simhash` at ``width`` bits."""
    words = _DUCK_SIMHASH_WORDS[width]
    hashed = ", ".join(
        f"{h.format(expr='tok')} AS h{w}" for w, h in enumerate(words)
    )
    votes = ",\n               ".join(
        f"SUM(CASE WHEN (h{b // 32} >> {b % 32}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" AS v{b}"
        for b in range(width)
    )
    # bit 63 is the sign bit; its literal is spelled as a BIGINT expression
    acc = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN "
        f"{'(-9223372036854775807 - 1)' if b == 63 else 1 << b} ELSE 0 END)"
        for b in range(width)
    )
    return rf"""
        WITH toks AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id, UNNEST(string_split_regex(lower(text), '\s+')) AS tok
                FROM documents
            ) WHERE tok <> ''
        ),
        hashed AS (SELECT doc_id, {hashed} FROM toks),
        votes AS (
            SELECT doc_id,
               {votes}
            FROM hashed GROUP BY doc_id
        )
        SELECT doc_id, CAST({acc} AS BIGINT) AS simhash FROM votes
    """


def _duck_simhash_pairs_sql(width: int, n_bands: int) -> str:
    """DuckDB twin of :func:`_simhash_pairs`: ``n_bands`` disjoint bands
    of the ``width``-bit signature, band equi-join, xor/popcount verify."""
    bits = width // n_bands
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band_idx,"
        f" (simhash >> {bits * b}) & {(1 << bits) - 1} AS band_val FROM sh"
        for b in range(n_bands)
    )
    return f"""
    WITH sh AS ({_duck_simhash_sql(width)}),
    bands AS ({band_rows}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS ha, b.simhash AS hb
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        FROM cand
    ) WHERE hamming <= {SIMHASH_MAX_HAMMING}
"""


_DUCK_LINE_EXPR = (
    f"array_to_string(toks[CAST(i * {LINE_TOKENS} + 1 AS INT):"
    f"CAST(i * {LINE_TOKENS} + {LINE_TOKENS} AS INT)], ' ')"
)

_DUCK_PARA_EXPR = (
    f"array_to_string(toks[CAST(i * {PARA_TOKENS} + 1 AS INT):"
    f"CAST(i * {PARA_TOKENS} + {PARA_TOKENS} AS INT)], ' ')"
)

# shared CTE chain for the paragraph family: segment → hash → the
# corpus-wide first-occurrence flag (one window over 8-byte hashes)
_DUCK_PARA_FLAGGED = rf"""
    WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        FROM documents
    ),
    paras AS (
        SELECT doc_id, CAST(i AS INT) AS pos, {_DUCK_PARA_EXPR} AS para,
               {_DUCK_H.format(expr=_DUCK_PARA_EXPR)} AS ph
        FROM t, UNNEST(range(GREATEST(
            CAST(CEIL(len(toks) / CAST({PARA_TOKENS} AS DOUBLE)) AS BIGINT),
            1))) AS u(i)
    ),
    flagged AS (
        SELECT doc_id, pos, para,
               CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY ph ORDER BY doc_id, pos) = 1
               THEN 1 ELSE 0 END AS kept
        FROM paras
    )
"""


ORACLE = {
    "dedup_exact": """
        SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS copies
        FROM documents GROUP BY text
    """,
    "dedup_exact_hash": """
        SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS copies
        FROM documents GROUP BY sha256(text)
    """,
    "dedup_ngram_jaccard": rf"""
        WITH {_DUCK_SHINGLES},
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n AS na, b.n AS nb, COUNT(*) AS shared
            FROM sh a JOIN sh b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        )
        SELECT doc_a, doc_b,
               ROUND(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
        FROM pairs
        WHERE shared * {JACCARD_X[1]} >= {JACCARD_X[0]} * (na + nb - shared)
    """,
    "dedup_ngram_containment": rf"""
        WITH {_DUCK_SHINGLES},
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n AS na, b.n AS nb, COUNT(*) AS shared
            FROM sh a JOIN sh b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        )
        SELECT doc_a, doc_b, CAST(shared AS INT) AS shared,
               ROUND(CAST(shared AS DOUBLE) / LEAST(na, nb), 6)
                   AS containment
        FROM pairs
        WHERE shared * {CONTAINMENT_X[1]} >= {CONTAINMENT_X[0]} * LEAST(na, nb)
    """,
    "dedup_incremental": f"""
        WITH bounds AS (
            SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
        ),
        digests AS (
            SELECT doc_id, lang, sha256(text) AS h,
                   (SELECT lo + CAST(FLOOR((hi - lo) * {INCREMENTAL_SPLIT_FRAC}) AS BIGINT)
                    FROM bounds) AS split
            FROM documents
        ),
        corpus AS (SELECT DISTINCT h FROM digests WHERE doc_id < split),
        batch AS (SELECT * FROM digests WHERE doc_id >= split),
        fresh AS (
            SELECT * FROM batch WHERE h NOT IN (SELECT h FROM corpus)
        ),
        admitted AS (
            SELECT MIN(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang
            FROM fresh GROUP BY h
        ),
        bc AS (SELECT lang, COUNT(*) AS batch_docs FROM batch GROUP BY lang),
        ac AS (
            SELECT lang, COUNT(*) AS admitted_docs FROM admitted GROUP BY lang
        )
        SELECT bc.lang, bc.batch_docs,
               COALESCE(ac.admitted_docs, 0) AS admitted_docs,
               bc.batch_docs - COALESCE(ac.admitted_docs, 0) AS rejected_docs
        FROM bc LEFT JOIN ac ON bc.lang = ac.lang
    """,
    "dedup_paragraphs_report": _DUCK_PARA_FLAGGED + """
        SELECT doc_id, COUNT(*) AS n_paras,
               CAST(SUM(kept) AS BIGINT) AS kept_paras,
               CAST(COUNT(*) - SUM(kept) AS BIGINT) AS removed_paras,
               CAST(SUM((1 - kept) * len(string_split(para, ' ')))
                    AS BIGINT) AS removed_tokens
        FROM flagged GROUP BY doc_id
    """,
    "dedup_paragraphs_removed_text": _DUCK_PARA_FLAGGED + """
        SELECT doc_id, COUNT(*) AS n_paras,
               CAST(SUM(kept) AS BIGINT) AS kept_paras,
               COALESCE(string_agg(CASE WHEN kept = 1 THEN para END,
                                   ' ' ORDER BY pos), '') AS text_clean
        FROM flagged GROUP BY doc_id
    """,
    "dedup_lines_report": rf"""
        WITH t AS (
            SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
            FROM documents
        ),
        lines AS (
            SELECT doc_id, CAST(i AS INT) AS pos,
                   {_DUCK_H.format(expr=_DUCK_LINE_EXPR)} AS lh
            FROM t, UNNEST(range(GREATEST(
                CAST(CEIL(len(toks) / CAST({LINE_TOKENS} AS DOUBLE)) AS BIGINT),
                1))) AS u(i)
        ),
        flagged AS (
            SELECT doc_id,
                   CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY lh ORDER BY doc_id, pos) = 1
                   THEN 1 ELSE 0 END AS kept
            FROM lines
        )
        SELECT doc_id, COUNT(*) AS n_lines,
               CAST(SUM(kept) AS BIGINT) AS kept_lines,
               CAST(COUNT(*) - SUM(kept) AS BIGINT) AS removed_lines
        FROM flagged GROUP BY doc_id
    """,
    "doc_duplicate_ngram_spans": rf"""
        WITH t AS (
            SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
            FROM documents
        ),
        g AS (
            SELECT doc_id,
                   {_DUCK_H.format(expr=f"array_to_string(toks[CAST(i + 1 AS INT):CAST(i + {SPAN_NGRAM} AS INT)], ' ')")} AS g
            FROM t, UNNEST(range(len(toks) - {SPAN_NGRAM - 1})) AS u(i)
            WHERE len(toks) >= {SPAN_NGRAM}
        ),
        dupg AS (
            SELECT g FROM (
                SELECT g, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY g
            ) WHERE df > 1
        )
        SELECT doc_id, COUNT(*) AS n_spans,
               CAST(SUM(CASE WHEN g.g IN (SELECT g FROM dupg)
                        THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
               ROUND(CAST(SUM(CASE WHEN g.g IN (SELECT g FROM dupg)
                        THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
                   AS dup_fraction
        FROM g GROUP BY doc_id
    """,
    "dedup_cluster_size_histogram": f"""
        WITH clusters AS ({_duck_clusters_sql()}),
        sizes AS (
            SELECT cluster_id, COUNT(*) AS k FROM clusters GROUP BY cluster_id
        )
        SELECT k AS cluster_size, COUNT(*) AS n_clusters,
               CAST(k * COUNT(*) AS BIGINT) AS docs_in_size
        FROM sizes GROUP BY k
    """,
    "minhash_lsh_pairs": _duck_minhash_sql(),
    "dedup_clusters": _duck_clusters_sql(),
    # the star variant must agree with the union-find bit-for-bit, so it
    # shares the recursive-CTE transitive-closure oracle verbatim
    "dedup_clusters_star": _duck_clusters_sql(),
    "dedup_corpus_summary": f"""
        SELECT d.lang,
               COUNT(*) AS total_docs,
               CAST(SUM(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END)
                   AS BIGINT) AS kept_docs,
               CAST(SUM(CASE WHEN c.doc_id = c.cluster_id THEN d.n_chars ELSE 0 END)
                   AS BIGINT) AS kept_chars,
               CAST(SUM(CASE WHEN c.doc_id = c.cluster_id THEN 0 ELSE 1 END)
                   AS BIGINT) AS removed_docs
        FROM ({_duck_clusters_sql()}) c
        JOIN documents d ON c.doc_id = d.doc_id
        GROUP BY d.lang
    """,
    "simhash32": _duck_simhash_sql(32),
    # split buckets from the canonical portable hash; leak audit over the
    # same verified pair list the clusters are built from
    "leakage_safe_split": f"""
        WITH lab AS (
            SELECT doc_id,
                   CASE WHEN nb <= 7 THEN 'train'
                        WHEN nb = 8 THEN 'val' ELSE 'test' END AS nsplit,
                   CASE WHEN sb <= 7 THEN 'train'
                        WHEN sb = 8 THEN 'val' ELSE 'test' END AS ssplit
            FROM (
                SELECT doc_id,
                       {_DUCK_H.format(expr="CAST(doc_id AS VARCHAR)")}
                           % {SPLIT_MOD} AS nb,
                       {_DUCK_H.format(expr="CAST(cluster_id AS VARCHAR)")}
                           % {SPLIT_MOD} AS sb
                FROM ({_duck_clusters_sql()})
            )
        ),
        mh AS ({_duck_minhash_sql()}),
        leaks AS (
            SELECT
                CAST(COALESCE(SUM(CASE WHEN a.nsplit <> b.nsplit
                                       THEN 1 ELSE 0 END), 0) AS BIGINT)
                    AS nl,
                CAST(COALESCE(SUM(CASE WHEN a.ssplit <> b.ssplit
                                       THEN 1 ELSE 0 END), 0) AS BIGINT)
                    AS sl
            FROM mh
            JOIN lab a ON mh.doc_a = a.doc_id
            JOIN lab b ON mh.doc_b = b.doc_id
        ),
        counts AS (
            SELECT 'naive' AS method, nsplit AS split_name,
                   COUNT(*) AS n_docs
            FROM lab GROUP BY nsplit
            UNION ALL
            SELECT 'cluster_safe', ssplit, COUNT(*)
            FROM lab GROUP BY ssplit
        )
        SELECT c.method, c.split_name, c.n_docs,
               CASE WHEN c.method = 'naive' THEN l.nl ELSE l.sl END
                   AS leaky_pairs
        FROM counts c CROSS JOIN leaks l
        ORDER BY c.method, c.split_name
    """,
}

_EQ16 = " + ".join(
    f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
)


def _duck_keep_best_sql() -> str:
    from .textstats import STOPWORDS_EN, _DUCK_TOKS, _duck_in

    return f"""
        WITH clusters AS ({_duck_clusters_sql()}),
        q AS (
            SELECT doc_id,
                   CASE WHEN n_tokens >= 10
                         AND n_stop * 20 >= n_tokens
                         AND n_punct * 5 <= len_text
                        THEN 1 ELSE 0 END AS ok
            FROM (
                SELECT doc_id,
                       CAST(len({_DUCK_TOKS}) AS INT) AS n_tokens,
                       CAST(len(list_filter({_DUCK_TOKS},
                            t -> {_duck_in(STOPWORDS_EN)})) AS INT) AS n_stop,
                       length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                           AS n_punct,
                       length(text) AS len_text
                FROM documents
            )
        ),
        r AS (
            SELECT c.cluster_id, c.doc_id, c.cluster_size, q.ok,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY q.ok DESC, c.doc_id ASC
                   ) AS rn,
                   CAST(SUM(q.ok) OVER (PARTITION BY c.cluster_id)
                       AS BIGINT) AS n_quality_ok
            FROM clusters c JOIN q USING (doc_id)
        )
        SELECT cluster_id, doc_id AS survivor_doc, cluster_size,
               n_quality_ok, ok AS survivor_ok
        FROM r WHERE rn = 1
    """


ORACLE["dedup_keep_best_quality"] = _duck_keep_best_sql()

ORACLE["jaccard_threshold_sweep"] = f"""
    {_duck_lsh_cand_cte()},
    shared AS (
        SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
               sa.n AS na, sb.n AS nb, COUNT(*) AS shared
        FROM sh sa JOIN sh sb ON sa.sh_h = sb.sh_h AND sa.doc_id < sb.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT CAST((s.shared * 10) // (s.na + s.nb - s.shared) AS INT)
               AS jaccard_decile,
           COUNT(*) AS n_pairs
    FROM cand c
    JOIN shared s ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b
    GROUP BY 1
"""

ORACLE["source_overlap_matrix"] = f"""
    WITH mh AS ({_duck_minhash_sql()})
    SELECT LEAST(sa.source, sb.source) AS source_a,
           GREATEST(sa.source, sb.source) AS source_b,
           COUNT(*) AS near_dup_pairs
    FROM mh
    JOIN documents sa ON mh.doc_a = sa.doc_id
    JOIN documents sb ON mh.doc_b = sb.doc_id
    GROUP BY 1, 2
"""

ORACLE["minhash_estimate_accuracy"] = f"""
    {_duck_lsh_cand_cte()},
    shared AS (
        SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
               sa.n AS na, sb.n AS nb, COUNT(*) AS shared
        FROM sh sa JOIN sh sb ON sa.sh_h = sb.sh_h AND sa.doc_id < sb.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b,
               ROUND(CAST(s.shared AS DOUBLE) / (s.na + s.nb - s.shared), 6)
                   AS jaccard
        FROM cand c
        JOIN shared s ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b
        WHERE s.shared * {JACCARD_X[1]}
              >= {JACCARD_X[0]} * (s.na + s.nb - s.shared)
    )
    SELECT v.doc_a, v.doc_b,
           CAST({_EQ16} AS INT) AS eq_hashes,
           CAST({_EQ16} AS DOUBLE) / {N_HASHES} AS est_jaccard,
           v.jaccard
    FROM verified v
    JOIN sig a ON v.doc_a = a.doc_id
    JOIN sig b ON v.doc_b = b.doc_id
"""

_EQ16_B1 = " + ".join(
    f"(CASE WHEN a.m{i} % 2 = b.m{i} % 2 THEN 1 ELSE 0 END)"
    for i in range(N_HASHES)
)

ORACLE["minhash_b_bit_accuracy"] = f"""
    {_duck_lsh_cand_cte()},
    shared AS (
        SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
               sa.n AS na, sb.n AS nb, COUNT(*) AS shared
        FROM sh sa JOIN sh sb ON sa.sh_h = sb.sh_h AND sa.doc_id < sb.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b,
               ROUND(CAST(s.shared AS DOUBLE) / (s.na + s.nb - s.shared), 6)
                   AS jaccard
        FROM cand c
        JOIN shared s ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b
        WHERE s.shared * {JACCARD_X[1]}
              >= {JACCARD_X[0]} * (s.na + s.nb - s.shared)
    )
    SELECT v.doc_a, v.doc_b,
           CAST({_EQ16_B1} AS INT) AS eq_bits,
           CAST(2 * ({_EQ16_B1}) - {N_HASHES} AS DOUBLE) / {N_HASHES}
               AS est_1bit_jaccard,
           v.jaccard
    FROM verified v
    JOIN sig a ON v.doc_a = a.doc_id
    JOIN sig b ON v.doc_b = b.doc_id
"""

ORACLE["dedup_editdist_verify"] = f"""
    {_duck_lsh_cand_cte()},
    t AS (
        SELECT doc_id, substr(lower(text), 1, {EDITDIST_PREFIX}) AS t
        FROM documents
    )
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(ta.t, tb.t) AS INT) AS lev,
           CAST(length(ta.t) AS INT) AS len_a,
           CAST(length(tb.t) AS INT) AS len_b
    FROM cand c
    JOIN t ta ON c.doc_a = ta.doc_id
    JOIN t tb ON c.doc_b = tb.doc_id
    WHERE levenshtein(ta.t, tb.t) * {EDITDIST_SIM_X[1]}
          <= GREATEST(length(ta.t), length(tb.t))
"""

ORACLE["simhash_hamming_pairs"] = _duck_simhash_pairs_sql(32, _SIMHASH_BANDS)
ORACLE["simhash64"] = _duck_simhash_sql(64)
# the oracle bands 64 bits as 8 × 8 bits, not the entry's 4 × 16: both
# layouts are exact at the ≤ 3 verify threshold, so equal rows also
# certify the entry's pigeonhole recall
ORACLE["simhash64_hamming_pairs_wide"] = _duck_simhash_pairs_sql(64, 8)

# shared (doc_id, pos, wh) window CTE — the oracle twin of _substr_windows
_DUCK_SUBSTR_WINS = rf"""base AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
        FROM documents
    ),
    wins AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
               md5(array_to_string(
                   t[CAST(i AS INT) + 1 : CAST(i AS INT) + {SUBSTR_WINDOW}],
                   ' ')) AS wh
        FROM base, UNNEST(range(len(t) - {SUBSTR_WINDOW} + 1)) AS u(i)
        WHERE len(t) >= {SUBSTR_WINDOW}
    )"""

ORACLE["dedup_exact_substrings"] = rf"""
    WITH {_DUCK_SUBSTR_WINS},
    dup AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY wh) AS n_occ
            FROM wins
        ) WHERE n_occ >= 2
    ),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY pos) AS g
        FROM dup
    )
    SELECT doc_id, MIN(pos) AS span_start,
           CAST(MAX(pos) - MIN(pos) + {SUBSTR_WINDOW} AS INT) AS span_tokens,
           COUNT(*) AS n_dup_windows
    FROM isl GROUP BY doc_id, g
"""

def _duck_banding_calibration() -> str:
    """Oracle for the banding S-curve: the brute pair universe at
    J ≥ 0.1 (the `dedup_ngram_jaccard` twin), LEFT-joined against the
    banding candidates, bucketed by Jaccard decile; the theoretical
    midpoint curve is the SAME Python-computed literals the Spark side
    attaches."""
    from .textstats import _duck_ratio6 as _tduck_ratio6

    theo_case = " ".join(
        f"WHEN {d} THEN {t!r}"
        for d, t in sorted(_banding_theo_catch().items())
    )
    return f"""
    {_duck_lsh_cand_cte()},
    gpairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n AS na, b.n AS nb, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
        HAVING COUNT(*) * {JACCARD_X[1]}
               >= {JACCARD_X[0]} * (a.n + b.n - COUNT(*))
    ),
    flagged AS (
        SELECT CAST(FLOOR(ROUND(CAST(g.shared AS DOUBLE)
                                / (g.na + g.nb - g.shared), 6) * 10)
                   AS INT) AS j_decile,
               CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
        FROM gpairs g
        LEFT JOIN cand c ON c.doc_a = g.doc_a AND c.doc_b = g.doc_b
    ),
    agg AS (
        SELECT j_decile,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(caught) AS BIGINT) AS n_caught
        FROM flagged GROUP BY j_decile
    )
    SELECT j_decile, n_pairs, n_caught,
           {_tduck_ratio6("n_caught", "n_pairs")} AS catch_rate,
           CASE j_decile {theo_case} END AS theo_catch
    FROM agg
"""


ORACLE["minhash_banding_calibration"] = _duck_banding_calibration()

ORACLE["dedup_graph_triangle_stats"] = f"""
    WITH mh AS ({_duck_minhash_sql()}),
    e AS (SELECT doc_a AS a, doc_b AS b FROM mh),
    deg AS (
        SELECT v, COUNT(*) AS d FROM (
            SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
        ) GROUP BY v
    ),
    tri AS (
        SELECT COUNT(*) AS n
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles,
           CAST((SELECT SUM(d * (d - 1)) // 2 FROM deg) AS BIGINT)
               AS n_wedges,
           CASE WHEN (SELECT SUM(d * (d - 1)) // 2 FROM deg) > 0
                THEN ROUND(CAST(3 AS DOUBLE) * (SELECT n FROM tri)
                           / ((SELECT SUM(d * (d - 1)) // 2 FROM deg)), 6)
                ELSE 0.0 END AS clustering_coeff
"""

ORACLE["dedup_substring_removed_text"] = rf"""
    WITH spans AS ({ORACLE["dedup_exact_substrings"]}),
    tok_base AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
        FROM documents
    ),
    toks AS (
        SELECT doc_id, CAST(i AS INT) AS pos, t[CAST(i AS INT) + 1] AS tok
        FROM tok_base, UNNEST(range(len(t))) AS u(i)
    ),
    kept AS (
        SELECT tk.doc_id, tk.pos, tk.tok
        FROM toks tk
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = tk.doc_id
              AND tk.pos >= s.span_start
              AND tk.pos < s.span_start + s.span_tokens
        )
    ),
    reb AS (
        SELECT doc_id, COUNT(*) AS n_tokens_clean,
               string_agg(tok, ' ' ORDER BY pos) AS text_clean
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(r.n_tokens_clean, 0) AS BIGINT) AS n_tokens_clean,
           CAST(len(b.t) - COALESCE(r.n_tokens_clean, 0) AS BIGINT)
               AS removed_tokens,
           COALESCE(r.text_clean, '') AS text_clean
    FROM tok_base b LEFT JOIN reb r ON b.doc_id = r.doc_id
"""

from .textstats import _duck_ratio6 as _tduck_ratio6  # noqa: E402

ORACLE["dedup_substring_removal_report"] = rf"""
    WITH spans AS ({ORACLE["dedup_exact_substrings"]}),
    per_doc AS (
        SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS removed_tokens
        FROM spans GROUP BY doc_id
    ),
    base AS (
        SELECT doc_id, source,
               len(string_split_regex(lower(text), '\s+')) AS n_tokens
        FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           COUNT(p.removed_tokens) AS docs_with_dup_spans,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COALESCE(SUM(p.removed_tokens), 0) AS BIGINT)
               AS removed_tokens,
           {_tduck_ratio6("CAST(COALESCE(SUM(p.removed_tokens), 0) AS BIGINT)",
                          "CAST(SUM(n_tokens) AS BIGINT)")} AS removed_frac
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    GROUP BY source
"""

from .textstats import CONTAM_MOD as _CONTAM_MOD  # noqa: E402
from .textstats import LEX_BENCH_ID_CAP as _LEX_BENCH_ID_CAP  # noqa: E402

ORACLE["benchmark_contamination_substrings"] = rf"""
    WITH {_DUCK_SUBSTR_WINS},
    bench AS (
        SELECT DISTINCT wh FROM wins
        WHERE doc_id % {_CONTAM_MOD} = 0
          AND doc_id < {_LEX_BENCH_ID_CAP}
    ),
    train AS (
        SELECT doc_id, pos FROM wins
        WHERE NOT (doc_id % {_CONTAM_MOD} = 0
                   AND doc_id < {_LEX_BENCH_ID_CAP})
          AND wh IN (SELECT wh FROM bench)
    ),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY pos) AS g
        FROM train
    ),
    runs AS (
        SELECT doc_id, g,
               MAX(pos) - MIN(pos) + {SUBSTR_WINDOW} AS run_tokens,
               COUNT(*) AS n_wins
        FROM isl GROUP BY doc_id, g
    )
    SELECT doc_id, CAST(SUM(n_wins) AS BIGINT) AS n_shared_windows,
           CAST(MAX(run_tokens) AS INT) AS max_leak_tokens
    FROM runs GROUP BY doc_id
"""

ORACLE["contamination_span_removal"] = rf"""
    WITH {_DUCK_SUBSTR_WINS},
    bench AS (
        SELECT DISTINCT wh FROM wins
        WHERE doc_id % {_CONTAM_MOD} = 0
          AND doc_id < {_LEX_BENCH_ID_CAP}
    ),
    train AS (
        SELECT doc_id, pos FROM wins
        WHERE NOT (doc_id % {_CONTAM_MOD} = 0
                   AND doc_id < {_LEX_BENCH_ID_CAP})
          AND wh IN (SELECT wh FROM bench)
    ),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY pos) AS g
        FROM train
    ),
    spans AS (
        SELECT doc_id, MIN(pos) AS span_start,
               MAX(pos) + {SUBSTR_WINDOW} AS span_end
        FROM isl GROUP BY doc_id, g
    ),
    tok_base AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
        FROM documents
        WHERE doc_id IN (SELECT doc_id FROM spans)
    ),
    toks AS (
        SELECT doc_id, CAST(i AS INT) AS pos, t[CAST(i AS INT) + 1] AS tok
        FROM tok_base, UNNEST(range(len(t))) AS u(i)
    ),
    kept AS (
        SELECT tk.doc_id, tk.pos, tk.tok
        FROM toks tk
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = tk.doc_id
              AND tk.pos >= s.span_start
              AND tk.pos < s.span_end
        )
    ),
    reb AS (
        SELECT doc_id, COUNT(*) AS n_tokens_clean,
               string_agg(tok, ' ' ORDER BY pos) AS text_clean
        FROM kept GROUP BY doc_id
    ),
    nsp AS (
        SELECT doc_id, COUNT(*) AS n_spans_cut FROM spans GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(n.n_spans_cut AS BIGINT) AS n_spans_cut,
           CAST(len(b.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(r.n_tokens_clean, 0) AS BIGINT) AS n_tokens_clean,
           CAST(len(b.t) - COALESCE(r.n_tokens_clean, 0) AS BIGINT)
               AS n_tokens_removed,
           COALESCE(r.text_clean, '') AS text_clean
    FROM tok_base b
    JOIN nsp n ON b.doc_id = n.doc_id
    LEFT JOIN reb r ON b.doc_id = r.doc_id
    ORDER BY b.doc_id
"""


def _method_agreement_oracle() -> str:
    """Composes the three pair-set oracles (each a full WITH...SELECT,
    legal as a parenthesized subquery) into the agreement matrix — the
    twin can never drift from the member entries' own oracles."""
    from .similarity import ORACLE as _SIM_ORACLE

    ma = ORACLE["minhash_lsh_pairs"]
    ms = ORACLE["simhash64_hamming_pairs_wide"]
    me = _SIM_ORACLE["dedup_embedding_cosine"]
    return f"""
        WITH ma AS (SELECT doc_a, doc_b FROM ({ma})),
        ms AS (SELECT doc_a, doc_b FROM ({ms})),
        me AS (SELECT doc_a, doc_b FROM ({me}))
        SELECT 'minhash_jaccard' AS method_a,
               'simhash64_hamming' AS method_b,
               (SELECT COUNT(*) FROM ma) AS pairs_a,
               (SELECT COUNT(*) FROM ms) AS pairs_b,
               (SELECT COUNT(*) FROM ma JOIN ms USING (doc_a, doc_b))
                   AS common_pairs
        UNION ALL
        SELECT 'minhash_jaccard', 'embedding_cosine',
               (SELECT COUNT(*) FROM ma), (SELECT COUNT(*) FROM me),
               (SELECT COUNT(*) FROM ma JOIN me USING (doc_a, doc_b))
        UNION ALL
        SELECT 'simhash64_hamming', 'embedding_cosine',
               (SELECT COUNT(*) FROM ms), (SELECT COUNT(*) FROM me),
               (SELECT COUNT(*) FROM ms JOIN me USING (doc_a, doc_b))
    """


ORACLE["dedup_method_agreement"] = _method_agreement_oracle()

# PPJoin is LOSSLESS: the τ=0.8 result must equal the brute inverted-index
# join with the τ=0.8 keep predicate verbatim (prefix/size/positional
# filters only prune pairs that provably cannot reach τ)
ORACLE["dedup_jaccard_prefix_filter"] = rf"""
    WITH {_DUCK_SHINGLES},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n AS na, b.n AS nb, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
    FROM pairs
    WHERE shared * {PPJOIN_X[1]} >= {PPJOIN_X[0]} * (na + nb - shared)
"""

_DUCK_BLOOM_H = _DUCK_H.format(expr="concat(CAST(s AS VARCHAR), '|', d)")


def _duck_bloom_flag_ctes(rel: str) -> str:
    """blbounds..blflags CTE fragment (no WITH) — the oracle twin of
    :func:`_bloom_flags` + :func:`_incremental_split` over any
    (doc_id, d) relation: per ARRIVING row (doc_id at-or-above the 80 %
    split of the relation's own id range) the Bloom ``maybe_dup`` and
    exact-confirmed ``is_dup`` flags."""
    return f"""
    blbounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM {rel}),
    bldg AS (
        SELECT doc_id, d,
               (SELECT lo + CAST(FLOOR((hi - lo) * {INCREMENTAL_SPLIT_FRAC})
                               AS BIGINT) FROM blbounds) AS split
        FROM {rel}
    ),
    blcor AS (SELECT DISTINCT d FROM bldg WHERE doc_id < split),
    blcpos AS (
        SELECT {_DUCK_BLOOM_H} % {BLOOM_BITS} AS bitpos
        FROM blcor, UNNEST(range({BLOOM_K})) AS u(s)
    ),
    blbloom AS (
        SELECT CAST(bitpos // 32 AS INT) AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(bitpos % 32 AS INT)) AS bits
        FROM blcpos GROUP BY 1
    ),
    blbpos AS (
        SELECT doc_id, d, {_DUCK_BLOOM_H} % {BLOOM_BITS} AS bitpos
        FROM (SELECT doc_id, d FROM bldg WHERE doc_id >= split),
             UNNEST(range({BLOOM_K})) AS u(s)
    ),
    blchk AS (
        SELECT doc_id, d,
               MIN(CASE WHEN (COALESCE(bits, 0)
                              & (CAST(1 AS BIGINT)
                                 << CAST(bitpos % 32 AS INT))) <> 0
                        THEN 1 ELSE 0 END) = 1 AS maybe_dup
        FROM blbpos LEFT JOIN blbloom
          ON CAST(blbpos.bitpos // 32 AS INT) = blbloom.word
        GROUP BY doc_id, d
    ),
    blflags AS (
        SELECT c.doc_id, c.d, c.maybe_dup,
               c.maybe_dup AND (x.d IS NOT NULL) AS is_dup
        FROM blchk c LEFT JOIN blcor x
          ON c.maybe_dup AND c.d = x.d
    )
"""
ORACLE["dedup_bloom_screen"] = f"""
    WITH bounds AS (
        SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
    ),
    dg AS (
        SELECT doc_id, lang, sha256(text) AS d,
               (SELECT lo + CAST(FLOOR((hi - lo) * {INCREMENTAL_SPLIT_FRAC})
                               AS BIGINT) FROM bounds) AS split
        FROM documents
    ),
    corpus AS (SELECT DISTINCT d FROM dg WHERE doc_id < split),
    cpos AS (
        SELECT {_DUCK_BLOOM_H} % {BLOOM_BITS} AS bitpos
        FROM corpus, UNNEST(range({BLOOM_K})) AS u(s)
    ),
    bloom AS (
        SELECT CAST(bitpos // 32 AS INT) AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(bitpos % 32 AS INT)) AS bits
        FROM cpos GROUP BY 1
    ),
    bpos AS (
        SELECT doc_id, lang, d,
               {_DUCK_BLOOM_H} % {BLOOM_BITS} AS bitpos
        FROM (SELECT doc_id, lang, d FROM dg WHERE doc_id >= split),
             UNNEST(range({BLOOM_K})) AS u(s)
    ),
    chk AS (
        SELECT doc_id, lang, d,
               MIN(CASE WHEN (COALESCE(bits, 0)
                              & (CAST(1 AS BIGINT)
                                 << CAST(bitpos % 32 AS INT))) <> 0
                        THEN 1 ELSE 0 END) = 1 AS maybe_dup
        FROM bpos LEFT JOIN bloom
          ON CAST(bpos.bitpos // 32 AS INT) = bloom.word
        GROUP BY doc_id, lang, d
    ),
    labeled AS (
        SELECT c.doc_id, c.lang, c.maybe_dup,
               c.maybe_dup AND (x.d IS NOT NULL) AS is_dup
        FROM chk c LEFT JOIN corpus x
          ON c.maybe_dup AND c.d = x.d
    )
    SELECT lang,
           COUNT(*) AS batch_docs,
           CAST(SUM(CASE WHEN maybe_dup THEN 0 ELSE 1 END) AS BIGINT)
               AS definitely_new,
           CAST(SUM(CASE WHEN maybe_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS maybe_dup,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS confirmed_dup,
           CAST(SUM(CASE WHEN maybe_dup AND NOT is_dup THEN 1 ELSE 0 END)
               AS BIGINT) AS false_positive
    FROM labeled GROUP BY lang
"""
