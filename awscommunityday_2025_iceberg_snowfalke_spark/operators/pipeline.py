"""Training-data pipeline operators (north-star extension; no counterpart
in the reference, which stops at SQL analytics —
demo-setup/performance-tests/run_performance_tests.py:125-284).

Ops a 100 TB curation pipeline needs beyond dedup/similarity/textstats:

- deterministic sampling — reproducible corpus subsets without a stored
  random state: hash(doc_id) mod K. Same rows on every engine, every run,
  any partitioning; samples compose (a 1/10 sample of a 1/10 sample is a
  1/100 sample).
- CDC compaction — latest record per key (the upsert/merge read-path):
  one window rank over the change stream, no join against the base table.
- corpus statistics — document-frequency top-k terms and per-doc term
  salience (tf/df ratio — log-free so the score is IEEE-exact and
  cross-engine deterministic; rank order matches tf-idf for fixed corpus
  size).
- set algebra between user cohorts — INTERSECT / EXCEPT.
- time-series densification — zero-filled hourly rollup via sequence()
  explode + outer join (the gap-fill every dashboard needs; Spark has no
  native gap-fill operator).

Scale notes: sampling and CDC are single-exchange; word stats explode
tokens but aggregate map-side before shuffling (distinct-per-doc applied
locally via array_distinct); gap-fill generates the calendar spine from a
literal range — |spine| = hours × types, never scanned from the fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import load, local_frame, spread
from ..stage import stage

SAMPLE_MOD = 5  # keep doc_id hash buckets ≡ 0 (deterministic ~20%)
TOPK_WORDS = 50
TOPK_TERMS = 3

# Portable 60-bit hash: md5 hex prefix → int64, bit-identical in Spark
# and duckdb. One canonical definition for all consumers (see hashing.py).
from .hashing import _DUCK_H, _SPARK_H


# --- deterministic hash sampling ---------------------------------------------
def sample_docs_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~20% reproducible sample: md5-hash the key, keep bucket 0. No RNG,
    no seed state, no sort — a pure map-side filter that pushes nothing to
    the shuffle and yields the same subset on any cluster."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.expr(_SPARK_H.format(expr="cast(doc_id as string)")) % SAMPLE_MOD
    return docs.filter(bucket == 0).select("doc_id", "lang", "source", "n_chars")


# --- stratified deterministic sampling ---------------------------------------
# per-language keep rates ×100 (en downsampled, low-resource langs kept):
# the rebalancing move every multilingual training-data pipeline makes
STRATA_PCT = {"en": 20, "de": 100, "es": 100, "fr": 100, "zh": 50}


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling: each language keeps a different
    fraction, selected by hash bucket (md5 % 100 < rate) — no RNG, no
    seed state, same subset on any cluster/partitioning. A pure map-side
    filter: the rate table rides in the plan as a literal CASE, so at
    100 TB this costs one scan, zero shuffles, and composes with any
    downstream op. Output summarizes kept counts per stratum (the
    rebalanced corpus profile)."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.expr(_SPARK_H.format(expr="cast(doc_id as string)")) % 100
    rate = F.lit(None).cast("int")
    expr = None
    for lang, pct in STRATA_PCT.items():
        expr = (
            F.when(F.col("lang") == lang, F.lit(pct))
            if expr is None
            else expr.when(F.col("lang") == lang, F.lit(pct))
        )
    rate = expr.otherwise(F.lit(0))
    kept = docs.filter(bucket < rate)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )


# --- per-language token-budget quota sampling --------------------------------
QUOTA_CHARS = 20_000  # per-language character budget for the training mix


def quota_sample_tokens_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced corpus construction by BUDGET, not rate: each
    language contributes documents — in deterministic hash order, so the
    subset is reproducible on any cluster — until its cumulative character
    count reaches ``QUOTA_CHARS``; the doc that crosses the boundary is
    kept (exclusive running sum < budget), matching how training-mix
    token quotas are actually filled. This is the knob multilingual
    pipelines turn when "keep 20% of en" (see
    :func:`stratified_sample_docs`) must become "give every language the
    same token share".

    Shape: one window keyed by lang (running sum over the hash order) —
    a per-stratum sort, not a global one. At 100 TB a dominant language
    makes that stratum's sort the hot partition; the IMPLEMENTED
    escalation (:func:`_quota_fill_skewsafe`, registered as
    ``quota_sample_tokens_budget_skewsafe``) prunes each hot stratum to
    a hash-bucket prefix provably containing the whole kept set, then
    runs the exact window over the ~budget-sized survivors only —
    equivalence to this plain form is property-tested on random Zipfian
    corpora and certified by the shared oracle."""
    return _quota_fill(load(spark, sf_dir, "documents"), QUOTA_CHARS)


def quota_sample_tokens_budget_skewsafe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The skew-escalated formulation as a first-class gated entry
    (``threshold_chars=0`` forces the escalation for EVERY stratum, so
    the oracle certifies the pruned path itself, not a fallback)."""
    return _quota_fill_skewsafe(
        load(spark, sf_dir, "documents"), QUOTA_CHARS, threshold_chars=0
    )


def _quota_fill(docs: DataFrame, budget: int) -> DataFrame:
    """Core of :func:`quota_sample_tokens_budget` on any (doc_id, lang,
    n_chars) relation — split out so the property test can drive it with
    arbitrary corpora against a sequential Python reference.

    The ordering hash ``h`` is part of the OUTPUT on purpose: when a
    cross-engine mismatch occurs, the diff localizes in one glance to
    "the engines hash differently" (h column differs) vs "the engines
    disagree on the window running sum" (h matches, prior_chars differs)
    — the r7 driver-red diagnosis gap."""
    h = F.expr(_SPARK_H.format(expr="cast(doc_id as string)"))
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("n_chars").over(w), F.lit(0))
    return (
        docs.select("doc_id", "lang", "n_chars", h.alias("h"))
        .withColumn("prior_chars", prior)
        .filter(F.col("prior_chars") < budget)
        .select("doc_id", "lang", "n_chars", "h", "prior_chars")
    )


QUOTA_BUCKET_BITS = 10  # 1024 hash buckets per stratum for the prefix bound


def _quota_fill_skewsafe(
    docs: DataFrame,
    budget: int,
    threshold_chars: int = 0,
    bucket_bits: int = QUOTA_BUCKET_BITS,
) -> DataFrame:
    """Skew-safe :func:`_quota_fill`: EXACTLY the same output, without
    ever sorting a dominant stratum whole.

    The kept set is a prefix of each stratum's (h, doc_id) order, so any
    doc the window keeps has hash ≤ the boundary doc's hash. Pass 1 bins
    the 60-bit hash into 2^bucket_bits ordered buckets and aggregates
    per-(lang, bucket) char sums — map-side-combinable, bounded output
    (|langs| × 1024 rows collect to the driver). For each stratum the
    cutoff is the FIRST bucket whose cumulative char sum reaches the
    budget: every kept doc provably lives at-or-before it (the buckets
    strictly before the boundary doc's bucket sum to < budget, by
    definition of the boundary). Pass 2 filters map-side to
    bucket ≤ cutoff — with a uniform hash the survivors are
    ~budget + total/1024 chars per stratum regardless of corpus size —
    and runs the exact window over survivors only. Strata at or below
    ``threshold_chars`` skip the pruning (cutoff = +∞): below the knob
    the per-stratum sort is cheap and pass 2 degenerates to the plain
    form. Deterministic end to end — no sampling, no approx quantiles —
    and bit-equal to :func:`_quota_fill` (property-tested on random
    Zipfian corpora; certified by the shared oracle)."""
    h = F.expr(_SPARK_H.format(expr="cast(doc_id as string)"))
    shift = 60 - bucket_bits
    base = stage(  # consumed twice: bucket histogram + the pruned window
        docs.select("doc_id", "lang", "n_chars", h.alias("h")).withColumn(
            "bkt", F.shiftright("h", shift)
        )
    )
    hist = (
        base.groupBy("lang", "bkt")
        .agg(F.sum("n_chars").alias("c"))
        .collect()
    )
    per_lang: dict[str, list[tuple[int, int]]] = {}
    for r in hist:
        per_lang.setdefault(r["lang"], []).append((int(r["bkt"]), int(r["c"])))
    max_bkt = (1 << bucket_bits) - 1
    cutoffs: dict[str, int] = {}
    for lang, rows in per_lang.items():
        rows.sort()
        total = sum(c for _, c in rows)
        if total <= threshold_chars:
            cutoffs[lang] = max_bkt
            continue
        cum = 0
        cutoff = max_bkt  # stratum under budget → keep every bucket
        for bkt, c in rows:
            cum += c
            if cum >= budget:
                cutoff = bkt
                break
        cutoffs[lang] = cutoff
    cutoff_expr = None
    for lang, cut in sorted(cutoffs.items()):
        cond = F.col("lang") == lang
        cutoff_expr = (
            F.when(cond, F.lit(cut))
            if cutoff_expr is None
            else cutoff_expr.when(cond, F.lit(cut))
        )
    cutoff_expr = (
        F.lit(max_bkt) if cutoff_expr is None else cutoff_expr.otherwise(F.lit(max_bkt))
    )
    survivors = base.filter(F.col("bkt") <= cutoff_expr)
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("n_chars").over(w), F.lit(0))
    # h and bkt ride in the output for mismatch localization (see
    # _quota_fill): a driver-side diff immediately separates "hash
    # differs" / "bucket binning differs" / "window differs".
    return (
        survivors.withColumn("prior_chars", prior)
        .filter(F.col("prior_chars") < budget)
        .select("doc_id", "lang", "n_chars", "h", "bkt", "prior_chars")
    )


# --- sequence packing (token-budget bin assignment) ---------------------------
PACK_BUDGET = 4096  # tokens per packed sequence
PACK_SHARDS = 32  # parallel packing shards (≈ cluster parallelism)


def pack_docs_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, the LLM-pretraining batching step: documents are
    concatenated in a deterministic order (doc_id) and split into
    fixed-token-budget bins — bin id = floor(exclusive-running-token-sum /
    budget), the streaming pack used when docs straddle bin boundaries.

    Two-level (hierarchical) cumulative sum, so NO global single-partition
    sort exists anywhere in the plan: docs are range-sharded on doc_id
    (order-preserving), each shard computes its local exclusive running
    sum in parallel (one hash exchange on the shard key), shard token
    totals — PACK_SHARDS scalars — collect to the driver where the
    exclusive shard-offset cumsum is computed, and the offsets re-enter
    the plan as a literal map. global_running = local_running +
    offset[shard], identical bin ids to the single-window formulation
    (the duckdb oracle runs exactly that single-window SQL as the twin).
    Here shard bounds come from min/max over dense doc_ids; a production
    run on sparse keys would use approxQuantile bounds instead. Output:
    per-bin fill statistics (the packing-efficiency report)."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.lower(F.col("text")), r"\s+"))
    # tokenized projection is consumed twice (shard totals + the in-shard
    # window); stage it to disk so the scan+tokenize runs once (stage.py)
    toks = stage(docs.select("doc_id", n_tok.alias("n_tokens")))
    binned = _pack_bins(toks)
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _pack_bins(toks: DataFrame) -> DataFrame:
    """Core of :func:`pack_docs_sequences` over any (doc_id, n_tokens)
    relation: the two-level (range-shard + shard-offset) exclusive
    running token sum, binned by ``PACK_BUDGET`` — (doc_id, n_tokens,
    shard, bin_id). Shared with the fused curation pipeline's final
    packing stage. Collects only the PACK_SHARDS shard totals."""
    lo, hi = toks.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:  # empty relation: zero bins, typed empty result
        return (
            toks.withColumn("shard", F.lit(0))
            .withColumn("bin_id", F.lit(0).cast("long"))
            .limit(0)
        )
    span = int(hi) - int(lo) + 1
    n_shards = min(PACK_SHARDS, span)
    sharded = toks.withColumn(
        "shard",
        F.expr(f"CAST(((doc_id - {int(lo)}) * {n_shards}) DIV {span} AS INT)"),
    )
    totals = sharded.groupBy("shard").agg(F.sum("n_tokens").alias("t")).collect()
    offsets: dict[int, int] = {}
    run = 0
    for r in sorted(totals, key=lambda r: r["shard"]):
        offsets[int(r["shard"])] = run
        run += int(r["t"])
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    global_excl = (
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        + F.element_at(off_map, F.col("shard"))
    )
    # floor-division, NOT cast: duckdb CAST(double AS BIGINT) rounds while
    # Spark's cast truncates — floor() agrees in both engines
    return sharded.withColumn("bin_id", F.floor(global_excl / PACK_BUDGET))


def pack_docs_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PLACEMENT MANIFEST the dataloader actually consumes — where
    each document landed in the packed sequence stream: start bin, token
    offset inside that bin, end bin, and how many bin boundaries the doc
    straddles. `pack_docs_sequences` is the per-bin fill report; this is
    its per-doc transpose, and the input to attention-boundary masking
    (docs sharing a bin get block-diagonal masks; straddlers are split at
    the boundary — their `spans_bins` > 1 rows are exactly the splits a
    loader must make).

    Same two-level cumsum machinery as the fill report (range shards
    pack in parallel, driver shard-offset cumsum, no global sort); the
    placement columns are pure integer arithmetic on the exclusive
    running sum, so the manifest is bit-portable by construction."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.lower(F.col("text")), r"\s+"))
    toks = stage(docs.select("doc_id", n_tok.alias("n_tokens")))
    lo, hi = toks.agg(F.min("doc_id"), F.max("doc_id")).first()
    span = int(hi) - int(lo) + 1
    n_shards = min(PACK_SHARDS, span)
    sharded = toks.withColumn(
        "shard",
        F.expr(f"CAST(((doc_id - {int(lo)}) * {n_shards}) DIV {span} AS INT)"),
    )
    totals = sharded.groupBy("shard").agg(F.sum("n_tokens").alias("t")).collect()
    offsets: dict[int, int] = {}
    run = 0
    for r in sorted(totals, key=lambda r: r["shard"]):
        offsets[int(r["shard"])] = run
        run += int(r["t"])
    off_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = (
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        + F.element_at(off_map, F.col("shard"))
    )
    placed = sharded.withColumn("g", g)
    start_bin = F.floor(F.col("g") / PACK_BUDGET)
    end_bin = F.floor((F.col("g") + F.col("n_tokens") - 1) / PACK_BUDGET)
    return placed.select(
        "doc_id",
        "n_tokens",
        start_bin.alias("start_bin"),
        (F.col("g") - start_bin * PACK_BUDGET).alias("start_offset"),
        end_bin.alias("end_bin"),
        (end_bin - start_bin + 1).cast("int").alias("spans_bins"),
    )


# --- domain-mixture accounting (source reweighting) --------------------------
def doc_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (domain) token accounting with uniform-target reweight
    factors — the static half of domain-mixture tuning (DoReMi et al.
    learn the target weights; every pipeline still needs THIS table:
    what share each domain actually contributes and the factor that
    would equalize it, reweight = target_share / actual_share). One
    map-side-combinable groupBy(source) over one scan, plus a broadcast
    1-row totals join — output is |domains| rows at any corpus size.
    Ratios are integer/integer divisions (exact, cross-engine); token
    counts use the corpus-standard whitespace tokenizer."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    )
    # staged: totals and the output both read the |sources|-row artifact,
    # so the corpus scan+tokenize+agg runs once
    per_src = stage(
        docs.select("source", n_tok.alias("n")).groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_tokens"),
        )
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total_tokens")
    return per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(
            (F.lit(1.0) / F.col("n_sources")) / share, 6
        ).alias("uniform_reweight"),
    )


def domain_temperature_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain sampling weights — the multilingual/
    multi-domain rebalancing rule (mT5/XLM-R style: sample domain s with
    probability q_s ∝ p_s^α, α < 1 flattening the head so low-resource
    domains are up-sampled without the uniform target's full distortion).
    `doc_domain_mixture` reports the uniform-target factor; this is the
    tunable middle ground every real mixture schedule uses.

    α = 0.5 deliberately: p^0.5 = sqrt(p), and IEEE sqrt is CORRECTLY
    ROUNDED (a kernel guarantee, unlike libm pow/exp) — so the scaled
    weight is the identical double on both engines with no transcendental
    in sight. Normalization sums the weights through DECIMAL(28,16) (the
    corpus recipe), and every displayed ratio divides identical doubles —
    deterministic; nothing here enters a predicate.

    Scale: one map-side-combinable groupBy(source) over one scan plus two
    broadcast 1-row totals joins — |domains| rows at any corpus size; the
    weight table then broadcasts back into the sampler exactly like
    `stratified_sample_docs`'s literal rate map."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    )
    # |sources| rows, consumed three times (totals, weight sum, output) —
    # staged so the corpus scan+tokenize+agg runs ONCE, not per consumer
    per_src = stage(
        docs.select("source", n_tok.alias("n")).groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_tokens"),
        )
    )
    totals = per_src.agg(F.sum("n_tokens").alias("total_tokens"))
    p = F.col("n_tokens").cast("double") / F.col("total_tokens")
    weighted = per_src.crossJoin(F.broadcast(totals)).withColumn(
        "w_dec", F.sqrt(p).cast("decimal(28,16)")
    )
    wsum = weighted.agg(F.sum("w_dec").alias("w_sum"))
    q = F.col("w_dec").cast("double") / F.col("w_sum").cast("double")
    return weighted.crossJoin(F.broadcast(wsum)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(p, 6).alias("token_share"),
        F.round(q, 6).alias("temp_weight"),
        F.round(q / p, 6).alias("sample_factor"),
    )


MIXTURE_BUDGET = 1_000_000  # tokens in the planned training mixture


def token_budget_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MIXTURE PLAN itself — the integer artifact a training run
    actually consumes: given per-source token counts and the α=0.5
    temperature weights (:func:`domain_temperature_reweight` computes
    the same q_s), apportion a fixed ``MIXTURE_BUDGET`` of training
    tokens across sources with LARGEST-REMAINDER (Hamilton) rounding —
    floor every quota, then hand the leftover tokens to the largest
    fractional parts — so the integer budgets sum to the budget EXACTLY
    (Σ floor + remainder distribution; an all-floors or all-rounds plan
    drifts by up to |sources| tokens and desyncs shard manifests). Also
    reports each source's implied epochs-over-available (the >1.0 rows
    are the up-sampled low-resource domains — the mT5 trade-off made
    concrete).

    Determinism: weights are IEEE sqrt (correctly rounded), the weight
    sum goes through DECIMAL(28,16), quotas divide identical doubles,
    and the remainder ranking orders by (fractional part DESC, source
    ASC) over a |sources|-row relation — every tie-breakable surface is
    pinned on both engines. Scale: one map-combinable per-source agg; the
    plan itself is |sources| rows of integer arithmetic at any corpus
    size."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    )
    per_src = stage(
        docs.select("source", n_tok.alias("n")).groupBy("source").agg(
            F.sum("n").alias("n_tokens"),
        )
    )
    return _mixture_quotas(per_src).select(
        "source",
        "n_tokens",
        "token_budget",
        F.round(
            F.col("token_budget").cast("double") / F.col("n_tokens"), 6
        ).alias("epochs_over_available"),
    )


def _mixture_quotas(
    per_src: DataFrame, budget: int = MIXTURE_BUDGET
) -> DataFrame:
    """Core of :func:`token_budget_mixture_plan` over any (source,
    n_tokens) relation: (source, n_tokens, token_budget) with the α=0.5
    temperature weights apportioned over ``budget`` by
    largest-remainder rounding — shared with the fused curation
    pipeline's admission stage (which passes its own smaller budget so
    admission truncation is exercised at test scale)."""
    totals = per_src.agg(F.sum("n_tokens").alias("total_tokens"))
    p = F.col("n_tokens").cast("double") / F.col("total_tokens")
    weighted = per_src.crossJoin(F.broadcast(totals)).withColumn(
        "w_dec", F.sqrt(p).cast("decimal(28,16)")
    )
    wsum = weighted.agg(F.sum("w_dec").alias("w_sum"))
    quota = (
        F.lit(float(budget))
        * (F.col("w_dec").cast("double") / F.col("w_sum").cast("double"))
    )
    quotas = weighted.crossJoin(F.broadcast(wsum)).select(
        "source",
        "n_tokens",
        quota.alias("quota"),
        F.floor(quota).cast("long").alias("base"),
        (quota - F.floor(quota)).alias("frac"),
    )
    short = F.lit(budget) - F.sum("base").over(
        Window.partitionBy()
    )  # |sources|-row relation: the unpartitioned window is the point
    rk = F.row_number().over(
        Window.orderBy(F.desc("frac"), F.asc("source"))
    )
    return (
        quotas.withColumn("_short", short)
        .withColumn("_rk", rk)
        .select(
            "source",
            "n_tokens",
            (
                F.col("base")
                + F.when(F.col("_rk") <= F.col("_short"), 1).otherwise(0)
            ).alias("token_budget"),
        )
    )


# --- CDC latest-per-key compaction -------------------------------------------
def cdc_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat events as a change stream keyed by user_id: latest state per
    key (ts desc, event_id desc tiebreak). The merge-on-read half of an
    upsert — one hash exchange on the key, row_number, rank-1 filter."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"))
    )


# --- SCD2 history from the change stream -------------------------------------
def cdc_scd2_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 materialization of the change
    stream: each purchase event sets the user's current value; the SCD2
    row carries its validity interval [valid_from, valid_to) via LEAD
    over the (ts, event_id) order, open-ended (NULL) for the current
    version — the read-path twin of :func:`cdc_latest_events` (which
    keeps ONLY the current version; this keeps the full history a
    warehouse dimension table needs for as-of joins and audits). One
    user-keyed window exchange, no self-join — the naive formulation
    (join each row to its successor) pays a second exchange and a
    range-join; LEAD is free on the already-sorted window."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "value",
        fmt(F.col("ts")).alias("valid_from"),
        fmt(nxt).alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
    )


# --- corpus document-frequency top-k -----------------------------------------
def word_doc_frequency_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 words by document frequency. Per-doc distinct applied inside
    the row (array_distinct) so the exploded shuffle carries each (doc,
    word) once; final ORDER BY+LIMIT plans as TakeOrderedAndProject."""
    docs = load(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.lower(F.col("text")), r"\s+"))
    return (
        docs.select(F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "word")
        .limit(TOPK_WORDS)
    )


# --- per-doc term salience (tf/df — log-free tf-idf ordering) ----------------
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document, scored tf/df. The ratio of two
    integers is one IEEE division — bit-identical across engines, unlike
    log-based idf (libm vs JVM log differ in ulps and flip rank ties)."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df via COUNT over a term-partitioned window on tf (tf rows are unique
    # per (doc, term), so the partition size IS the document frequency) —
    # ONE corpus scan; a groupBy+join-back would tokenize the corpus twice.
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(F.col("tf").cast("double") / F.col("df")), F.asc("term")
    )
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= TOPK_TERMS)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "term_rank",
            F.round((F.col("tf").cast("double") / F.col("df")), 6).alias("salience"),
        )
    )


# --- cohort set algebra ------------------------------------------------------
def purchasers_without_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: users who purchased but never hit an error."""
    ev = load(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return buyers.exceptAll(erring)


def purchasers_with_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: users who both purchased and signed up."""
    ev = load(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    signed = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    return buyers.intersect(signed)


# --- gap-filled hourly rollup ------------------------------------------------
_SPINE_START = "2024-01-01 00:00:00"
_SPINE_END = "2024-01-07 23:00:00"
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled (event_type × hour) counts for the first week: calendar
    spine from sequence() — generated, not scanned — cross-joined with the
    explicit type domain, left-joined against the hourly aggregate. The
    fact table aggregates BEFORE the join, so the outer join touches
    |spine| rows, not |events|."""
    ev = load(spark, sf_dir, "events")
    hours = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_timestamp(F.lit(_SPINE_START)),
                F.to_timestamp(F.lit(_SPINE_END)),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour")
    )
    types = local_frame(spark, [(t,) for t in EVENT_TYPES], "event_type string")
    spine = hours.crossJoin(types)
    counts = (
        ev.filter(
            (F.col("ts") >= F.to_timestamp(F.lit(_SPINE_START)))
            & (F.col("ts") < F.to_timestamp(F.lit("2024-01-08 00:00:00")))
        )
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.join(counts, ["hour", "event_type"], "left")
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


# --- end-to-end curation pipeline (the composition flagship) -----------------
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize → quality-filter → exact-dedup (keep lowest doc_id) →
    deterministic sample, as ONE declarative plan: Catalyst fuses the three
    map-side stages (normalize, filter, hash) into a single codegen'd pass
    over the scan; the only shuffle is the dedup groupBy on the 64-char
    digest; the sample filter is pushed after dedup (cheapest order: dedup
    shrinks first, hashing for the sample runs on survivors only)."""
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    cleaned = (
        docs.select("doc_id", "lang", norm.alias("text_norm"))
        .filter((F.length("text_norm") >= 20) & (F.length("text_norm") <= 10000))
    )
    deduped = (
        cleaned.select(F.sha2("text_norm", 256).alias("h"), "doc_id", "lang")
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
        )
    )
    bucket = F.expr(_SPARK_H.format(expr="cast(doc_id as string)")) % SAMPLE_MOD
    return (
        deduped.filter(bucket == 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("docs_kept"))
        .orderBy("lang")
    )


V2_MIX_BUDGET = 8192  # tokens: small enough that admission truncates
QC_TRAIN_MOD = 8  # classifier trains on the doc_id % 8 == 0 slice (12.5%)
# at test scale (the corpus-wide MIXTURE_BUDGET of 1M would admit every
# survivor at sf0.01/sf0.1 and leave the quota window untested)


def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION curation chain as ONE fused run with a per-stage
    attrition report — the artifact a real training-data run ships
    (r12 verdict tasks 2 + 7). Stages, in CCNet's actual order
    (paragraph dedup BEFORE any quality scoring — Wenzek et al. 2020):

      0 ``input``               the raw corpus.
      1 ``paragraph_dedup``     corpus-wide first-occurrence paragraph
                                dedup; every later stage runs on the
                                REBUILT text (:func:`...dedup.
                                dedup_paragraphs_removed_text`); docs
                                rebuilt to nothing drop. detail =
                                paragraphs removed.
      2 ``exact_dedup_bloom``   keep-first exact dedup on the rebuilt-
                                text digest, executed as the two-tier
                                BLOOM-screened form (standing 80 % /
                                arriving 20 % by id range, the
                                ``_incremental_split`` device): arriving
                                docs with any Bloom bit clear skip the
                                confirm join entirely. ANSWER-INVARIANT
                                vs the plain digest window (standing ids
                                precede arriving ids, and the screen
                                admits exactly the non-duplicates) — the
                                oracle states the plain form, the plan
                                pays the screened one. detail =
                                definitely-new (docs that skipped the
                                join: the screen's savings, exact).
      3 ``lsh_neardup``         MinHash-LSH banding over rebuilt-text
                                shingles (16 hashes × 4 bands), banded
                                candidates EXACTLY verified at τ = 0.8
                                — the production near-dup screen (Lee
                                et al. 2022): candidate volume is the
                                band join's, not the prefix index's.
                                Recall is measured, not assumed
                                (148/149 at sf0.1; == lossless PPJoin
                                at sf0.01, test-pinned); the oracle
                                states the banded semantics so the
                                report is exact at every scale. Any
                                doc near-dup to an EARLIER doc drops.
                                detail = near-dup pairs.
      4 ``classifier_gate``     fastText-style linear quality gate with
                                FROZEN weights trained on the
                                deterministic 1-in-``QC_TRAIN_MOD``
                                slice of the original corpus
                                (production: offline-trained on a
                                curated sample, applied at ingest — the
                                ``streaming_quality_gate`` precedent;
                                training cost is corpus/8 at any
                                scale); every survivor is scored.
                                admit score > 0. detail = scoreable
                                docs.
      5 ``contamination_screen`` drop the held-out benchmark split
                                itself plus any doc sharing a token
                                8-gram with it (benchmark grams from
                                ORIGINAL text — the eval set is frozen;
                                doc grams from rebuilt text). detail =
                                gram-contaminated docs dropped.
      6 ``token_budget_mixture`` α = 0.5 temperature quotas apportioned
                                over V2_MIX_BUDGET by largest-remainder
                                (:func:`_mixture_quotas`), then per-
                                source admission in deterministic hash
                                order until each budget fills (exclusive
                                running sum < budget). detail =
                                MIXTURE_BUDGET.
      7 ``packing``             two-level-cumsum sequence packing of the
                                admitted docs into PACK_BUDGET-token
                                bins (:func:`_pack_bins`). detail =
                                bins produced.

    Output: 8 rows (stage_rank, stage, docs_out, tokens_out, detail) —
    bounded, fully value-checked against a single composed DuckDB
    oracle built from the member oracles' own CTE fragments.

    Scale shape: every stage is staged to parquet once and consumed by
    (a) the next stage and (b) its own report row — the checkpoint-
    between-stages layout of a real multi-day curation run; no stage's
    work is ever recomputed through a downstream plan. Collects are the
    member ops' own bounded artifacts only (two classifier totals,
    PACK_SHARDS shard sums, one id-range row). Shuffle budget = the
    member operators' documented budgets, each over a strictly smaller
    survivor set than the last.

    The s3/s4/s5 survivor sets are staged barriers; dropping them (their
    consumers re-derive the cheap joins as extra map-side scans) was
    measured in an interleaved A/B (OPTIMIZATION_r17.md) and not taken.
    The pipeline's wall is member COMPUTE (LSH banding, classifier
    training, paragraph rebuild), not the barrier writes."""
    from .dedup import (
        INCREMENTAL_SPLIT_FRAC,
        PPJOIN_X,
        _bloom_flags,
        _lsh_candidates_of,
        _shingles_of,
        _verified_of,
        dedup_paragraphs_removed_text,
    )
    from .textstats import (
        CONTAM_MOD,
        CONTAM_N,
        LEX_BENCH_ID_CAP,
        _lex_train_pred,
        _qc_features,
        _qc_scored_fused,
        _qc_weight_arrays,
    )

    docs = load(spark, sf_dir, "documents")

    def ntok(col):
        return F.size(
            F.filter(
                F.split(F.lower(F.col(col)), r"\s+"),
                lambda t: t != F.lit(""),
            )
        )

    # -- stage 1: paragraph dedup (rebuild text from surviving paras) --
    rebuilt = stage(dedup_paragraphs_removed_text(spark, sf_dir))
    # token count rides as a COLUMN from here on: text never changes
    # after the rebuild, so no later stage (or report row) re-tokenizes
    s1 = stage(
        docs.select("doc_id", "lang", "source")
        .join(rebuilt, "doc_id")
        .filter(F.col("kept_paras") > 0)
        .select(
            "doc_id", "lang", "source", "text_clean",
            ntok("text_clean").alias("n"),
        )
    )
    detail1 = rebuilt.agg(
        F.sum(F.col("n_paras") - F.col("kept_paras"))
        .cast("long")
        .alias("detail")
    )

    # -- stage 2: Bloom-screened exact dedup (keep first per digest) --
    dg = s1.withColumn("d", F.sha2("text_clean", 256))
    lo, hi = dg.agg(F.min("doc_id"), F.max("doc_id")).first()
    split = int(lo) + int((int(hi) - int(lo)) * INCREMENTAL_SPLIT_FRAC)
    standing = dg.filter(F.col("doc_id") < split)
    arriving = dg.filter(F.col("doc_id") >= split)
    w_d = Window.partitionBy("d").orderBy("doc_id")
    first_only = lambda df: (  # noqa: E731 — keep-first per digest
        df.withColumn("_rn", F.row_number().over(w_d))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    flags = stage(
        _bloom_flags(
            stage(standing.select("d").distinct()),
            arriving.select("doc_id", "d"),
            ("doc_id",),
        )
    )
    arr_new = arriving.join(
        flags.filter(~F.col("is_dup")).select("doc_id"), "doc_id"
    )
    s2 = stage(
        first_only(standing).unionByName(first_only(arr_new)).drop("d")
    )
    detail2 = flags.agg(
        F.sum((~F.col("maybe_dup")).cast("long")).alias("detail")
    )

    # -- stage 3: LSH-banded near-dup drop (τ = 0.8, keep earliest doc) --
    # MinHash band screen FIRST (r13 verdict task 5): the exact-verify
    # core sees banded candidates only — at web scale the band join
    # shuffles (int, 32-byte hash, id) tuples where the PPJoin prefix
    # self-join shuffled prefix-token postings that grow with corpus
    # df². Recall is the banding S-curve's, not 1.0: measured 148/149
    # τ-pairs at sf0.1 (the single miss is an exactly-j=0.8 boundary
    # pair sharing no band; SCALE.md r14) and 17/17 at sf0.01 — the
    # oracle states the SAME banded+verified semantics, so the report
    # stays full-value exact at every scale.
    num, den = PPJOIN_X
    sets3 = _shingles_of(
        spark, s2.select("doc_id", F.col("text_clean").alias("text"))
    )
    verified = _verified_of(sets3, _lsh_candidates_of(sets3))
    union_sz = F.col("na") + F.col("nb") - F.col("shared")
    pairs = stage(
        verified.filter(F.col("shared") * den >= num * union_sz).select(
            "doc_a", "doc_b"
        )
    )
    s3 = stage(
        s2.join(
            pairs.select(F.col("doc_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
    )
    detail3 = pairs.agg(F.count(F.lit(1)).alias("detail"))

    # -- stage 4: frozen classifier gate (train on a 1-in-K sample) --
    # Production trains the quality classifier OFFLINE on a curated
    # sample and applies frozen weights at ingest; the deterministic
    # stand-in here trains on the doc_id % QC_TRAIN_MOD slice of the
    # ORIGINAL corpus (12.5%) and scores every survivor — the training
    # feature explode (the pipeline's single most expensive map at 500 K
    # docs: ~112 s full-corpus, measured) drops 8× at any scale while
    # the scoring half keeps `quality_classifier_score`'s exact shape.
    # r16 (guide §1.2): _qc_weight_arrays trains in ONE bounded collect
    # of the training feature matrix, so the matrix has a single
    # consumer and needs no staging (was: stage + two aggregations +
    # a join-time recompute of the counts agg)
    w6p = _qc_weight_arrays(
        _qc_features(
            docs.filter(F.col("doc_id") % QC_TRAIN_MOD == 0).repartition(
                spark.sparkContext.defaultParallelism, "doc_id"
            )
        )
    )
    # the feature explode + per-feature hash is CPU-bound and s3's
    # staged parquet re-reads as few splits — spread to all cores (the
    # quality_classifier_score precedent; no-op on a many-file corpus).
    # Scoring itself is the FUSED form (r16; _qc_scored_fused): weight
    # lookups ride the feature scan as array-literal element_at, so the
    # survivor pass keeps ONE shuffle (the per-doc sum) instead of the
    # (doc, bucket) matrix exchange + broadcast join + per-doc sum —
    # this stage was 86% of the measured 5M-doc pipeline wall (SCALE.md)
    scored = stage(
        _qc_scored_fused(
            spread(
                spark,
                s3.select(
                    "doc_id", "lang", F.col("text_clean").alias("text")
                ),
            ),
            _arrays=w6p,
        )
    )
    s4 = stage(
        s3.join(
            scored.filter(F.col("ws") > 0).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    )
    detail4 = scored.agg(F.count(F.lit(1)).alias("detail"))

    # -- stage 5: contamination screen (8-grams vs the held-out split) --
    def grams8(df, textcol):
        ts = F.filter(
            F.split(F.lower(F.col(textcol)), r"\s+"),
            lambda t: t != F.lit(""),
        )
        base = df.select("doc_id", ts.alias("ts")).filter(
            F.size("ts") >= CONTAM_N
        )
        parts = ", ".join(
            f"element_at(ts, i + {j})" for j in range(CONTAM_N)
        )
        return base.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ts) - {CONTAM_N - 1}), "
                    f"i -> concat_ws(' ', {parts}))"
                )
            ).alias("g"),
        )

    bench = (  # one consumer (the broadcast): no staging needed.
        # The split is FROZEN at ids < LEX_BENCH_ID_CAP (the textstats
        # convention) so this broadcast is eval-bounded at any corpus
        # size, never a corpus fraction.
        grams8(
            spread(
                spark,
                docs.filter(
                    (F.col("doc_id") % CONTAM_MOD == 0)
                    & (F.col("doc_id") < LEX_BENCH_ID_CAP)
                ),
            ),
            "text",
        )
        .select("g")
        .distinct()
    )
    cand5 = s4.filter(_lex_train_pred())
    contam = stage(
        grams8(spread(spark, cand5), "text_clean")
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
    )
    s5 = stage(cand5.join(contam, "doc_id", "left_anti"))
    detail5 = contam.agg(F.count(F.lit(1)).alias("detail"))

    # -- stage 6: token-budget mixture admission --
    toks5 = s5.select("doc_id", "source", "n")  # trivial projection of
    # the staged s5 parquet: both consumers rescan cheap columnar files
    plan = _mixture_quotas(
        toks5.groupBy("source").agg(F.sum("n").alias("n_tokens")),
        V2_MIX_BUDGET,
    ).select("source", "token_budget")
    h = F.expr(_SPARK_H.format(expr="cast(doc_id as string)"))
    wq = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s6 = stage(
        toks5.withColumn("h", h)
        .withColumn("prior", F.coalesce(F.sum("n").over(wq), F.lit(0)))
        .join(F.broadcast(plan), "source")
        .filter(F.col("prior") < F.col("token_budget"))
        .select("doc_id", "source", "n")
    )
    detail6 = spark.range(1).select(
        F.lit(V2_MIX_BUDGET).cast("long").alias("detail")
    )

    # -- stage 7: packing --
    binned = _pack_bins(s6.select("doc_id", F.col("n").alias("n_tokens")))
    detail7 = binned.agg(F.countDistinct("bin_id").alias("detail"))

    # -- the attrition report --
    def row(rank, name, src, tok_expr, detail_df):
        # SQL semantics: an emptied stage's token SUM is NULL, not 0
        agg = src.agg(
            F.count(F.lit(1)).cast("long").alias("docs_out"),
            F.sum(tok_expr).cast("long").alias("tokens_out"),
        )
        return agg.crossJoin(detail_df).select(
            F.lit(rank).cast("int").alias("stage_rank"),
            F.lit(name).alias("stage"),
            "docs_out",
            "tokens_out",
            F.col("detail").cast("long").alias("detail"),
        )

    zero = spark.range(1).select(F.lit(0).cast("long").alias("detail"))
    rows = [
        row(0, "input", spread(spark, docs), ntok("text"), zero),
        row(1, "paragraph_dedup", s1, F.col("n"), detail1),
        row(2, "exact_dedup_bloom", s2, F.col("n"), detail2),
        row(3, "lsh_neardup", s3, F.col("n"), detail3),
        row(4, "classifier_gate", s4, F.col("n"), detail4),
        row(5, "contamination_screen", s5, F.col("n"), detail5),
        row(6, "token_budget_mixture", s6, F.col("n"), detail6),
        row(7, "packing", s6, F.col("n"), detail7),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("stage_rank")


# --- corpus datasheet (the release data card) ---------------------------------
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS DATASHEET — the data card a real corpus release ships
    (Gebru et al. 2021 "Datasheets for Datasets"; the Pile/Dolma release
    reports): ONE bounded long-format artifact composing the release
    metrics every consumer asks for, each the corpus-level rollup of a
    member entry this corpus already certifies value-exactly:

      ``lang_mix``        docs per language + corpus share
                          (`doc_lang_confusion`'s ground-truth axis).
      ``source_tokens``   whitespace tokens per source + token share
                          (`doc_domain_mixture`).
      ``token_budget``    the α = 0.5 temperature mixture quotas over
                          ``MIXTURE_BUDGET`` (`token_budget_mixture_plan`
                          verbatim — same largest-remainder integers).
      ``dedup``           exact-duplicate doc count (docs − distinct
                          sha-256 digests; `dedup_exact_hash`).
      ``quality``         docs the frozen fastText-style classifier
                          admits (`quality_classifier_score`'s
                          pred_quality = 1 rollup).
      ``contamination``   docs sharing a token 8-gram with the held-out
                          benchmark split (`benchmark_contamination`).

    Every `share` is the `_ratio6` exact-integer division against the
    natural denominator (corpus docs, corpus tokens, or the budget), so
    the whole card is bit-portable. Output ≈ |langs| + 2·|sources| + 3
    rows — the artifact is driver-safe by construction.

    Scale: six independent map-side-combinable aggregations over one
    corpus scan each (the classifier and contamination members carry
    their own documented broadcast shapes); totals attach via
    broadcast-of-one-row crossJoins; no collect anywhere."""
    from .textstats import (
        _ratio6,
        benchmark_contamination,
        quality_classifier_score,
    )

    docs = load(spark, sf_dir, "documents")
    dtot = docs.agg(F.count(F.lit(1)).cast("long").alias("total_docs"))
    lang_mix = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(F.broadcast(dtot))
        .select(
            F.lit("lang_mix").alias("section"),
            F.col("lang").alias("metric"),
            "n",
            _ratio6(F.col("n"), F.col("total_docs")).alias("share"),
        )
    )
    n_tok = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
        )
    )
    # r17 (guide §1.2): the source_tokens section and the token_budget
    # member both aggregate the SAME per-source token sums — one staged
    # aggregation now feeds the section, the section total, and the
    # mixture-quota member (which consumes it through two subtrees),
    # removing one full tokenize scan of the corpus and the member's own
    # redundant staging write. Identical integers: same agg, and
    # _mixture_quotas runs the identical arithmetic on it.
    per_src = stage(
        docs.select("source", n_tok.alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    ttot = per_src.agg(F.sum("n").alias("total_tokens"))
    source_tokens = per_src.crossJoin(F.broadcast(ttot)).select(
        F.lit("source_tokens").alias("section"),
        F.col("source").alias("metric"),
        "n",
        _ratio6(F.col("n"), F.col("total_tokens")).alias("share"),
    )
    budget = _mixture_quotas(
        per_src.select("source", F.col("n").alias("n_tokens"))
    ).select(
        F.lit("token_budget").alias("section"),
        F.col("source").alias("metric"),
        F.col("token_budget").cast("long").alias("n"),
        _ratio6(F.col("token_budget"), F.lit(MIXTURE_BUDGET)).alias("share"),
    )
    dedup = (
        docs.agg(
            (
                F.count(F.lit(1))
                - F.countDistinct(F.sha2(F.col("text"), 256))
            )
            .cast("long")
            .alias("n")
        )
        .crossJoin(F.broadcast(dtot))
        .select(
            F.lit("dedup").alias("section"),
            F.lit("exact_dup_docs").alias("metric"),
            "n",
            _ratio6(F.col("n"), F.col("total_docs")).alias("share"),
        )
    )
    quality = (
        quality_classifier_score(spark, sf_dir)
        .agg(F.sum("pred_quality").cast("long").alias("n"))
        .crossJoin(F.broadcast(dtot))
        .select(
            F.lit("quality").alias("section"),
            F.lit("classifier_admitted").alias("metric"),
            "n",
            _ratio6(F.col("n"), F.col("total_docs")).alias("share"),
        )
    )
    contamination = (
        benchmark_contamination(spark, sf_dir)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(F.broadcast(dtot))
        .select(
            F.lit("contamination").alias("section"),
            F.lit("benchmark_8gram_docs").alias("metric"),
            "n",
            _ratio6(F.col("n"), F.col("total_docs")).alias("share"),
        )
    )
    out = lang_mix
    for part in (source_tokens, budget, dedup, quality, contamination):
        out = out.unionByName(part)
    return out


def contamination_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECONTAMINATION AUDIT a release ships (the r14-verdict 7a
    artifact): all three screens — lexical 8-gram
    (:func:`~.textstats.benchmark_contamination`), verbatim 50-token
    substring (:func:`~.dedup.benchmark_contamination_substrings`), and
    paraphrase-level semantic
    (:func:`~.similarity.benchmark_contamination_semantic`) — composed
    into the LAYER-OVERLAP MATRIX: one row per caught-by combination
    (which layers flagged the doc), with the doc count and the lowest
    flagged doc_id as the audit anchor. This is the table that answers
    "what does each layer add?" — the n-gram-only decontamination gap
    the GPT-4/Llama-era reports call out is exactly the
    semantic-only row, and a substring-only row shows leaks the 8-gram
    screen's boilerplate threshold missed. All three layers screen
    against the SAME frozen benchmark split (ids below the cap; the
    ``LEX_BENCH_ID_CAP``/``SEM_BENCH_ID_CAP`` convention).

    Scale shape: each member keeps its own certified plan (bounded
    broadcast bench side, map-side screens); the composition joins
    three CONTAMINATED-DOC relations (output-bounded, tiny by
    construction — contamination is the exception, not the corpus) and
    groups into ≤ 7 rows. Docs without an embedding simply cannot be
    semantically flagged (the vector table covers a corpus prefix), as
    in production where the semantic screen runs on the embedded
    slice."""
    from .dedup import benchmark_contamination_substrings
    from .similarity import benchmark_contamination_semantic
    from .textstats import benchmark_contamination

    l1 = benchmark_contamination(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("caught_8gram")
    )
    l2 = benchmark_contamination_substrings(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("caught_substring")
    )
    l3 = benchmark_contamination_semantic(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("caught_semantic")
    )
    flags = l1.join(l2, "doc_id", "full_outer").join(
        l3, "doc_id", "full_outer"
    )
    return (
        flags.select(
            "doc_id",
            F.coalesce("caught_8gram", F.lit(False)).alias("caught_8gram"),
            F.coalesce("caught_substring", F.lit(False)).alias(
                "caught_substring"
            ),
            F.coalesce("caught_semantic", F.lit(False)).alias(
                "caught_semantic"
            ),
        )
        .groupBy("caught_8gram", "caught_substring", "caught_semantic")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("caught_8gram", "caught_substring", "caught_semantic")
    )


# --- end-of-pipeline export manifest -----------------------------------------
def training_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest a training run consumes: one row per surviving document
    after normalize → token-bound quality filter → exact near-dup drop
    (keep lowest doc_id per normalized digest) → embedding attachment
    (LEFT join against the vector table; docs without a vector export with
    has_embedding = false and go to the embedding backfill queue).

    Plan shape at 100 TB: normalize/tokenize/filter fuse into the scan
    (one codegen pass), the dedup groupBy shuffles 32-byte digests, and
    the doc⋈vector join is an id-keyed fact⋈fact — stored bucketed on the
    id in a real deployment so it becomes a zero-exchange SMJ
    (scale.bucketed_user_join is the demonstrated pattern)."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    n_tok = F.size(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    )
    cleaned = docs.select(
        "doc_id", "lang", norm.alias("tn"), n_tok.alias("n_tokens")
    ).filter(F.col("n_tokens").between(5, 5000))
    kept = (
        cleaned.groupBy(F.sha2("tn", 256).alias("h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        )
        .drop("h")
    )
    e = F.col("embedding").cast("array<double>")
    l2 = F.sqrt(
        F.aggregate(
            F.transform(e, lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )
    vecs = emb.select("vec_id", F.round(l2, 6).alias("emb_norm"))
    return kept.join(vecs, kept.doc_id == vecs.vec_id, "left").select(
        "doc_id",
        "lang",
        "n_tokens",
        F.col("vec_id").isNotNull().alias("has_embedding"),
        "emb_norm",
    )


# --- per-epoch shard assignment ----------------------------------------------
EPOCH_COUNT = 3
EPOCH_SHARDS = 16


def epoch_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-shard assignment: each epoch
    re-shuffles the corpus into ``EPOCH_SHARDS`` shards via
    shard = h(doc_id ‖ epoch) mod S — the standard trick that gives every
    epoch an independent, reproducible permutation WITHOUT storing a
    shuffle order (any worker recomputes its shard membership from the
    doc id alone; restarts and re-runs agree bit-for-bit). Output: the
    per-(epoch, shard) balance report (doc/char counts + id range) a
    data loader publishes to verify shard uniformity before a run.

    Scale shape: epochs explode map-side from a literal sequence
    (|rows| × EPOCH_COUNT, no join), the md5 shard hash is codegen, and
    the one exchange carries (epoch, shard)-keyed partial aggregates —
    E·S groups total regardless of corpus size."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "n_chars",
        F.explode(
            F.sequence(F.lit(0), F.lit(EPOCH_COUNT - 1))
        ).alias("epoch"),
    )
    shard = (
        F.expr(
            _SPARK_H.format(
                expr="concat(cast(doc_id as string), ':', cast(epoch as string))"
            )
        )
        % EPOCH_SHARDS
    )
    return (
        base.withColumn("shard", shard)
        .groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


QUERIES = {
    "sample_docs_deterministic": sample_docs_deterministic,
    "epoch_shard_assignment": epoch_shard_assignment,
    "stratified_sample_docs": stratified_sample_docs,
    "quota_sample_tokens_budget": quota_sample_tokens_budget,
    "quota_sample_tokens_budget_skewsafe": quota_sample_tokens_budget_skewsafe,
    "pack_docs_sequences": pack_docs_sequences,
    "pack_docs_placement": pack_docs_placement,
    "curation_pipeline": curation_pipeline,
    "curation_pipeline_v2": curation_pipeline_v2,
    "cdc_latest_events": cdc_latest_events,
    "cdc_scd2_user_value": cdc_scd2_user_value,
    "doc_domain_mixture": doc_domain_mixture,
    "domain_temperature_reweight": domain_temperature_reweight,
    "token_budget_mixture_plan": token_budget_mixture_plan,
    "corpus_datasheet": corpus_datasheet,
    "contamination_report_card": contamination_report_card,
    "word_doc_frequency_topk": word_doc_frequency_topk,
    "doc_top_terms": doc_top_terms,
    "purchasers_without_errors": purchasers_without_errors,
    "purchasers_with_signup": purchasers_with_signup,
    "hourly_gapfill": hourly_gapfill,
    "training_export_manifest": training_export_manifest,
}

ORACLE = {
    "epoch_shard_assignment": f"""
        SELECT epoch, shard, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM (
            SELECT d.doc_id, d.n_chars, e.epoch,
                   {_DUCK_H.format(expr="concat(CAST(d.doc_id AS VARCHAR), ':', CAST(e.epoch AS VARCHAR))")}
                       % {EPOCH_SHARDS} AS shard
            FROM documents d, (SELECT UNNEST(range({EPOCH_COUNT})) AS epoch) e
        )
        GROUP BY epoch, shard
    """,
    "cdc_scd2_user_value": """
        SELECT user_id, event_id, value,
               strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
                   AS valid_from,
               strftime(LEAD(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
               ), '%Y-%m-%d %H:%M:%S') AS valid_to,
               CASE WHEN LEAD(ts) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) IS NULL THEN 1 ELSE 0 END AS is_current
        FROM events WHERE event_type = 'purchase'
    """,
    "curation_pipeline": f"""
        WITH cleaned AS (
            SELECT doc_id, lang,
                   TRIM(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS text_norm
            FROM documents
        ),
        filtered AS (
            SELECT * FROM cleaned
            WHERE LENGTH(text_norm) BETWEEN 20 AND 10000
        ),
        deduped AS (
            SELECT MIN(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang
            FROM (SELECT sha256(text_norm) AS h, doc_id, lang FROM filtered)
            GROUP BY h
        )
        SELECT lang, COUNT(*) AS docs_kept
        FROM deduped
        WHERE {_DUCK_H.format(expr="CAST(doc_id AS VARCHAR)")} % {SAMPLE_MOD} = 0
        GROUP BY lang
    """,
    "sample_docs_deterministic": f"""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE {_DUCK_H.format(expr="CAST(doc_id AS VARCHAR)")} % {SAMPLE_MOD} = 0
    """,
    "stratified_sample_docs": f"""
        SELECT lang, COUNT(*) AS kept_docs,
               CAST(SUM(n_chars) AS BIGINT) AS kept_chars
        FROM documents
        WHERE {_DUCK_H.format(expr="CAST(doc_id AS VARCHAR)")} % 100 <
              CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in STRATA_PCT.items())}
                   ELSE 0 END
        GROUP BY lang
    """,
    "quota_sample_tokens_budget": f"""
        SELECT doc_id, lang, n_chars, h, prior_chars FROM (
            SELECT doc_id, lang, n_chars, h,
                   CAST(COALESCE(SUM(n_chars) OVER (
                        PARTITION BY lang ORDER BY h, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS prior_chars
            FROM (SELECT doc_id, lang, n_chars,
                         {_DUCK_H.format(expr="CAST(doc_id AS VARCHAR)")} AS h
                  FROM documents)
        ) WHERE prior_chars < {QUOTA_CHARS}
    """,
    "pack_docs_sequences": rf"""
        WITH toks AS (
            SELECT doc_id,
                   len(string_split_regex(lower(text), '\s+')) AS n_tokens
            FROM documents
        ),
        binned AS (
            SELECT doc_id, n_tokens,
                   CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                        ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) / {PACK_BUDGET}) AS BIGINT) AS bin_id
            FROM toks
        )
        SELECT bin_id, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM binned GROUP BY bin_id
    """,
    "pack_docs_placement": rf"""
        WITH toks AS (
            SELECT doc_id,
                   len(string_split_regex(lower(text), '\s+')) AS n_tokens
            FROM documents
        ),
        placed AS (
            SELECT doc_id, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                        ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS g
            FROM toks
        )
        SELECT doc_id, n_tokens,
               CAST(FLOOR(g / {PACK_BUDGET}) AS BIGINT) AS start_bin,
               CAST(g - FLOOR(g / {PACK_BUDGET}) * {PACK_BUDGET} AS BIGINT)
                   AS start_offset,
               CAST(FLOOR((g + n_tokens - 1) / {PACK_BUDGET}) AS BIGINT)
                   AS end_bin,
               CAST(FLOOR((g + n_tokens - 1) / {PACK_BUDGET})
                    - FLOOR(g / {PACK_BUDGET}) + 1 AS INT) AS spans_bins
        FROM placed
    """,
    "doc_domain_mixture": r"""
        WITH per_src AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(len(list_filter(
                        string_split_regex(lower(text), '\s+'),
                        t -> t <> ''))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT SUM(n_tokens) AS total_tokens, COUNT(*) AS n_sources
            FROM per_src
        )
        SELECT source, n_docs, n_tokens,
               ROUND(CAST(n_tokens AS DOUBLE) / total_tokens, 6)
                   AS token_share,
               ROUND((1.0 / n_sources)
                     / (CAST(n_tokens AS DOUBLE) / total_tokens), 6)
                   AS uniform_reweight
        FROM per_src CROSS JOIN tot
    """,
    "token_budget_mixture_plan": rf"""
        WITH per_src AS (
            SELECT source,
                   CAST(SUM(len(list_filter(
                        string_split_regex(lower(text), '\s+'),
                        t -> t <> ''))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ),
        tot AS (SELECT SUM(n_tokens) AS total_tokens FROM per_src),
        weighted AS (
            SELECT source, n_tokens,
                   CAST(sqrt(CAST(n_tokens AS DOUBLE) / total_tokens)
                        AS DECIMAL(28,16)) AS w_dec
            FROM per_src CROSS JOIN tot
        ),
        ws AS (SELECT SUM(w_dec) AS w_sum FROM weighted),
        quotas AS (
            SELECT source, n_tokens,
                   CAST({MIXTURE_BUDGET} AS DOUBLE)
                       * (CAST(w_dec AS DOUBLE) / CAST(w_sum AS DOUBLE))
                       AS quota
            FROM weighted CROSS JOIN ws
        ),
        based AS (
            SELECT source, n_tokens, quota,
                   CAST(FLOOR(quota) AS BIGINT) AS base,
                   quota - FLOOR(quota) AS frac
            FROM quotas
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (ORDER BY frac DESC, source ASC) AS rk,
                   {MIXTURE_BUDGET} - SUM(base) OVER () AS short
            FROM based
        )
        SELECT source, n_tokens,
               base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS token_budget,
               ROUND(CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END
                          AS DOUBLE) / n_tokens, 6) AS epochs_over_available
        FROM ranked
    """,
    "domain_temperature_reweight": r"""
        WITH per_src AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(len(list_filter(
                        string_split_regex(lower(text), '\s+'),
                        t -> t <> ''))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ),
        tot AS (SELECT SUM(n_tokens) AS total_tokens FROM per_src),
        weighted AS (
            SELECT source, n_docs, n_tokens,
                   CAST(n_tokens AS DOUBLE) / total_tokens AS p,
                   CAST(sqrt(CAST(n_tokens AS DOUBLE) / total_tokens)
                        AS DECIMAL(28,16)) AS w_dec
            FROM per_src CROSS JOIN tot
        ),
        ws AS (SELECT SUM(w_dec) AS w_sum FROM weighted)
        SELECT source, n_docs, n_tokens,
               ROUND(p, 6) AS token_share,
               ROUND(CAST(w_dec AS DOUBLE) / CAST(w_sum AS DOUBLE), 6)
                   AS temp_weight,
               ROUND((CAST(w_dec AS DOUBLE) / CAST(w_sum AS DOUBLE)) / p, 6)
                   AS sample_factor
        FROM weighted CROSS JOIN ws
    """,
    "cdc_latest_events": """
        SELECT user_id, event_id, event_type,
               STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
        FROM events
        QUALIFY ROW_NUMBER() OVER
            (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    "word_doc_frequency_topk": rf"""
        SELECT word, COUNT(*) AS doc_freq
        FROM (
            SELECT DISTINCT doc_id,
                   UNNEST(string_split_regex(lower(text), '\s+')) AS word
            FROM documents
        )
        WHERE word <> ''
        GROUP BY word
        ORDER BY doc_freq DESC, word
        LIMIT {TOPK_WORDS}
    """,
    "doc_top_terms": rf"""
        WITH tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM (
                SELECT doc_id,
                       UNNEST(string_split_regex(lower(text), '\s+')) AS term
                FROM documents
            )
            WHERE term <> ''
            GROUP BY doc_id, term
        ),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
        SELECT doc_id, term, tf, df, term_rank,
               ROUND(CAST(tf AS DOUBLE) / df, 6) AS salience
        FROM (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   ROW_NUMBER() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term
                   ) AS term_rank
            FROM tf JOIN df ON tf.term = df.term
        )
        WHERE term_rank <= {TOPK_TERMS}
    """,
    "purchasers_without_errors": """
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        EXCEPT
        SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    """,
    "purchasers_with_signup": """
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        INTERSECT
        SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
    """,
    "hourly_gapfill": f"""
        WITH spine AS (
            SELECT h.hour, t.event_type
            FROM (SELECT UNNEST(generate_series(
                      TIMESTAMP '{_SPINE_START}',
                      TIMESTAMP '{_SPINE_END}',
                      INTERVAL 1 HOUR)) AS hour) h
            CROSS JOIN (SELECT UNNEST(
                ['click', 'error', 'purchase', 'signup', 'view'])
                AS event_type) t
        ),
        counts AS (
            SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
            FROM events
            WHERE ts >= TIMESTAMP '{_SPINE_START}'
              AND ts < TIMESTAMP '2024-01-08 00:00:00'
            GROUP BY 1, 2
        )
        SELECT STRFTIME(spine.hour, '%Y-%m-%d %H:%M:%S') AS hour,
               spine.event_type,
               COALESCE(counts.n, 0) AS n_events
        FROM spine LEFT JOIN counts
          ON spine.hour = counts.hour AND spine.event_type = counts.event_type
    """,
    "training_export_manifest": r"""
        WITH cleaned AS (
            SELECT doc_id, lang,
                   TRIM(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS tn,
                   len(list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '')) AS n_tokens
            FROM documents
        ),
        f AS (SELECT * FROM cleaned WHERE n_tokens BETWEEN 5 AND 5000),
        kept AS (
            SELECT MIN(doc_id) AS doc_id,
                   arg_min(lang, doc_id) AS lang,
                   CAST(arg_min(n_tokens, doc_id) AS INT) AS n_tokens
            FROM f GROUP BY sha256(tn)
        )
        SELECT k.doc_id, k.lang, k.n_tokens,
               e.vec_id IS NOT NULL AS has_embedding,
               ROUND(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[]))), 6)
                   AS emb_norm
        FROM kept k LEFT JOIN embeddings e ON k.doc_id = e.vec_id
    """,
}

# The pruned formulation is output-identical to the plain window by
# construction, but its gated schema additionally carries the bucket id
# (bkt = h >> (60 - QUOTA_BUCKET_BITS)) so a driver-side mismatch
# localizes to hash / binning / window in one glance.
ORACLE["quota_sample_tokens_budget_skewsafe"] = f"""
    SELECT doc_id, lang, n_chars, h, bkt, prior_chars FROM (
        SELECT doc_id, lang, n_chars, h, h >> {60 - QUOTA_BUCKET_BITS} AS bkt,
               CAST(COALESCE(SUM(n_chars) OVER (
                    PARTITION BY lang ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS prior_chars
        FROM (SELECT doc_id, lang, n_chars,
                     {_DUCK_H.format(expr="CAST(doc_id AS VARCHAR)")} AS h
              FROM documents)
    ) WHERE prior_chars < {QUOTA_CHARS}
"""


def _duck_curation_v2() -> str:
    """The fused curation pipeline's oracle, composed from the member
    oracles' own CTE fragments: paragraph flags (dedup._DUCK_PARA_FLAGGED),
    the plain keep-first digest window stage 2 is answer-invariant to
    (the Bloom flags fragment supplies only the definitely-new detail),
    the MinHash banding body (dedup._duck_lsh_body) over rebuilt-text
    shingles feeding the exact-Jaccard verify at τ = 0.8 (banded
    semantics stated, so the oracle tracks the plan at every scale —
    banding recall is measured, not assumed), the classifier training chain
    (textstats._QC_CTES_BODY) + a scoring chain over rebuilt text, the
    8-gram contamination screen, the largest-remainder mixture plan, the
    per-source admission window, and the single-window packing twin of
    the two-level cumsum."""
    from .dedup import (
        _DUCK_PARA_FLAGGED,
        _duck_bloom_flag_ctes,
        _duck_lsh_body,
        _duck_shingles_of,
        PPJOIN_X,
    )
    from .textstats import (
        _DUCK_8G,
        _DUCK_TH,
        _qc_ctes_body,
        CONTAM_MOD,
        CONTAM_N,
        LEX_BENCH_ID_CAP,
        QC_BUCKETS,
    )

    num, den = PPJOIN_X
    h_doc = _DUCK_H.format(expr="CAST(doc_id AS VARCHAR)")
    n_of = (
        r"len(list_filter(string_split_regex(lower({c}), '\s+'), "
        r"t -> t <> ''))"
    )
    return rf"""
    {_DUCK_PARA_FLAGGED},
    rebuilt AS MATERIALIZED (
        SELECT doc_id, COUNT(*) AS n_paras,
               CAST(SUM(kept) AS BIGINT) AS kept_paras,
               COALESCE(string_agg(CASE WHEN kept = 1 THEN para END,
                                   ' ' ORDER BY pos), '') AS text_clean
        FROM flagged GROUP BY doc_id
    ),
    s1 AS (
        SELECT d.doc_id, d.lang, d.source, r.text_clean
        FROM documents d JOIN rebuilt r USING (doc_id)
        WHERE r.kept_paras > 0
    ),
    s1d AS (SELECT doc_id, lang, source, text_clean,
                   sha256(text_clean) AS d
            FROM s1),
    {_duck_bloom_flag_ctes("s1d")},
    s2 AS MATERIALIZED (
        SELECT doc_id, lang, source, text_clean FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY d ORDER BY doc_id) AS rn
            FROM s1d
        ) WHERE rn = 1
    ),
    {_duck_shingles_of("s2", "text_clean", materialized=True)},{_duck_lsh_body(materialized=True)},
    ppairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n AS na, b.n AS nb, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
        JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
        GROUP BY 1, 2, 3, 4
        HAVING COUNT(*) * {den} >= {num} * (a.n + b.n - COUNT(*))
    ),
    s3 AS (SELECT * FROM s2
           WHERE doc_id NOT IN (SELECT doc_b FROM ppairs)),
    {_qc_ctes_body(f'WHERE doc_id % {QC_TRAIN_MOD} = 0')},
    tk3 AS (
        SELECT doc_id,
               unnest(list_filter(
                   string_split_regex(lower(text_clean), '\s+'),
                   t -> t <> '')) AS tok
        FROM s3
    ),
    f3 AS (
        SELECT doc_id,
               unnest(list_concat([tok],
                   list_transform(range(1, length(pt) - 1),
                                  i -> substr(pt, CAST(i AS INT), 3)))) AS t
        FROM (SELECT doc_id, tok, '<' || tok || '>' AS pt FROM tk3)
    ),
    b3 AS (
        SELECT doc_id, {_DUCK_TH} % {QC_BUCKETS} AS bkt, COUNT(*) AS cnt
        FROM f3 GROUP BY doc_id, bkt
    ),
    sc3 AS (
        SELECT doc_id, CAST(SUM(cnt * w6) AS BIGINT) AS ws
        FROM b3 JOIN w USING (bkt) GROUP BY doc_id
    ),
    s4 AS (
        SELECT s3.* FROM s3 JOIN sc3 USING (doc_id) WHERE sc3.ws > 0
    ),
    bts AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> t <> '') AS ts
        FROM documents
        WHERE doc_id % {CONTAM_MOD} = 0 AND doc_id < {LEX_BENCH_ID_CAP}
    ),
    bgrams AS (
        SELECT DISTINCT unnest({_DUCK_8G}) AS g
        FROM bts WHERE len(ts) >= {CONTAM_N}
    ),
    c5 AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text_clean), '\s+'),
                           t -> t <> '') AS ts
        FROM s4 WHERE NOT (doc_id % {CONTAM_MOD} = 0
                           AND doc_id < {LEX_BENCH_ID_CAP})
    ),
    g5 AS (
        SELECT doc_id, unnest({_DUCK_8G}) AS g
        FROM c5 WHERE len(ts) >= {CONTAM_N}
    ),
    contam AS (SELECT DISTINCT doc_id FROM g5 JOIN bgrams USING (g)),
    s5 AS (
        SELECT * FROM s4
        WHERE NOT (doc_id % {CONTAM_MOD} = 0
                   AND doc_id < {LEX_BENCH_ID_CAP})
          AND doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    s5tok AS (
        SELECT doc_id, source,
               CAST({n_of.format(c="text_clean")} AS BIGINT) AS n
        FROM s5
    ),
    per_src6 AS (
        SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens
        FROM s5tok GROUP BY source
    ),
    tot6 AS (SELECT SUM(n_tokens) AS total_tokens FROM per_src6),
    weighted6 AS (
        SELECT source, n_tokens,
               CAST(sqrt(CAST(n_tokens AS DOUBLE) / total_tokens)
                    AS DECIMAL(28,16)) AS w_dec
        FROM per_src6 CROSS JOIN tot6
    ),
    ws6 AS (SELECT SUM(w_dec) AS w_sum FROM weighted6),
    quotas6 AS (
        SELECT source, n_tokens,
               CAST({V2_MIX_BUDGET} AS DOUBLE)
                   * (CAST(w_dec AS DOUBLE) / CAST(w_sum AS DOUBLE))
                   AS quota
        FROM weighted6 CROSS JOIN ws6
    ),
    based6 AS (
        SELECT source, n_tokens, quota,
               CAST(FLOOR(quota) AS BIGINT) AS base,
               quota - FLOOR(quota) AS frac
        FROM quotas6
    ),
    ranked6 AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY frac DESC, source ASC) AS rk,
               {V2_MIX_BUDGET} - SUM(base) OVER () AS short
        FROM based6
    ),
    plan6 AS (
        SELECT source,
               base + CASE WHEN rk <= short THEN 1 ELSE 0 END
                   AS token_budget
        FROM ranked6
    ),
    admit AS (
        SELECT doc_id, source, n FROM (
            SELECT doc_id, source, n, token_budget,
                   COALESCE(SUM(n) OVER (
                        PARTITION BY source ORDER BY h, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS prior
            FROM (SELECT s5tok.*, {h_doc} AS h FROM s5tok)
                 JOIN plan6 USING (source)
        ) WHERE prior < token_budget
    ),
    binned AS (
        SELECT doc_id, n,
               CAST(FLOOR(COALESCE(SUM(n) OVER (
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / {PACK_BUDGET}) AS BIGINT) AS bin_id
        FROM admit
    )
    SELECT CAST(0 AS INT) AS stage_rank, 'input' AS stage,
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS docs_out,
           CAST((SELECT SUM({n_of.format(c="text")}) FROM documents)
               AS BIGINT) AS tokens_out,
           CAST(0 AS BIGINT) AS detail
    UNION ALL
    SELECT 1, 'paragraph_dedup',
           (SELECT COUNT(*) FROM s1),
           (SELECT CAST(SUM({n_of.format(c="text_clean")}) AS BIGINT)
            FROM s1),
           (SELECT CAST(SUM(n_paras - kept_paras) AS BIGINT) FROM rebuilt)
    UNION ALL
    SELECT 2, 'exact_dedup_bloom',
           (SELECT COUNT(*) FROM s2),
           (SELECT CAST(SUM({n_of.format(c="text_clean")}) AS BIGINT)
            FROM s2),
           (SELECT CAST(SUM(CASE WHEN maybe_dup THEN 0 ELSE 1 END)
                        AS BIGINT) FROM blflags)
    UNION ALL
    SELECT 3, 'lsh_neardup',
           (SELECT COUNT(*) FROM s3),
           (SELECT CAST(SUM({n_of.format(c="text_clean")}) AS BIGINT)
            FROM s3),
           (SELECT COUNT(*) FROM ppairs)
    UNION ALL
    SELECT 4, 'classifier_gate',
           (SELECT COUNT(*) FROM s4),
           (SELECT CAST(SUM({n_of.format(c="text_clean")}) AS BIGINT)
            FROM s4),
           (SELECT COUNT(*) FROM sc3)
    UNION ALL
    SELECT 5, 'contamination_screen',
           (SELECT COUNT(*) FROM s5),
           (SELECT CAST(SUM({n_of.format(c="text_clean")}) AS BIGINT)
            FROM s5),
           (SELECT COUNT(*) FROM contam)
    UNION ALL
    SELECT 6, 'token_budget_mixture',
           (SELECT COUNT(*) FROM admit),
           (SELECT CAST(SUM(n) AS BIGINT) FROM admit),
           CAST({V2_MIX_BUDGET} AS BIGINT)
    UNION ALL
    SELECT 7, 'packing',
           (SELECT COUNT(*) FROM admit),
           (SELECT CAST(SUM(n) AS BIGINT) FROM admit),
           (SELECT COUNT(DISTINCT bin_id) FROM binned)
    ORDER BY stage_rank
"""


ORACLE["curation_pipeline_v2"] = _duck_curation_v2()


def _duck_datasheet() -> str:
    """The datasheet's oracle, composed from the member oracles' own
    devices: the QC training/scoring chain (textstats._QC_CTES_BODY —
    owns CTE names lab/tk/f/b/counts/tot/w/s, everything else here is
    named to stay clear of them), the mixture-plan largest-remainder
    chain, and the 8-gram contamination screen."""
    from .textstats import (
        _DUCK_8G,
        _DUCK_TOKS,
        _duck_ratio6,
        _QC_CTES_BODY,
        CONTAM_MOD,
        CONTAM_N,
        LEX_BENCH_ID_CAP,
    )

    return rf"""
    WITH {_QC_CTES_BODY},
    dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_docs FROM documents),
    lmix AS (
        SELECT lang AS metric, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY lang
    ),
    stok AS (
        SELECT source AS metric,
               CAST(SUM(len(list_filter(
                    string_split_regex(lower(text), '\s+'),
                    t -> t <> ''))) AS BIGINT) AS n
        FROM documents GROUP BY source
    ),
    stot AS (SELECT SUM(n) AS total_tokens FROM stok),
    weightedq AS (
        SELECT metric, n,
               CAST(sqrt(CAST(n AS DOUBLE) / total_tokens)
                    AS DECIMAL(28,16)) AS w_dec
        FROM stok CROSS JOIN stot
    ),
    wsq AS (SELECT SUM(w_dec) AS w_sum FROM weightedq),
    quotasq AS (
        SELECT metric,
               CAST({MIXTURE_BUDGET} AS DOUBLE)
                   * (CAST(w_dec AS DOUBLE) / CAST(w_sum AS DOUBLE)) AS quota
        FROM weightedq CROSS JOIN wsq
    ),
    basedq AS (
        SELECT metric, CAST(FLOOR(quota) AS BIGINT) AS base,
               quota - FLOOR(quota) AS frac
        FROM quotasq
    ),
    rankedq AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY frac DESC, metric ASC) AS rk,
               {MIXTURE_BUDGET} - SUM(base) OVER () AS short
        FROM basedq
    ),
    planq AS (
        SELECT metric,
               base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS n
        FROM rankedq
    ),
    ddup AS (
        SELECT CAST(COUNT(*) - COUNT(DISTINCT sha256(text)) AS BIGINT) AS n
        FROM documents
    ),
    qadm AS (
        SELECT CAST(SUM(CASE WHEN ws > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n
        FROM s
    ),
    cbase AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    cfil AS (SELECT * FROM cbase WHERE len(ts) >= {CONTAM_N}),
    cgrams AS (SELECT doc_id, unnest({_DUCK_8G}) AS g FROM cfil),
    cbench AS (SELECT DISTINCT g FROM cgrams
               WHERE doc_id % {CONTAM_MOD} = 0
                 AND doc_id < {LEX_BENCH_ID_CAP}),
    ccont AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
        FROM cgrams JOIN cbench USING (g)
        WHERE NOT (doc_id % {CONTAM_MOD} = 0
                   AND doc_id < {LEX_BENCH_ID_CAP})
    )
    SELECT 'lang_mix' AS section, metric, n,
           {_duck_ratio6("n", "total_docs")} AS share
    FROM lmix CROSS JOIN dtot
    UNION ALL
    SELECT 'source_tokens', metric, n, {_duck_ratio6("n", "total_tokens")}
    FROM stok CROSS JOIN stot
    UNION ALL
    SELECT 'token_budget', metric, n, {_duck_ratio6("n", str(MIXTURE_BUDGET))}
    FROM planq
    UNION ALL
    SELECT 'dedup', 'exact_dup_docs', n, {_duck_ratio6("n", "total_docs")}
    FROM ddup CROSS JOIN dtot
    UNION ALL
    SELECT 'quality', 'classifier_admitted', n,
           {_duck_ratio6("n", "total_docs")}
    FROM qadm CROSS JOIN dtot
    UNION ALL
    SELECT 'contamination', 'benchmark_8gram_docs', n,
           {_duck_ratio6("n", "total_docs")}
    FROM ccont CROSS JOIN dtot
"""


ORACLE["corpus_datasheet"] = _duck_datasheet()


def _duck_report_card() -> str:
    """The report card's oracle, composed from the three member
    oracles' own devices: the 8-gram screen's gram/bench CTEs
    (rc-prefixed to stay clear of the substring fragment's base/wins
    names), dedup's shared window CTE (``_DUCK_SUBSTR_WINS``), and the
    semantic screen's capped cosine join — then the same
    full-outer-composition → combination matrix."""
    from .dedup import _DUCK_SUBSTR_WINS
    from .similarity import _DUCK_COS, SEM_BENCH_ID_CAP, SEM_CONTAM_TAU
    from .textstats import (
        _DUCK_8G,
        _DUCK_TOKS,
        CONTAM_MOD,
        CONTAM_N,
        LEX_BENCH_ID_CAP,
    )

    cos = _DUCK_COS.format(a="b.embedding", b="c.embedding")
    return rf"""
    WITH {_DUCK_SUBSTR_WINS},
    rcbase AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    rcf AS (SELECT * FROM rcbase WHERE len(ts) >= {CONTAM_N}),
    rcgrams AS (SELECT doc_id, unnest({_DUCK_8G}) AS g FROM rcf),
    rcbench AS (SELECT DISTINCT g FROM rcgrams
                WHERE doc_id % {CONTAM_MOD} = 0
                  AND doc_id < {LEX_BENCH_ID_CAP}),
    l1 AS (
        SELECT DISTINCT doc_id FROM rcgrams
        WHERE NOT (doc_id % {CONTAM_MOD} = 0
                   AND doc_id < {LEX_BENCH_ID_CAP})
          AND g IN (SELECT g FROM rcbench)
    ),
    wbench AS (
        SELECT DISTINCT wh FROM wins
        WHERE doc_id % {CONTAM_MOD} = 0 AND doc_id < {LEX_BENCH_ID_CAP}
    ),
    l2 AS (
        SELECT DISTINCT doc_id FROM wins
        WHERE NOT (doc_id % {CONTAM_MOD} = 0
                   AND doc_id < {LEX_BENCH_ID_CAP})
          AND wh IN (SELECT wh FROM wbench)
    ),
    l3 AS (
        SELECT DISTINCT c.vec_id AS doc_id
        FROM embeddings c JOIN embeddings b
          ON NOT (c.vec_id % {CONTAM_MOD} = 0
                  AND c.vec_id < {SEM_BENCH_ID_CAP})
         AND b.vec_id % {CONTAM_MOD} = 0
         AND b.vec_id < {SEM_BENCH_ID_CAP}
        WHERE {cos} >= {SEM_CONTAM_TAU}
    ),
    flagged AS (
        SELECT doc_id FROM l1
        UNION SELECT doc_id FROM l2
        UNION SELECT doc_id FROM l3
    ),
    flags AS (
        SELECT f.doc_id,
               f.doc_id IN (SELECT doc_id FROM l1) AS caught_8gram,
               f.doc_id IN (SELECT doc_id FROM l2) AS caught_substring,
               f.doc_id IN (SELECT doc_id FROM l3) AS caught_semantic
        FROM flagged f
    )
    SELECT caught_8gram, caught_substring, caught_semantic,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM flags
    GROUP BY caught_8gram, caught_substring, caught_semantic
    ORDER BY caught_8gram, caught_substring, caught_semantic
"""


ORACLE["contamination_report_card"] = _duck_report_card()
