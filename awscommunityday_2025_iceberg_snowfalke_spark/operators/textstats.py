"""Text analysis over the ``documents`` table (north-star extension).

Language-ID (stopword heuristic), quality scoring, token counting and
document fingerprinting — all as built-in JVM-side expressions (split /
regexp / higher-order array functions), no Python UDFs: at 100 TB these run
inside whole-stage codegen on the scan, shuffle nothing, and reduce to a
narrow per-doc output.

Every operator is reproduced exactly by its duckdb oracle (portable
regexes, portable md5-based token hash for the fingerprint).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import load, local_frame, spread
from ..stage import stage

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
STOPWORDS_DE = ("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "den")
STOPWORDS_FR = ("le", "la", "les", "et", "est", "un", "une", "de", "du", "pour")

_FP_MOD = 1_000_003
# portable token hash — the canonical device instantiated at expr="t"
from .hashing import _DUCK_TH, _SPARK_TH


def _toks(col="text"):
    return F.filter(
        F.split(F.lower(F.col(col)), r"\s+"), lambda t: t != F.lit("")
    )


_DUCK_TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"


def _in_list(words):
    lit_arr = F.array(*[F.lit(w) for w in words])
    return lambda t: F.array_contains(lit_arr, t)


def _duck_in(words):
    return "t IN (" + ", ".join(f"'{w}'" for w in words) + ")"


# --- exact cross-engine ratio rounding --------------------------------------
# round(num/den, 6) HALF_UP computed WITHOUT ever rounding a double:
# k = floor((2·num·10^6 + den) / (2·den)) in exact int64 arithmetic, then a
# single IEEE division k/10^6 (correctly rounded on every engine, so the
# resulting double is bit-identical). ROUND(double, 6) is NOT portable —
# Spark rounds the exact BigDecimal of the binary double HALF_UP while
# DuckDB's float path multiplies by 10^6 first, so any ratio near an
# x.xxxxxx5 boundary (e.g. 1/128 = 0.0078125) can flip between engines —
# the r7 driver-red class. Integer ratios are cheap to make exact; use
# this for every displayed ratio of two integer counts.
def _ratio6(num, den):
    a = num.cast("bigint") * 2000000 + den.cast("bigint")
    b = den.cast("bigint") * 2
    # (a - a%b)/b: numerator exactly divisible, quotient an exact integer
    # < 2^53, so the double division is exact on any IEEE engine
    k = ((a - a % b) / b).cast("bigint")
    return k.cast("double") / F.lit(1000000.0)


def _duck_ratio6(num_sql: str, den_sql: str) -> str:
    return (
        f"(CAST((2000000 * ({num_sql}) + ({den_sql})) // (2 * ({den_sql})) "
        f"AS DOUBLE) / 1000000.0)"
    )


# --- quality scoring --------------------------------------------------------
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = _toks()
    n_tokens = F.size(toks)
    n_nonspace = F.length(F.regexp_replace("text", r"\s+", ""))
    n_punct = F.length(F.regexp_replace("text", r"[^.!?,;:]", ""))
    n_stop = F.size(F.filter(toks, _in_list(STOPWORDS_EN)))
    out = docs.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stop"),
        n_punct.alias("n_punct"),
        _ratio6(n_nonspace, n_tokens).alias("avg_token_len"),
        _ratio6(n_stop, n_tokens).alias("stopword_ratio"),
        _ratio6(n_punct, F.length("text")).alias("punct_ratio"),
        F.length("text").alias("len_text"),
    )
    # simple composite: long enough, some stopwords, not punctuation soup.
    # Thresholds as INTEGER cross-products (n_stop/n_tokens >= 1/20 ⇔
    # n_stop*20 >= n_tokens; n_punct/len <= 1/5 ⇔ n_punct*5 <= len): no
    # double ever enters a predicate, so the decision is bit-identical on
    # any engine/version — ROUND(double) half-boundary behavior differs
    # between Spark (exact BigDecimal HALF_UP) and DuckDB builds, which
    # made the rounded-ratio form flip boundary docs cross-engine (the r7
    # driver-red class). The rounded ratios stay as display columns only.
    return out.withColumn(
        "quality_ok",
        (
            (F.col("n_tokens") >= 10)
            & (F.col("n_stop") * 20 >= F.col("n_tokens"))
            & (F.col("n_punct") * 5 <= F.col("len_text"))
        ).cast("int"),
    ).drop("len_text")


# --- language identification (n-gram/stopword heuristic) --------------------
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = _toks()
    en = F.size(F.filter(toks, _in_list(STOPWORDS_EN)))
    de = F.size(F.filter(toks, _in_list(STOPWORDS_DE)))
    fr = F.size(F.filter(toks, _in_list(STOPWORDS_FR)))
    pred = (
        F.when((en >= de) & (en >= fr), "en")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return docs.select(
        "doc_id",
        "lang",
        en.alias("en_hits"),
        de.alias("de_hits"),
        fr.alias("fr_hits"),
        pred.alias("pred_lang"),
        (pred == F.col("lang")).cast("int").alias("lang_match"),
    )


# --- token counting (whitespace + BPE-ish estimate) -------------------------
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z0-9]+"), 0)
    return docs.select(
        "doc_id",
        F.size(_toks()).alias("ws_tokens"),
        F.size(words).alias("word_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("bigint").alias("est_bpe_tokens"),
        F.size(F.array_distinct(words)).alias("unique_words"),
    )


# --- document fingerprint (rolling polynomial hash over tokens) -------------
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling hash: fold (acc*31 + h(token)) mod p over the
    token sequence. Unlike content-hash dedup this is stable under trailing
    whitespace/case changes, and the same fold runs in the oracle via
    ``list_reduce``."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(
            f"aggregate(filter(split(lower(text), '\\\\s+'), t -> t != ''), "
            f"cast(0 as bigint), "
            f"(acc, t) -> (acc * 31 + ({_SPARK_TH} % {_FP_MOD})) % {_FP_MOD})"
        ).alias("fingerprint"),
    )


# --- canonical text normalization (pre-dedup cleanup pass) -------------------
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization every dedup pipeline runs before hashing: lowercase,
    strip non-alphanumerics to spaces, collapse whitespace runs, trim.
    Built-in regexp_replace (RE2-compatible patterns only, so Spark's Java
    regex and duckdb's RE2 agree). Emits old/new lengths so shrinkage is
    auditable."""
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("text_norm"),
        F.length("text").alias("len_raw"),
        F.length(norm).alias("len_norm"),
    )


# --- BM25 retrieval scoring ---------------------------------------------------
BM25_QUERY = ["data", "join", "stream"]  # topic-filter query terms
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k over the corpus for a fixed term query — the retrieval /
    topic-filter scoring a curation pipeline runs to select in-domain
    documents. Shapes: per-doc tf for the query terms only (map-side
    explode+filter — the inverted-index posting scan), corpus stats (N,
    avg len, per-term df) as one tiny broadcastable aggregate, score =
    Σ idf·tf·(k1+1)/(tf + k1·(1-b+b·len/avglen)). At 100 TB the per-term
    df/idf table is a dictionary-sized broadcast and scoring stays
    map-side; only the final top-k sorts (TakeOrderedAndProject)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(_toks()).alias("dl"), F.explode(_toks()).alias("t")
    )
    n_avg = docs.select(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.size(_toks()).cast("decimal(28,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    hits = toks.filter(F.col("t").isin(*BM25_QUERY))
    tf = hits.groupBy("doc_id", "dl", "t").agg(F.count(F.lit(1)).alias("tf"))
    df_t = hits.select("t", "doc_id").distinct().groupBy("t").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_t), "t")
        .crossJoin(F.broadcast(n_avg))
        .select(
            "doc_id",
            (
                F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
        .groupBy("doc_id")
        # ≤|query| addends per doc, but decimal accumulation anyway: the sum
        # stays partition-order independent (functions.det_sum rationale)
        .agg(
            F.round(
                F.sum(F.col("s").cast("decimal(28,16)")).cast("double"), 6
            ).alias("bm25")
        )
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_TOPK)



# --- Gopher-style repetition stats (quality filtering signal) ----------------
def _ngram_sql(n: int) -> str:
    """SQL text of the in-row token n-gram array over the ``ts`` column
    (string form so it can be embedded inside other SQL expressions)."""
    parts = ", ".join(f"element_at(ts, i + {j})" for j in range(n))
    return (
        f"transform(sequence(1, size(ts) - {n - 1}), "
        f"i -> concat_ws(' ', {parts}))"
    )


def _ngram_arr(n: int):
    """In-row token n-gram array over the ``ts`` token column."""
    return F.expr(_ngram_sql(n))


# max run length in a SORTED array == the count of its most frequent
# element; a single fold, no shuffle (the struct carries prev/run/best)
_TOP_RUN = (
    "aggregate(array_sort({arr}), "
    "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
    "(acc, x) -> named_struct("
    "  'prev', x, "
    "  'run', IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1L), "
    "  'best', GREATEST(acc.best, "
    "          IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1L))), "
    "acc -> acc.best)"
)


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition ratios per document — the Gopher/MassiveText-family
    quality filters (fraction of duplicate token 3-grams; fraction of all
    2-grams taken by the single most frequent one). Highly repetitive docs
    (boilerplate, scraped menus, generation loops) score high on both and
    get culled before training.

    Shape (r13): entirely IN-ROW — a document's n-grams all live in its
    own token array, so per-doc distinct counts (``array_distinct``) and
    the top-bigram frequency (max run length of the sorted bigram array,
    one ``aggregate`` fold) never need a (doc_id, ngram) exchange at all.
    ZERO shuffles, one whole-stage-codegen map pass over the scan — at
    100 TB this deletes two corpus-token-scale shuffles the previous
    explode→groupBy shape paid (r12 verdict task 6: the entry's bench
    drift was the serialized tail of exactly those exchanges). Per-doc
    arrays are document-length-bounded, the same in-row budget as the
    shingle/fingerprint pipelines."""
    docs = spread(spark, load(spark, sf_dir, "documents"))
    base = docs.select("doc_id", _toks().alias("ts")).filter(F.size("ts") >= 3)
    tri, bi = _ngram_arr(3), _ngram_arr(2)
    return base.select(
        "doc_id",
        tri.alias("tri"),
        bi.alias("bi"),
    ).select(
        "doc_id",
        F.size("tri").alias("n_trigrams"),
        F.size(F.array_distinct("tri")).alias("d_trigrams"),
        F.expr(_TOP_RUN.format(arr="bi")).alias("top_bigram"),
        F.size("bi").alias("n_bigrams"),
    ).select(
        "doc_id",
        "n_trigrams",
        F.round(
            1 - F.col("d_trigrams").cast("double") / F.col("n_trigrams"), 6
        ).alias("dup_trigram_frac"),
        F.round(
            F.col("top_bigram").cast("double") / F.col("n_bigrams"), 6
        ).alias("top_bigram_frac"),
    )


# --- benchmark decontamination (n-gram overlap) ------------------------------
CONTAM_N = 8  # token n-gram width (the common 8-13 gram decontam range)
CONTAM_MOD = 11  # doc_id % CONTAM_MOD == 0 -> the held-out 'benchmark' split
LEX_BENCH_ID_CAP = 500  # the benchmark split is FROZEN: eval-slice ids
# below this cap (the r14-verdict fix, the similarity.SEM_BENCH_ID_CAP
# convention). Covers every document at the driver-gate SF (sf0.01 ids
# run 0..499, so the cap changes no answer there) while pinning the
# broadcast bench side CONSTANT-SIZE as the corpus grows — a real eval
# set never grows with the corpus; without the cap the %-slice stood in
# for 1/11 OF THE CORPUS and the bench n-gram broadcast grew linearly
# with corpus size (the driver-OOM hazard at 100 TB). Shared by every
# LEXICAL screen (8-gram here, the 50-token-substring screen in
# dedup.py, curation_pipeline_v2 stage 5, and corpus_datasheet's
# contamination member) so all four layers score against the SAME
# frozen eval set; tests/test_properties.py pins the bench-side row
# count identical across SFs.
#
# FROZEN-SPLIT COMPLEMENT (r15 ADVICE): the TRAINING side is everything
# NOT in the frozen split — ``NOT (id % CONTAM_MOD == 0 AND id < cap)``,
# not ``id % CONTAM_MOD != 0``. The old %-only filter left docs with
# id % 11 == 0 AND id >= cap in NEITHER split beyond the gate SF:
# undetectable contamination, silently dropped by curation stage 5.
# No-op at sf0.01 (ids run 0..499 < cap); both engines change in
# lockstep (see the oracle fragments) so every screen stays full-value
# exact at any SF. tests/test_properties.py pins an above-cap
# id % 11 == 0 doc screened as TRAINING at sf0.1.


def _lex_train_pred(col: str = "doc_id"):
    """Spark training-side predicate: the frozen split's complement."""
    return ~(
        (F.col(col) % CONTAM_MOD == 0) & (F.col(col) < LEX_BENCH_ID_CAP)
    )


def _lex_train_sql(col: str = "doc_id") -> str:
    """DuckDB twin of :func:`_lex_train_pred` (lockstep by construction)."""
    return (
        f"NOT ({col} % {CONTAM_MOD} = 0 AND {col} < {LEX_BENCH_ID_CAP})"
    )


def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: find corpus documents sharing any
    token 8-gram with the held-out benchmark split (here a deterministic
    doc_id slice stands in for the eval set). The shape that survives
    100 TB: the benchmark split is FROZEN at ids < ``LEX_BENCH_ID_CAP``
    (a real eval set is fixed-size, never a corpus fraction), so its
    n-gram set is bounded by the *eval* corpus (always broadcast-sized)
    and contamination detection is a map-side broadcast semi-join over
    the corpus n-gram stream — no corpus-vs-corpus join, no broadcast
    that grows with the corpus.
    Output: contaminated doc -> number of distinct shared 8-grams."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", _toks().alias("ts")).filter(
        F.size("ts") >= CONTAM_N
    )
    parts = ", ".join(f"element_at(ts, i + {j})" for j in range(CONTAM_N))
    grams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(ts) - {CONTAM_N - 1}), "
                f"i -> concat_ws(' ', {parts}))"
            )
        ).alias("g"),
    )
    bench = (
        grams.filter(
            (F.col("doc_id") % CONTAM_MOD == 0)
            & (F.col("doc_id") < LEX_BENCH_ID_CAP)
        )
        .select("g")
        .distinct()
    )
    corpus = grams.filter(_lex_train_pred())
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared_ngrams"))
    )


# --- PII redaction (scrub pass) ----------------------------------------------
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_LONGNUM = r"[0-9]{7,}"


def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub pass every training pipeline runs before the tokenizer:
    regex-redact emails and long digit runs, report per-doc match counts
    and the redacted length. The synthetic corpus contains no PII, so a
    deterministic injection step (doc_id-derived emails/phones on a slice
    of docs) feeds the scrubber real positives — the regexes, replacement
    order (emails first, then digit runs on the email-scrubbed text) and
    the count/length accounting are the production path, verified
    cross-engine. Entirely map-side: scan -> project, zero shuffles."""
    docs = load(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.col("text"), F.lit(" call 55500012345")),
    ).otherwise(F.col("text"))
    with_pii = docs.select("doc_id", injected.alias("t0"))
    no_email = F.regexp_replace("t0", _PII_EMAIL, "<EMAIL>")
    clean = F.regexp_replace(no_email, _PII_LONGNUM, "<NUM>")
    return with_pii.select(
        "doc_id",
        F.size(F.regexp_extract_all("t0", F.lit(_PII_EMAIL), 0)).alias(
            "n_emails"
        ),
        F.size(
            F.regexp_extract_all(no_email, F.lit(_PII_LONGNUM), 0)
        ).alias("n_longnums"),
        F.length("t0").alias("len_raw"),
        F.length(clean).alias("len_redacted"),
    )


# --- unigram LM quality scoring (perplexity proxy) ---------------------------
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality signal: score every document by the mean
    negative log-probability of its tokens under a Laplace-smoothed
    unigram LM trained on the corpus itself. High scores = rare/surprising
    vocabulary (OCR noise, boilerplate IDs, wrong-language fragments); the
    classic cheap filter before an actual LM scores the survivors.

    Scale shape (same as BM25): the vocabulary table is corpus-bounded and
    broadcast-sized, so scoring is one token explode + broadcast join +
    per-doc aggregation — the token shuffle carries (doc_id, -ln p)
    pairs keyed on doc_id, map-side combined. ln() and the decimal score
    sum follow doc_bm25_search's proven cross-engine determinism recipe
    (fixed fold via DECIMAL, round 6)."""
    return _unigram_doc_scores(spark, sf_dir).select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("nlp_sum").cast("double") / F.col("n_tokens"), 6
        ).alias("avg_neg_logprob"),
    )


def _unigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared core of the unigram-LM scorers: per-doc (doc_id, n_tokens,
    nlp_sum) where nlp_sum is the DECIMAL(38,16) sum of per-token
    -ln p — kept UNROUNDED so consumers that threshold the score
    (:func:`quality_band_sample`) can compare exact decimals instead of
    rounded doubles (the r7 cross-engine fragility class)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_toks()).alias("t"))
    toks = stage(toks)  # consumed twice: vocab build + scoring join
    vocab = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    # r16 (guide §1.2): the (N, V) totals ride the scoring plan as a
    # broadcast 1-row aggregate instead of an eager collect that made a
    # third pass over the staged tokens (long-sum → double cast = the
    # old float(n+v) literal bit-for-bit)
    totals = toks.agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.countDistinct("t").alias("v_size"),
    )
    neg_lp = -F.log(
        (F.col("c") + 1).cast("double")
        / (F.col("n_corpus") + F.col("v_size")).cast("double")
    )
    scored = (
        toks.join(F.broadcast(vocab), "t")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", neg_lp.alias("nlp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("nlp").cast("decimal(28,16)")).alias("nlp_sum"),
    )


# --- token frequency-of-frequency spectrum (Zipf diagnostics) ----------------
def token_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequency spectrum: how many distinct tokens occur
    exactly k times in the corpus (Good-Turing's N_k; a log-log-linear
    spectrum is the Zipf sanity check every tokenizer/corpus release
    publishes, and hapax mass — N_1/V — is the OCR-noise smell test).
    Two chained aggregations, BOTH map-side-combinable: token → count
    (the vocabulary pass every LM op here already pays), then count →
    #tokens (output ≤ |distinct counts| rows — tiny). Shuffles shrink at
    each level; nothing here grows with corpus size except the first
    vocabulary exchange, which is the irreducible cost of any corpus
    statistic."""
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(_toks()).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    spectrum = vocab.groupBy("tf").agg(F.count(F.lit(1)).alias("n_tokens"))
    # scalar corpus-token total rides a broadcast 1-row cross join (the
    # textstats scalar convention); the ratio is integer/integer — exact
    total = spectrum.agg(
        F.sum(F.col("n_tokens") * F.col("tf")).alias("total_tokens")
    )
    return spectrum.crossJoin(F.broadcast(total)).select(
        F.col("tf").alias("occurrences"),
        "n_tokens",
        F.round(
            (F.col("n_tokens") * F.col("tf")).cast("double")
            / F.col("total_tokens"),
            6,
        ).alias("mass_fraction"),
    )


# --- quality-band sampling (perplexity-bucketed corpus construction) ---------
# avg-nlp cutpoints on this corpus, as EXACT decimal literals: band
# compares use the decimal inequality nlp_sum {<,≥} edge·n_tokens — never
# a rounded double against a double literal (the r7 driver-red fragility
# class; pre-emptively de-fragilized per the r7 verdict). DECIMAL(3,2)
# edge × bigint count stays far inside decimal(38) so neither engine
# truncates or overflows.
QUALITY_BAND_EDGES = ("3.40", "3.41")
QUALITY_BAND_KEEP_PCT = {"low": 50, "mid": 100, "high": 20}


def quality_band_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-bucketed sampling — the DCLM/FineWeb-style move where
    the training mix keeps quality BANDS at different rates instead of
    hard-filtering (mid-band text kept whole, boilerplate-leaning low
    band downsampled, rare-token noise band kept at a trickle for
    robustness). Bands cut the :func:`unigram_logprob_score` signal at
    FIXED literal edges, not quantiles: absolute-threshold banding is
    map-side, reproducible across corpus versions, and avoids the
    cross-engine quantile-interpolation trap. The edge compare is the
    exact decimal cross-product ``nlp_sum < edge·n_tokens`` (⇔ avg <
    edge): the unrounded DECIMAL score sum differs across engines only
    in trailing ulp noise (~1e-13), so the decision flips only if a
    doc's mean sits within ~1e-15 of an edge — measure-zero for
    transcendental sums, vs the ~1e-6-wide window the former
    ROUND(avg,6)-vs-3.40 compare exposed. Membership within a band is
    the deterministic md5 keep-rate device from :mod:`pipeline`. Adds
    ZERO shuffles beyond the scoring agg; the final per-band rollup is
    3 groups. Output: per-band doc/token totals and kept counts (the
    mix report a corpus release publishes)."""
    from decimal import Decimal

    scored = _unigram_doc_scores(spark, sf_dir)
    lo = F.col("n_tokens").cast("decimal(20,0)") * F.lit(
        Decimal(QUALITY_BAND_EDGES[0])
    )
    hi = F.col("n_tokens").cast("decimal(20,0)") * F.lit(
        Decimal(QUALITY_BAND_EDGES[1])
    )
    band = (
        F.when(F.col("nlp_sum") < lo, "low")
        .when(F.col("nlp_sum") < hi, "mid")
        .otherwise("high")
    )
    bucket = (
        F.expr(
            "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10)"
            " as bigint)"
        )
        % 100
    )
    rate = F.lit(None).cast("int")
    expr = None
    for name, pct in QUALITY_BAND_KEEP_PCT.items():
        cond = F.col("band") == name
        expr = F.when(cond, pct) if expr is None else expr.when(cond, pct)
    rate = expr.otherwise(F.lit(0))
    flagged = scored.select(
        "doc_id", "n_tokens", band.alias("band"), bucket.alias("bkt")
    ).withColumn("kept", (F.col("bkt") < rate).cast("long"))
    return flagged.groupBy("band").agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("kept").alias("kept_docs"),
        F.sum(F.col("kept") * F.col("n_tokens")).alias("kept_tokens"),
    )


# --- quality-rule funnel (the per-rule removal accounting) -------------------
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style rule funnel: how many documents per language each
    quality rule removes, with FIRST-failing-rule attribution so the
    funnel adds up exactly (total = kept + Σ removed) — the per-rule
    accounting a curation pipeline publishes alongside a corpus release
    (rule order matters and is part of the contract: length → stopword
    density → punctuation soup). Thresholds are INTEGER cross-products
    (stop/tokens < 1/20 ⇔ stop·20 < tokens; punct/len > 1/5 ⇔
    punct·5 > len) — exact, engine-version-proof, and equivalent to the
    unrounded rational thresholds; ``text_quality`` uses the identical
    integer form so the two reports agree on every doc by construction.
    (The previous 6-dp-rounded-double compare was driver-red in r7:
    Spark's BigDecimal HALF_UP and DuckDB's float-path ROUND disagree at
    half-boundary inputs, and one boundary doc flips a whole lang row.)
    One scan, one map-side-combinable aggregation keyed by lang."""
    docs = load(spark, sf_dir, "documents")
    toks = _toks()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, _in_list(STOPWORDS_EN)))
    n_punct = F.length(F.regexp_replace("text", r"[^.!?,;:]", ""))
    reason = (
        F.when(n_tokens < 10, "too_short")
        .when(n_stop * 20 < n_tokens, "low_stopwords")
        .when(n_punct * 5 > F.length("text"), "punct_soup")
        .otherwise("kept")
    )
    return (
        docs.select("lang", reason.alias("reason"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_docs"),
            F.sum((F.col("reason") == "too_short").cast("long")).alias(
                "removed_too_short"
            ),
            F.sum((F.col("reason") == "low_stopwords").cast("long")).alias(
                "removed_low_stopwords"
            ),
            F.sum((F.col("reason") == "punct_soup").cast("long")).alias(
                "removed_punct_soup"
            ),
            F.sum((F.col("reason") == "kept").cast("long")).alias("kept_docs"),
        )
    )


# --- DSIR importance weighting (hashed n-gram log-ratio) --------------------
DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"
# admission threshold on the MEAN PER-TOKEN log importance: sits between
# the target slice's per-token mean (≈ −0.044 on this corpus) and the
# non-target languages' (≈ −0.047 … −0.049); exact decimal literal so the
# admit predicate is a decimal-vs-decimal compare
DSIR_ADMIT_TAU = "-0.046"


def _dsir_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the log importance ratio ln p_target(x) − ln p_raw(x) under hashed
    bag-of-words models — target = the ``DSIR_TARGET_LANG`` slice, raw =
    the whole corpus. High scores read target-like and survive importance
    resampling; the cheap statistical filter that runs before any neural
    quality model touches the corpus.

    Scale shape (the whole point of DSIR): both "models" are fixed-size
    hashed count vectors (``DSIR_BUCKETS`` Laplace-smoothed buckets),
    built in ONE map-side-combinable aggregation over the token stream
    (raw count + conditional target count per bucket — never two corpus
    passes); the resulting ≤1024-row weight dictionary broadcasts at any
    corpus size, and scoring is token explode → broadcast hash-join →
    per-doc decimal sum, the proven BM25/unigram-LM budget. The two
    corpus totals ride the weight relation as a broadcast 1-row
    aggregate (r16: was an eager collect). Token-bucket hashing is the
    portable md5-prefix hash, and ln/decimal accumulation follows the
    cross-engine determinism recipe, so the duckdb twin is bit-exact."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(_toks()).alias("t")
    ).withColumn("bkt", F.expr(_SPARK_TH) % DSIR_BUCKETS)
    toks = stage(toks)  # consumed twice: model build + scoring join
    is_tgt = (F.col("lang") == DSIR_TARGET_LANG).cast("long")
    counts = toks.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("raw_c"), F.sum(is_tgt).alias("tgt_c")
    )
    # r16 (guide §1.2): the two corpus totals ride the weight relation
    # as a broadcast 1-row aggregate instead of an eager collect that
    # made a third pass over the staged tokens (long + int-literal sums
    # cast to double = the old float(...) literals bit-for-bit)
    tot = toks.agg(
        F.count(F.lit(1)).alias("n_raw"), F.sum(is_tgt).alias("n_tgt")
    )
    w = F.log(
        (F.col("tgt_c") + 1).cast("double")
        / (F.col("n_tgt") + F.lit(DSIR_BUCKETS)).cast("double")
    ) - F.log(
        (F.col("raw_c") + 1).cast("double")
        / (F.col("n_raw") + F.lit(DSIR_BUCKETS)).cast("double")
    )
    weights = counts.crossJoin(F.broadcast(tot)).select("bkt", w.alias("w"))
    # per-doc UNROUNDED decimal sum: exact cross-engine (decimal-sum
    # recipe), so consumers may filter/rank on w_sum directly; the rounded
    # double is applied display-side in dsir_importance_weights only
    return (
        toks.join(F.broadcast(weights), "bkt")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("w").cast("decimal(28,16)")).alias("w_sum"),
        )
    )


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR log importance ratio (see ``_dsir_doc_scores`` for the
    model construction and the scale argument)."""
    return _dsir_doc_scores(spark, sf_dir).select(
        "doc_id",
        "n_tokens",
        F.round(F.col("w_sum").cast("double"), 6).alias("log_importance"),
    )


def dsir_select_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SELECTION step of DSIR: admit documents whose MEAN PER-TOKEN
    log importance ratio clears the admission threshold τ, and report the
    per-language composition shift. (The paper resamples ∝ exp(w);
    thresholding the length-normalized score is the deterministic
    top-mass variant a pipeline can re-run byte-identically — raw w_sum
    is length-biased: long docs accumulate more of the Laplace-smoothing
    penalty, so every absolute score is negative and incomparable across
    lengths. It needs NO global sort: the admit decision is a map-side
    predicate, zero exchanges beyond the scoring core's own.) Output is
    |langs| rows: corpus vs admitted docs/tokens and exact-ratio admit
    shares — the en slice (the DSIR target) is admitted at ~1.6–1.9× the
    rate of other languages on this corpus (the hashed-BoW signal is
    real but soft at 1024 buckets). Determinism: admit iff
    w_sum > τ·n_tokens with τ an exact DECIMAL literal — a
    decimal-vs-decimal compare, no division, no double in the
    decision."""
    s = _dsir_doc_scores(spark, sf_dir)
    sel = (
        F.col("w_sum")
        > F.col("n_tokens") * F.expr(f"CAST({DSIR_ADMIT_TAU} AS DECIMAL(6,3))")
    ).cast("long")
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(sel).alias("admitted_docs"),
            F.sum(F.col("n_tokens") * sel).alias("admitted_tokens"),
        )
        .withColumn(
            "admit_doc_share", _ratio6(F.col("admitted_docs"), F.col("n_docs"))
        )
        .withColumn(
            "admit_token_share",
            _ratio6(F.col("admitted_tokens"), F.col("n_tokens")),
        )
    )


# --- PMI collocations (corpus-level phrase discovery) ------------------------
PMI_MIN_PAIR = 5  # min bigram count for a collocation candidate
PMI_TOPK = 50


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information bigram collocations — the corpus
    phrase-discovery pass (tokenizer vocab curation, stop-phrase lists,
    domain-term extraction) run before/alongside BPE training.

    PMI = ln(p(ab) / (p(a)p(b))) = ln(c_ab) + 2·ln(N) − ln(M) − ln(c_a)
    − ln(c_b): computed as a SUM of logs of individual int64 counts —
    never as ln of an int64 product. (The product form c_ab·N² wraps
    silently past 2^63 in non-ANSI Spark while DuckDB raises, i.e. the
    engines diverge exactly at large corpus scale; each individual count
    stays exact in a double up to 2^53 ≈ 9·10^15 tokens, comfortably past
    100 TB of text.) Every ln input is an integer-valued double, so both
    engines feed libm bit-identical arguments; the sum is the same
    left-associative IEEE chain on both sides, and ROUND(6) is
    display-only per the corpus determinism recipe — the top-k ORDER is
    by integer count + token text, never by the float. Scale shape: adjacent-pair explode is
    map-side (transform over the token array, no self-join); the bigram
    aggregation is the one real exchange (map-side combinable, output
    bounded by distinct adjacent pairs); unigram counts broadcast; the
    two corpus totals ride the plan as a broadcast 1-row aggregate (r16:
    was an eager collect). Rare pairs are cut at ``PMI_MIN_PAIR``
    BEFORE the unigram join, so the join input is the frequent tail."""
    docs = load(spark, sf_dir, "documents")
    toks = _toks()
    bigrams = F.expr(
        "transform(sequence(1, size(t) - 1), "
        "i -> struct(element_at(t, i) as w1, element_at(t, i + 1) as w2))"
    )
    pairs = (
        docs.select(toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select(F.explode(bigrams).alias("bg"))
        .select("bg.w1", "bg.w2")
    )
    pair_counts = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_PAIR)
    )
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # r16 (guide §1.2): the (N, M) totals ride the top-k plan as a
    # broadcast 1-row aggregate instead of an eager collect that
    # serialized a doc-scan job before the scoring job (JVM Math.log of
    # the identical cast double = the folded literal ln bit-for-bit)
    totals = docs.select(toks.alias("t")).agg(
        F.sum(F.size("t")).alias("n_tokens"),
        F.sum(F.greatest(F.size("t") - 1, F.lit(0))).alias("n_bigrams"),
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    scored = (
        pair_counts.join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            F.round(
                F.log(F.col("c_ab").cast("double"))
                + F.lit(2.0) * F.log(F.col("n_tokens").cast("double"))
                - F.log(F.col("n_bigrams").cast("double"))
                - F.log(F.col("c_a").cast("double"))
                - F.log(F.col("c_b").cast("double")),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("c_ab").desc(), F.col("w1"), F.col("w2")
    ).limit(PMI_TOPK)


# --- first BPE merge table ---------------------------------------------------
BPE_TOPK = 50


def bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: corpus-wide adjacent
    CHARACTER-pair frequencies within words (Sennrich et al. 2016 start
    from a character vocabulary; the highest-count pair becomes merge #1).
    This is the table the first merge is argmax'd from — and iterations
    2..N repeat the identical plan over progressively merged symbols, so
    this entry is the per-iteration cost model for distributed BPE
    training. Shape: word extraction and the in-row pair explode are
    map-side (transform over split('') — no self-join); ONE
    map-side-combinable agg bounded by |alphabet|² pairs; top-k orders by
    integer count with pair-text tiebreak (TakeOrderedAndProject, never a
    global sort). Counts only — bit-portable."""
    docs = load(spark, sf_dir, "documents")
    words = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(r"[a-z0-9]+"), 0
    )
    pair_expr = F.expr(
        "transform(sequence(1, length(w) - 1), "
        "i -> struct(substring(w, i, 1) as c1, substring(w, i + 1, 1) as c2))"
    )
    pairs = (
        docs.select(F.explode(words).alias("w"))
        .filter(F.length("w") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.c1", "p.c2")
    )
    return (
        pairs.groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("c1"), F.col("c2"))
        .limit(BPE_TOPK)
    )


# --- BPE tokenizer application (fixed merge artifact) ------------------------
# The frozen tokenizer artifact: the first 8 merges learned by running the
# standard BPE trainer (count adjacent symbol pairs over word frequencies,
# merge the argmax, repeat) over this corpus's [a-z] word stream —
# `bpe_first_merges` is iteration 1 of exactly that loop. Merge 6
# ('m','er') composes a previously-merged symbol, so application order is
# load-bearing, as in a real tokenizer. Production never re-trains per
# query: the merge table is a release artifact, applied everywhere.
BPE_MERGES = (
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"),
)

# The production-depth artifact: bpe_train_merges_deep's own sf0.01
# output (64 merges) — test-pinned to the trainer
# exactly like BPE_MERGES. Contains NO a==b merge (asserted in tests),
# so the two-pass-replace encoder device is exact for it.
BPE_MERGES_64 = (
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"),
    ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"),
    ("co", "lu"), ("colu", "m"), ("colum", "n"), ("cu", "st"),
    ("cust", "o"), ("custo", "mer"), ("f", "i"), ("fi", "l"),
    ("fil", "t"), ("filt", "er"), ("a", "l"), ("al", "l"),
    ("m", "all"), ("s", "mall"), ("g", "e"), ("l", "ow"),
    ("mer", "ge"), ("s", "low"), ("c", "t"), ("ct", "or"),
    ("d", "er"), ("e", "ctor"), ("or", "der"), ("v", "ector"),
    ("in", "e"), ("l", "ine"), ("a", "b"), ("ab", "l"),
    ("abl", "e"), ("at", "a"), ("d", "ata"), ("t", "able"),
    ("u", "p"), ("a", "g"), ("ag", "g"), ("a", "lu"),
    ("alu", "e"), ("v", "alue"), ("e", "y"), ("k", "ey"),
)


def bpe_encode_fixed_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — apply the frozen 8-merge tokenizer artifact to every
    document and report the per-doc token accounting (chars, whitespace
    words, BPE symbols, exact chars-per-token ratio). This is the
    tokenize step every training-data pipeline runs corpus-wide before
    packing; `token_stats`'s BPE-token ESTIMATE calibrates against this
    exact count.

    Mechanics: each word is exploded to spaced symbols ('h e l l o'),
    then each merge (a,b) rewrites ' a b '→' ab ' as TWO left-to-right
    non-overlapping replace passes in priority order (two passes close
    the boundary-sharing case — in ' e r e r ' the first pass's match
    consumes the middle space, hiding the second occurrence; the
    restored delimiters expose it to pass two). String `replace` scans
    identically in Spark and DuckDB, so the encoding is bit-identical
    cross-engine; all outputs are integers plus one exact `_ratio6`.

    Scale (r16): the replace chain runs once per DISTINCT word type
    (Heaps-sublinear dictionary; see `_bpe_encode_report`), never per
    occurrence; totals attach via a broadcast type join + one doc-keyed
    combinable sum. The merge table rides in the expression tree as
    literals (a real 30k-merge vocab would move to a broadcast trie
    inside an Arrow-batched `mapInPandas` over the same type table)."""
    return _bpe_encode_report(spark, sf_dir, BPE_MERGES)


def bpe_encode_merges64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding under the PRODUCTION-DEPTH frozen artifact
    (``BPE_MERGES_64`` — the 64-round trainer's own sf0.01
    output): same two-pass-replace device, 64 merges in priority order
    (exact: the artifact contains no a==b merge), pinned against the
    symbol-level Python greedy reference in tests. Re-certifies the
    encoder at real tokenizer depth (r12 verdict task 3); the 128-pass
    replace chain runs once per distinct word type (r16 — see
    `_bpe_encode_report`), not per occurrence."""
    return _bpe_encode_report(spark, sf_dir, BPE_MERGES_64)


def _bpe_sym(w, merges: tuple):
    """The spaced symbol string after applying ``merges`` in priority
    order to one word — the shared encode kernel (counting consumers
    split it; the round-trip consumer strips the spaces back off)."""
    s = F.concat(F.lit(" "), F.regexp_replace(w, "(.)", "$1 "))
    for a, b in merges:
        pat, rep = F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
        s = F.replace(F.replace(s, pat, rep), pat, rep)
    return s


def _bpe_encode_report(
    spark: SparkSession, sf_dir: str, merges: tuple
) -> DataFrame:
    """Per-doc encode accounting via the TYPE-DICTIONARY device (r16,
    guide §1.2/§8 "decide with small rows"): the 2·|merges| replace
    chain used to run per word OCCURRENCE inside an interpreted
    `transform` lambda; a tokenizer's encode of a word depends only on
    the word, so the chain now runs once per DISTINCT TYPE (Heaps-
    sublinear in corpus size — the wordpiece-trainer stance, and the
    `tokenizer_fertility_compare` broadcast-type-table precedent) and
    per-doc totals attach by broadcast join + doc-keyed sum. Identical
    integers (Σ over occurrences of a per-word function = Σ over types
    weighted by occurrence — the join carries each occurrence);
    measured bit-equal on all sf0.1 docs and 2.09 → 1.33 s interleaved
    same-session. Zero-word docs keep their row via the left join
    (n_bpe_tokens = 0, as the old in-row fold produced).

    Broadcast domain (r17, re-certifying the r16-ADVICE concern): this
    BROADCAST-JOIN shape was scale-smoked at 1×/10×/100× docs (500 K
    docs — plans/r17/bpe_type_broadcast_scale_smoke.json: ≤ linear wall,
    16.96 s at 100×), superseding the r14 smoke that certified the old
    map-only shape. The explicit hint is correct while the Heaps-law
    type table stays broadcast-sized (a few hundred MB — guide §3.1);
    a corpus whose distinct-type table approaches the 8 GB / 512 M-row
    broadcast cap must drop the hint and take the keyed join, paying
    one re-key of the occurrence stream."""
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", " ")
    words = F.filter(F.split(norm, " "), lambda w: w != F.lit(""))
    base = docs.select("doc_id", "lang", words.alias("ws"))
    tok = base.select("doc_id", F.explode("ws").alias("w"))
    per_type = tok.select("w").distinct().select(
        "w",
        F.size(F.split(F.trim(_bpe_sym(F.col("w"), merges)), " "))
        .cast("long")
        .alias("n_sym"),
    )
    per_doc = (
        tok.join(F.broadcast(per_type), "w")
        .groupBy("doc_id")
        .agg(F.sum("n_sym").alias("_n_bpe"))
    )
    n_az = F.aggregate(
        F.transform(F.col("ws"), F.length),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        base.select(
            "doc_id",
            "lang",
            F.size("ws").alias("n_words"),
            n_az.alias("n_az_chars"),
        )
        .join(per_doc, "doc_id", "left")
        .withColumn(
            "n_bpe_tokens", F.coalesce(F.col("_n_bpe"), F.lit(0).cast("long"))
        )
        .drop("_n_bpe")
        .withColumn(
            "chars_per_token",
            _ratio6(F.col("n_az_chars"), F.col("n_bpe_tokens")),
        )
    )


def bpe_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESSNESS certification of the production-depth tokenizer: BPE
    is reversible by construction (merges only ever concatenate adjacent
    symbols of the SAME word), so decode — strip the symbol delimiters —
    must reproduce every normalized word exactly. This entry runs
    encode→decode over every word of every document under the frozen
    64-merge artifact and reports the per-doc round-trip accounting; a
    single lost character anywhere (an overlapping replace, a merge pair
    colliding with the delimiter, a multi-byte boundary bug) breaks the
    equality for that word and the count drops below ``n_words`` —
    test-pinned at exactly n_words for the whole corpus. Real tokenizer
    releases ship exactly this check (detokenize(tokenize(x)) == x).

    Scale: the same type-dictionary machinery as the encode report
    (r16 — the encode→decode→compare chain runs once per distinct word
    type, totals attach by broadcast type join + doc-keyed sum),
    integers out."""
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", " ")
    words = F.filter(F.split(norm, " "), lambda w: w != F.lit(""))
    # r16: encode→decode→compare depends only on the word, so it runs
    # once per distinct TYPE (the _bpe_encode_report type-dictionary
    # device) instead of per occurrence; per-doc ok-counts attach by
    # broadcast join + doc-keyed sum — identical integers, and the
    # 2·|merges| replace chain leaves the occurrence stream entirely
    base = docs.select("doc_id", words.alias("ws"))
    tok = base.select("doc_id", F.explode("ws").alias("w"))
    decoded = F.replace(
        F.trim(_bpe_sym(F.col("w"), BPE_MERGES_64)), F.lit(" "), F.lit("")
    )
    per_type = tok.select("w").distinct().select(
        "w", (decoded == F.col("w")).cast("long").alias("ok")
    )
    per_doc = (
        tok.join(F.broadcast(per_type), "w")
        .groupBy("doc_id")
        .agg(F.sum("ok").alias("_ok"))
    )
    return (
        base.select("doc_id", F.size("ws").alias("n_words"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce(F.col("_ok"), F.lit(0).cast("long")).alias(
                "n_roundtrip_ok"
            ),
        )
    )


def bpe_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language under the frozen 64-merge
    artifact — tokens-per-word, the metric every multilingual tokenizer
    release publishes (Ács 2019; the mBERT fertility tables): a language
    whose fertility runs high fragments into more subwords per word,
    burns more of every context window, and effectively trains on less
    text. This is the corpus-level certification the per-doc
    :func:`bpe_encode_merges64` report rolls up to before a vocab is
    frozen; chars-per-token rides along as the compression view of the
    same encode. Exact: both ratios are the `_ratio6` integer-division
    device over exact long sums — no float accumulates anywhere.

    Scale: the encode is the per-doc report's type-dictionary device
    (r16 — the replace chain runs once per distinct word type); the
    rollup is one map-side-combinable agg to ≤ |langs| rows (the
    10 M-row encode throughput itself is certified by the scale smoke —
    SCALE.md r14)."""
    per_doc = _bpe_encode_report(spark, sf_dir, BPE_MERGES_64)
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_az_chars").cast("long").alias("n_az_chars"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .withColumn(
            "fertility", _ratio6(F.col("n_bpe_tokens"), F.col("n_words"))
        )
        .withColumn(
            "chars_per_token",
            _ratio6(F.col("n_az_chars"), F.col("n_bpe_tokens")),
        )
    )


# --- log2-bucketed length distribution ---------------------------------------
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length distribution per language — the
    length-profile chart every corpus release publishes (truncation
    cliffs, boilerplate spikes, and tokenizer-context planning all read
    off it). The bucket is ``length(bin(n_chars))`` = ⌊log2 n⌋+1 —
    pure integer/string machinery, identical on both engines, with none
    of the floor(log2(double)) boundary risk at exact powers of two.
    One scan, one map-side-combinable agg to ≤ |langs|·64 rows."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.length(F.bin(F.greatest(F.col("n_chars"), F.lit(1))))
    return (
        docs.select("lang", bucket.alias("log2_bucket"), "n_chars")
        .groupBy("lang", "log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# --- vocabulary OOV coverage -------------------------------------------------
VOCAB_K = 20  # fixed vocabulary size (the corpus has 31 types — see below)


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language under a fixed top-`VOCAB_K`
    frequency vocabulary — the coverage table a tokenizer release ships
    (and the first thing checked when a new language or domain joins the
    mix: a high OOV slice will fragment into byte-fallback tokens and
    blow up its effective sequence length). The generator's corpus
    vocabulary is only 31 types (measured, all SFs), so `VOCAB_K` = 20
    keeps the rate non-degenerate: a real deployment sets 30k-100k
    against a Heaps-law type inventory — same plan. Vocabulary selection
    is deterministic: ORDER BY count DESC, token ASC, LIMIT — identical
    boundary ties on both engines; the OOV flag is a null-check, so no
    numeric enters any decision.

    Scale shape: the token explode is staged and consumed twice (vocab
    build + scoring); the vocab build is one map-side-combinable agg into
    TakeOrderedAndProject (per-partition heap, never a global sort); the
    k-row vocabulary broadcasts into a LEFT join on the token stream; the
    report is a |langs|-group combinable agg."""
    docs = load(spark, sf_dir, "documents")
    toks = stage(docs.select("lang", F.explode(_toks()).alias("t")))
    vocab = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(VOCAB_K)
        .select("t", F.lit(1).alias("in_v"))
    )
    scored = toks.join(F.broadcast(vocab), "t", "left")
    oov = F.col("in_v").isNull().cast("long")
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov).alias("n_oov"),
        )
        .withColumn("oov_rate", _ratio6(F.col("n_oov"), F.col("n_tokens")))
    )


VOCAB_CURVE_SIZES = (5, 10, 20)  # must bite on the 31-type corpus vocab


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vocab-size SELECTION CURVE: corpus OOV rate at several
    candidate vocabulary sizes — the frontier a tokenizer design reads
    before fixing |V| (`vocab_oov_rate` evaluates ONE released vocab per
    language; this picks the vocab size). One ranked-vocabulary build
    serves every candidate size: rank tokens once by (count DESC, token),
    then OOV at size s is just rank > s — so the curve costs one extra
    bounded join column, not |sizes| vocabulary builds.

    Scale: staged token explode → one combinable count agg. Ranking is
    the r13-verdict de-skew: only the top-``max(sizes)`` HEAD can matter
    (a token outside the head is OOV at EVERY candidate size, since
    every size ≤ max(sizes)), so the head is selected with
    ``orderBy().limit()`` — TakeOrderedAndProject, a per-partition heap
    merged at the driver, NEVER a vocabulary-wide sort — and row_number
    runs over that BOUNDED max(sizes)-row relation only (the former
    form's ``Window.orderBy`` ranked the full type vocabulary on a
    single partition: 10⁸-10⁹ rows at web scale). The scoring join
    broadcasts the head LEFT; a null rank means beyond-head = OOV
    everywhere; per-size flags are integer rank compares."""
    docs = load(spark, sf_dir, "documents")
    toks = stage(docs.select(F.explode(_toks()).alias("t")))
    kmax = max(VOCAB_CURVE_SIZES)
    head = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(kmax)
    )
    w = Window.orderBy(F.desc("c"), F.asc("t"))  # over ≤ kmax rows
    ranked = head.withColumn("rnk", F.row_number().over(w))
    scored = toks.join(F.broadcast(ranked.select("t", "rnk")), "t", "left")
    # ONE corpus pass computes every size's OOV sum; the curve rows then
    # explode from the single aggregate row
    oov_at = lambda s: F.col("rnk").isNull() | (F.col("rnk") > s)  # noqa: E731
    wide = scored.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        *[
            F.sum(oov_at(s).cast("long")).alias(f"oov_{s}")
            for s in VOCAB_CURVE_SIZES
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(s).alias("vocab_size"),
                F.col("n_tokens").alias("n_tokens"),
                F.col(f"oov_{s}").alias("n_oov"),
            )
            for s in VOCAB_CURVE_SIZES
        ]
    )
    return (
        wide.select(F.explode(rows).alias("r"))
        .select("r.vocab_size", "r.n_tokens", "r.n_oov")
        .withColumn("oov_rate", _ratio6(F.col("n_oov"), F.col("n_tokens")))
    )


NEG_SAMPLE_TOPK = 50


def negative_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style NEGATIVE-SAMPLING distribution: tokens drawn
    ∝ count^{3/4} (Mikolov et al. 2013 — the exponent that up-weights the
    mid-frequency band against stopword dominance). Emits the top-k table
    with raw counts, the damped weight, and the normalized sampling
    share; the 3/4 power is computed as sqrt(c)·sqrt(sqrt(c)) — two IEEE
    sqrts and one multiply, every step CORRECTLY ROUNDED, so the weight
    is the identical double on both engines with no libm pow anywhere
    (the `domain_temperature_reweight` α=1/2 trick, composed once more).
    Normalization sums weights over the FULL vocabulary through
    DECIMAL(28,16).

    Scale: one combinable token agg to the vocabulary relation; the
    weight sum is a bounded vocabulary-wide agg; top-k by integer counts
    is TakeOrderedAndProject."""
    docs = load(spark, sf_dir, "documents")
    c = F.col("c").cast("double")
    vocab = stage(
        docs.select(F.explode(_toks()).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "w_dec", (F.sqrt(c) * F.sqrt(F.sqrt(c))).cast("decimal(28,16)")
        )
    )
    tot = vocab.agg(F.sum("w_dec").alias("w_sum"))
    return (
        vocab.crossJoin(F.broadcast(tot))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(NEG_SAMPLE_TOPK)
        .select(
            "t",
            "c",
            F.round(F.col("w_dec").cast("double"), 6).alias("weight"),
            F.round(
                F.col("w_dec").cast("double") / F.col("w_sum").cast("double"), 6
            ).alias("sample_share"),
        )
    )


# --- RAG-style token chunking ------------------------------------------------
CHUNK_TOKENS = 32  # tokens per chunk (sized to this corpus's ~54-token docs)
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


def doc_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping TOKEN-WINDOW chunking — the retrieval-ingestion step
    that splits documents into embedder-sized pieces with overlap so no
    answer span straddles a hard boundary (every RAG indexer runs this
    before `multimodal_embed`'s batch-encode shape; the text twin of
    `multimodal_audio_chunks`' byte windows). Output: one row per chunk
    with exact token offsets — the chunk table a vector store indexes.

    Scale: chunk starts explode in-row from ``sequence(0, n−1, stride)``
    — no join, no shuffle at all (plan-shape: a generator over the scan);
    the arithmetic is pure integers."""
    docs = load(spark, sf_dir, "documents")
    n = F.size(_toks())
    base = docs.select("doc_id", "lang", n.alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    return (
        base.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("n_tokens") - 1, F.lit(CHUNK_STRIDE)
                )
            ).alias("start_tok"),
        )
        .withColumn("chunk_idx", (F.col("start_tok") / CHUNK_STRIDE).cast("int"))
        .withColumn(
            "end_tok",
            F.least(F.col("start_tok") + CHUNK_TOKENS, F.col("n_tokens")),
        )
        .withColumn(
            "is_last",
            (F.col("start_tok") + CHUNK_STRIDE >= F.col("n_tokens")).cast("int"),
        )
        .select(
            "doc_id", "lang", "chunk_idx", "start_tok", "end_tok", "is_last"
        )
    )


def quality_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-FILTER agreement for the quality layer — the counterpart of
    `dedup_method_agreement` for keep/drop rules: the heuristic composite
    (`text_quality`'s quality_ok) crossed with the canonical Gopher rule
    set (`gopher_quality_rules`' gopher_ok), with doc/token counts per
    cell. The 2×2 a curation review reads before choosing its filter
    stack: the off-diagonal cells are exactly the docs where the two
    filter families disagree. One doc-keyed join of two per-doc flag
    tables (each a single scan), four output rows."""
    q = text_quality(spark, sf_dir).select("doc_id", "quality_ok")
    g = gopher_quality_rules(spark, sf_dir).select(
        "doc_id", "n_tokens", "gopher_ok"
    )
    return (
        q.join(g, "doc_id")
        .groupBy("quality_ok", "gopher_ok")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


# --- robust length outliers (median / MAD) -----------------------------------
MAD_K = 5  # flag docs with |n_chars − median| > MAD_K · MAD


def doc_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language length-outlier detection — median/MAD instead
    of mean/stddev, the estimator pair that survives the very outliers it
    hunts (a handful of concatenation-bug megadocs shift a mean/σ fence
    far enough to hide themselves; the median and the median absolute
    deviation have 50% breakdown). The standard curation screen for
    truncated shards and runaway concatenations before they skew packing
    and token budgets.

    Determinism: interpolated medians of integers land on halves, so the
    table carries 2·median and 2·MAD-of-2·deviations (= 4·MAD) as exact
    BIGINTs, and the outlier predicate is the pure-integer cross-product
    2·dev_x2 > MAD_K·mad_x4 — equivalent to |x − med| > MAD_K·MAD with no
    double anywhere in the decision (the corpus predicate rule). Both
    engines interpolate percentile(0.5) as (a+b)/2 — exact in IEEE.

    Scale: two grouped EXACT percentiles over a narrow (lang, n_chars)
    projection plus one broadcast join of |langs| medians — column-pruned
    scans, map-side outlier flagging, |langs|-row output. At 100 TB the
    exact per-group percentile (which materializes each group's values)
    swaps for approx_percentile with an ε bound — the plan shape is
    unchanged; exact is kept here for oracle parity (the
    `value_percentiles` precedent)."""
    docs = load(spark, sf_dir, "documents").select("lang", "n_chars")
    med = docs.groupBy("lang").agg(
        (F.percentile("n_chars", F.lit(0.5)) * 2)
        .cast("bigint")
        .alias("med_x2")
    )
    dev = docs.join(F.broadcast(med), "lang").withColumn(
        "dev_x2", F.abs(F.col("n_chars") * 2 - F.col("med_x2"))
    )
    mad = dev.groupBy("lang").agg(
        (F.percentile("dev_x2", F.lit(0.5)) * 2)
        .cast("bigint")
        .alias("mad_x4")
    )
    return (
        dev.join(F.broadcast(mad), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("med_x2").alias("med_x2"),  # constant within the group
            F.max("mad_x4").alias("mad_x4"),
            F.sum(
                (F.col("dev_x2") * 2 > F.col("mad_x4") * MAD_K).cast("long")
            ).alias("n_outliers"),
            F.max("dev_x2").alias("max_dev_x2"),
        )
    )


# --- per-language character entropy ------------------------------------------
def lang_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-distribution entropy — the corpus-release
    encoding sanity check (mojibake, base64 blobs, and wrong-charset
    slices all shift char entropy far from a natural language's ~3
    nats). Identity: H = ln(n) − (Σ c·ln c)/n over per-(lang, char)
    counts c, so the only transcendental inputs are ln of INTEGERS —
    identical doubles on every engine — accumulated under the decimal-
    sum recipe; ln(n) and the final division are single IEEE ops on
    identical operands. Char explode is one corpus pass whose
    aggregation map-side-combines to ≤ |langs|·|alphabet| rows; the
    entropy fold then runs on that bounded table. Display round 6."""
    docs = load(spark, sf_dir, "documents")
    chars = docs.select(
        "lang", F.explode(F.split(F.lower(F.col("text")), "")).alias("ch")
    ).filter(F.col("ch") != "")
    per_char = chars.groupBy("lang", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_char.groupBy("lang").agg(
        F.sum("c").alias("n_chars_total"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(
                (F.col("c") * F.log(F.col("c").cast("double"))).cast(
                    "decimal(28,16)"
                )
            ).cast("double")
            / F.sum("c"),
            6,
        ).alias("entropy_nats"),
    )


# --- per-source quality triage ----------------------------------------------
def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality triage: for each crawl/source the doc count,
    how many pass the :func:`text_quality` composite (same integer
    cross-product rules — consistent by construction, not by matching
    round-off), char volume, and the exact-rounded pass rate. This is
    the table a curation run reads FIRST: a source with a collapsed pass
    rate gets dropped wholesale before any per-doc work is spent on it.
    One scan, one |sources|-group agg; the rate uses the `_ratio6` exact
    integer rounding, so every column is bit-portable."""
    docs = load(spark, sf_dir, "documents")
    toks = _toks()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, _in_list(STOPWORDS_EN)))
    n_punct = F.length(F.regexp_replace("text", r"[^.!?,;:]", ""))
    ok = (
        (n_tokens >= 10)
        & (n_stop * 20 >= n_tokens)
        & (n_punct * 5 <= F.length("text"))
    ).cast("long")
    agg = docs.select("source", "n_chars", ok.alias("ok")).groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ok").alias("n_quality_ok"),
        F.sum("n_chars").alias("total_chars"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_quality_ok",
        "total_chars",
        _ratio6(F.col("n_quality_ok"), F.col("n_docs")).alias("ok_rate"),
    )


# --- language-ID confusion matrix --------------------------------------------
def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword language classifier vs the
    labeled lang column — the router-quality report a multilingual
    pipeline publishes when lang-ID gates the per-language branches.
    One scan + one tiny agg (|langs|² cells); counts only, so the
    output is bit-portable."""
    pred = lang_id(spark, sf_dir)
    return pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("lang_match").cast("bigint").alias("n_correct"),
    )


# --- Gopher quality rules (Rae et al. 2021, MassiveText, Appendix A) --------
# The canonical document-level rule set, adapted to this corpus's token
# granularity (the paper states some repetition thresholds over character
# fractions; we use the token-level twins computed by
# doc_repetition_stats, thresholds noted per rule below). Every rule is an
# INTEGER cross-product predicate — no double ever enters a keep decision,
# so the flags are bit-identical on any engine (the r7 driver-red lesson).
# Gopher's required English function words (Rae et al. App. A) plus the
# indefinite article: the synthetic corpus's 31-word vocabulary contains
# only 'the' and 'a' of the English function words, so without 'a' the
# ≥2-distinct rule would be degenerate-false on every document here (the
# canonical eight stay in the list — on real English text they dominate).
GOPHER_REQUIRED_WORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with", "a",
)
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000


def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher/MassiveText quality-rule flags + composite keep.

    Rules (Rae et al. 2021 App. A, token-level adaptation):
      * ``wc_ok``          — word count in [50, 100 000];
      * ``wordlen_ok``     — mean word length in [3, 10] chars
                             (``3·n_tokens ≤ nonspace_chars ≤ 10·n_tokens``);
      * ``symbol_ok``      — symbol-to-word ratio (# and …) ≤ 0.1;
      * ``alpha_ok``       — ≥ 80 % of words contain an alphabetic char;
      * ``stopword_ok``    — ≥ 2 distinct of the 8 required stopwords;
      * ``rep_bigram_ok``  — top-bigram token fraction ≤ 0.20;
      * ``rep_trigram_ok`` — duplicate-trigram token fraction ≤ 0.30;
      * ``gopher_ok``      — AND of all seven.

    Scale shape (r13): EVERY stat — including both repetition inputs —
    is a map-side in-row expression on the scan (whole-stage codegen,
    zero shuffles, zero joins): a doc's n-grams live in its own token
    array, so distinct-trigram count is ``array_distinct`` and the
    top-bigram count is the max run length of the sorted bigram array
    (one ``aggregate`` fold) — see :func:`doc_repetition_stats`. The
    previous shape paid two corpus-token-scale (doc_id, ngram)
    exchanges plus three joins for what is a per-row computation; at
    100 TB those exchanges were the whole cost of this filter. The only
    exchange left is :func:`spread`'s guarded round-robin, a no-op
    whenever the scan already yields >= defaultParallelism splits."""
    docs = spread(spark, load(spark, sf_dir, "documents"))
    base = docs.select("doc_id", "text", _toks().alias("ts"))
    n_tokens = F.size("ts")
    n_nonspace = F.length(F.regexp_replace("text", r"\s+", ""))
    n_hash = F.length(F.regexp_replace("text", r"[^#]", ""))
    # each non-overlapping literal '...' removes 3 chars; exact int count
    n_ellipsis = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / F.lit(3)
    n_alpha = F.size(F.filter(F.col("ts"), lambda t: t.rlike("[a-z]")))
    req = ", ".join(f"'{w}'" for w in GOPHER_REQUIRED_WORDS)
    n_required = F.expr(
        f"size(filter(array({req}), w -> array_contains(ts, w)))"
    )
    # repetition counts IN-ROW, same device as doc_repetition_stats;
    # docs with < 3 tokens carry NULL (no n-grams) and the rules below
    # vacuously pass for them — identical to the old explode/groupBy
    # shape where such docs simply had no joined row.
    lt3 = F.size("ts") < 3
    tri = _ngram_arr(3)
    joined = base.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_nonspace.alias("n_nonspace"),
        (n_hash + n_ellipsis.cast("bigint")).alias("n_sym"),
        n_alpha.alias("n_alpha"),
        n_required.alias("n_required"),
        F.when(lt3, F.lit(None)).otherwise(F.size(tri)).alias("n_tri"),
        F.when(lt3, F.lit(None))
        .otherwise(F.size(F.array_distinct(tri)))
        .alias("d_tri"),
        F.when(lt3, F.lit(None))
        .otherwise(F.expr(_TOP_RUN.format(arr=_ngram_sql(2))))
        .alias("top_bi"),
        F.when(lt3, F.lit(None))
        .otherwise(F.size(_ngram_arr(2)))
        .alias("n_bi"),
    )
    wc_ok = (F.col("n_tokens") >= GOPHER_MIN_WORDS) & (
        F.col("n_tokens") <= GOPHER_MAX_WORDS
    )
    wordlen_ok = (F.col("n_nonspace") >= 3 * F.col("n_tokens")) & (
        F.col("n_nonspace") <= 10 * F.col("n_tokens")
    )
    symbol_ok = F.col("n_sym") * 10 <= F.col("n_tokens")
    alpha_ok = F.col("n_alpha") * 5 >= F.col("n_tokens") * 4
    stopword_ok = F.col("n_required") >= 2
    # docs with < 3 tokens have no n-grams: repetition rules vacuously pass
    rep_tri_ok = F.coalesce(
        (F.col("n_tri") - F.col("d_tri")) * 10 <= 3 * F.col("n_tri"),
        F.lit(True),
    )
    rep_bi_ok = F.coalesce(
        F.col("top_bi") * 5 <= F.col("n_bi"), F.lit(True)
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        wc_ok.cast("int").alias("wc_ok"),
        wordlen_ok.cast("int").alias("wordlen_ok"),
        symbol_ok.cast("int").alias("symbol_ok"),
        alpha_ok.cast("int").alias("alpha_ok"),
        stopword_ok.cast("int").alias("stopword_ok"),
        rep_bi_ok.cast("int").alias("rep_bigram_ok"),
        rep_tri_ok.cast("int").alias("rep_trigram_ok"),
        (
            wc_ok & wordlen_ok & symbol_ok & alpha_ok & stopword_ok
            & rep_bi_ok & rep_tri_ok
        ).cast("int").alias("gopher_ok"),
    )


# --- bigram LM scoring (CCNet-style LM filter, one order up from unigram) ---
def _bigram_pairs(docs: DataFrame) -> DataFrame:
    """Staged per-doc adjacent token pairs — the shared explode both
    bigram LMs (Laplace and Kneser-Ney) build their count tables and
    scoring joins on. In-row transform, no join; staged because every
    consumer reads it 3-5 times."""
    base = docs.select("doc_id", _toks().alias("ts")).filter(F.size("ts") >= 2)
    return stage(
        base.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1), i -> named_struct("
                    "'a', element_at(ts, i), 'b', element_at(ts, i + 1)))"
                )
            ).alias("p"),
        ).select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )


def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document by the mean negative log-probability of its
    token bigrams under a Laplace-smoothed bigram LM trained on the corpus
    itself — the next step up from :func:`unigram_logprob_score` toward the
    CCNet/KenLM perplexity filter (Wenzek et al. 2020): repetitive
    boilerplate scores LOW (predictable transitions), shuffled/noisy text
    scores HIGH, and the unigram scorer can't tell them apart.

    p(b|a) = (c(a,b) + 1) / (c(a·) + V),  V = corpus vocabulary size.

    Scale shape: one bigram explode (in-row transform, no join), staged
    and consumed twice — once into the two count tables (map-side
    combinable), once into the scoring join. The bigram dictionary is
    vocabulary-bounded (≤ V², empirically ~Heaps-linear in corpus size),
    joined BY KEY — a keyed shuffle of (a, b, count) rows, never text;
    the unigram context table is broadcast. Per-doc reduction follows the
    proven decimal-fold determinism recipe (DECIMAL(28,16) sum, round 6).
    """
    docs = load(spark, sf_dir, "documents")
    pairs = _bigram_pairs(docs)
    cab = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    ca = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("c_a"))
    # r16 (guide §1.2): V rides the scoring plan as a broadcast 1-row
    # aggregate instead of an eager driver collect that serialized a
    # full token-explode pass before the scoring job could start
    # (long + long = the old long + int-literal sum, value-identical)
    vv = (
        docs.select(F.explode(_toks()).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    neg_lp = -F.log(
        (F.col("c_ab") + 1).cast("double") / (F.col("c_a") + F.col("v"))
    )
    scored = (
        pairs.join(cab, ["a", "b"])
        .join(F.broadcast(ca), "a")
        .crossJoin(F.broadcast(vv))
        .select("doc_id", neg_lp.alias("nlp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum(F.col("nlp").cast("decimal(28,16)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_neg_logprob"),
    )


# --- Kneser-Ney bigram LM scoring --------------------------------------------
KN_DISCOUNT = 0.75  # absolute discount D — 3/4, exact in binary


def kneser_ney_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document under an interpolated Kneser-Ney bigram LM —
    the smoothing KenLM actually ships (Kneser & Ney 1995; Chen & Goodman
    1999), one fidelity step past the Laplace twin: instead of a uniform
    +1 prior, mass discounted from seen bigrams backs off to the
    CONTINUATION unigram p_cont(b) = N1+(·b)/N1+(··) — "how many contexts
    does b follow" — which correctly downweights tokens that are frequent
    only inside one collocation (the 'francisco' effect).

        p(b|a) = max(c(a,b) − D, 0)/c(a·) + (D·N1+(a·)/c(a·))·p_cont(b)

    Scale shape: identical to `bigram_logprob_score` — the shared staged
    pair explode feeds three map-side-combinable count tables (c_ab
    keyed; (c_a, N1+(a·)) fused into one vocabulary-bounded broadcast —
    same groupBy key; N1+(·b) broadcast; N1+(··) a broadcast 1-row
    aggregate riding the plan, r16: was an eager scalar collect) and one
    keyed scoring join; per-doc reduction is the decimal-fold recipe.
    Determinism: D and every count are exact; the probability is a fixed
    tree of IEEE ops over identical doubles, and ln rides the
    parity-probed recipe."""
    docs = load(spark, sf_dir, "documents")
    pairs = _bigram_pairs(docs)
    cab = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    # r16 (guide §1.2/§2.4): c(a·) and N1+(a·) are the SAME groupBy(a)
    # over the staged pairs — one aggregation and one broadcast join
    # instead of two of each (values unchanged); N1+(··) rides the plan
    # as a broadcast 1-row aggregate instead of an eager scalar collect
    # (count → double cast = the old float(t) literal bit-for-bit)
    ca_n1a = pairs.groupBy("a").agg(
        F.count(F.lit(1)).alias("c_a"),
        F.countDistinct("b").alias("n1a"),
    )
    n1b = pairs.groupBy("b").agg(F.countDistinct("a").alias("n1b"))
    tt = cab.agg(F.count(F.lit(1)).cast("long").alias("t"))
    d = F.lit(KN_DISCOUNT)
    p = (
        F.greatest(F.col("c_ab").cast("double") - d, F.lit(0.0))
        / F.col("c_a").cast("double")
        + ((d * F.col("n1a").cast("double")) / F.col("c_a").cast("double"))
        * (F.col("n1b").cast("double") / F.col("t").cast("double"))
    )
    scored = (
        pairs.join(cab, ["a", "b"])
        .join(F.broadcast(ca_n1a), "a")
        .join(F.broadcast(n1b), "b")
        .crossJoin(F.broadcast(tt))
        .select("doc_id", (-F.log(p)).alias("nlp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum(F.col("nlp").cast("decimal(28,16)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_neg_logprob"),
    )


# --- exact distributed order statistics (the CCNet cutpoint device) ----------
CCNET_CP_COLLECT_MAX = 4096  # ≤ this many in-interval rows → collect the
# distinct-value tail directly (bounded driver artifact, the kmeans-
# centroid precedent); tests shrink it to force the histogram path
CCNET_CP_HIST_BUCKETS = 1024  # histogram resolution per refinement level
_CP_MAX_LEVELS = 200  # loud failure far above the geometric worst case


def _cp_bucket(val: str, lo: float, width: float, g: int):
    """Histogram bucket of ``val`` over [lo, lo+g·width): a fixed float
    expression — subtract, divide, floor, clamp — every step an IEEE op
    MONOTONE in the value, so buckets always partition the value order
    even at ulp boundaries (the property the cumulative-rank walk needs);
    clamping absorbs the ±1-ulp rows that float re-derivation of a
    sub-interval's lower bound can push to index −1 or g."""
    raw = F.floor((F.col(val) - F.lit(lo)) / F.lit(width)).cast("int")
    return F.greatest(F.lit(0), F.least(raw, F.lit(g - 1)))


def _exact_rank_values(
    df: DataFrame, key: str, val: str, rank_fn, counts_out: "dict | None" = None
) -> dict:
    """Exact per-key k-th ORDER STATISTICS of a double column with NO
    key-wide sort — the r13-verdict de-skew device for
    :func:`ccnet_perplexity_buckets`: at web scale the dominant language
    is half the corpus, so ``Window.partitionBy(lang)`` makes its tercile
    a single-task sort of billions of rows. Iterative histogram
    refinement instead (the classic distributed exact-quantile): one
    bounded (key, n, min, max) stats pass; then per level ONE
    map-side-combinable histogram aggregation (``CCNET_CP_HIST_BUCKETS``
    buckets, ALL active targets batched into the single pass via a
    disjoint when-chain) locates the bucket containing each target rank —
    interval row counts shrink ×G per level, so 10¹⁰ rows resolve in two
    levels — and once a target's interval holds ≤
    ``CCNET_CP_COLLECT_MAX`` rows its distinct values collect (bounded)
    and the rank reads off the cumulative counts. Membership at every
    level is the SAME clamped floor-bucket expression that built that
    level's histogram (:func:`_cp_bucket` — monotone, so buckets
    partition the value order; never a re-derived value range, so float
    boundary rounding cannot mis-route a row between the count and the
    refinement). The k-th order statistic is a multiset VALUE — invariant
    to tie order — so no tiebreak column is needed.

    ``rank_fn(n) -> [k1, …]`` maps a key's row count to its 1-based
    target ranks; returns ``{(key_value, i): value}``. ``counts_out``
    (r16): an optional dict filled with {key_value: n} from the SAME
    stats pass, so callers that also need per-key counts (the ccnet
    cutpoint table) don't run a second identical aggregation.

    Scale: the stats pass and every histogram pass are hash-partitioned
    combinable aggs over (key, bucket) — no skewed exchange anywhere;
    driver traffic per level ≤ |targets|·G counts; the final collect is
    ≤ |targets|·COLLECT_MAX distinct values. Degenerate same-value runs
    converge geometrically (interval narrows ×G per level until the
    float bounds collapse); ``_CP_MAX_LEVELS`` turns a would-be hang
    into a loud failure."""
    g = CCNET_CP_HIST_BUCKETS
    cmax = CCNET_CP_COLLECT_MAX
    stats = df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(val).alias("lo"),
        F.max(val).alias("hi"),
    ).collect()
    targets: list[dict] = []
    for r in stats:
        n = int(r["n"])
        if counts_out is not None:
            counts_out[r[key]] = n
        for i, k in enumerate(rank_fn(n)):
            if not 1 <= k <= n:
                raise ValueError(f"rank {k} outside 1..{n} for {r[key]!r}")
            targets.append(
                dict(
                    key=r[key], idx=i, k=int(k),
                    lo=float(r["lo"]), hi=float(r["hi"]),
                    m=n, path=(),
                )
            )

    def _member(kv, path):
        e = F.col(key) == F.lit(kv)
        for plo, pwidth, pg in path:
            e = e & (_cp_bucket(val, plo, pwidth, g) == F.lit(pg))
        return e

    for _level in range(_CP_MAX_LEVELS):
        for t in targets:
            if "value" not in t and t["hi"] <= t["lo"]:
                t["value"] = t["lo"]  # interval collapsed: all rows equal
        big = [t for t in targets if "value" not in t and t["m"] > cmax]
        if not big:
            break
        # batch the level into ONE pass: group targets by (key, path) —
        # disjoint row sets by construction (each row has exactly one
        # bucket path) — and chain membership into gid/bucket whens
        groups: dict = {}
        for t in big:
            groups.setdefault((t["key"], t["path"]), []).append(t)
        gid_expr = bkt_expr = None
        specs = []
        for gid, ((kv, path), ts) in enumerate(groups.items()):
            lo, hi = ts[0]["lo"], ts[0]["hi"]
            width = (hi - lo) / g
            member = _member(kv, path)
            b = _cp_bucket(val, lo, width, g)
            gid_expr = (
                F.when(member, F.lit(gid))
                if gid_expr is None
                else gid_expr.when(member, F.lit(gid))
            )
            bkt_expr = (
                F.when(member, b) if bkt_expr is None else bkt_expr.when(member, b)
            )
            specs.append((ts, lo, hi, width))
        hist_rows = (
            df.select(gid_expr.alias("_gid"), bkt_expr.alias("_b"))
            .filter(F.col("_gid").isNotNull())
            .groupBy("_gid", "_b")
            .agg(F.count(F.lit(1)).alias("_c"))
            .collect()
        )
        hists: dict = {}
        for r in hist_rows:
            hists.setdefault(r["_gid"], {})[r["_b"]] = r["_c"]
        for gid, (ts, lo, hi, width) in enumerate(specs):
            h = hists.get(gid, {})
            for t in ts:
                cum = 0
                for gi in range(g):
                    c = h.get(gi, 0)
                    if cum + c >= t["k"]:
                        t["k"] -= cum
                        t["m"] = c
                        t["path"] = t["path"] + ((lo, width, gi),)
                        t["lo"] = lo + gi * width
                        t["hi"] = hi if gi == g - 1 else lo + (gi + 1) * width
                        break
                    cum += c
                else:
                    raise RuntimeError("histogram lost rows (rank > count)")
    else:
        raise RuntimeError(f"no convergence in {_CP_MAX_LEVELS} levels")

    rest = [t for t in targets if "value" not in t]
    if rest:
        groups = {}
        for t in rest:
            groups.setdefault((t["key"], t["path"]), []).append(t)
        gid_expr = None
        for gid, ((kv, path), ts) in enumerate(groups.items()):
            member = _member(kv, path)
            gid_expr = (
                F.when(member, F.lit(gid))
                if gid_expr is None
                else gid_expr.when(member, F.lit(gid))
            )
        rows = (
            df.select(gid_expr.alias("_gid"), F.col(val).alias("_v"))
            .filter(F.col("_gid").isNotNull())
            .groupBy("_gid", "_v")
            .agg(F.count(F.lit(1)).alias("_c"))
            .collect()
        )
        byg: dict = {}
        for r in rows:
            byg.setdefault(r["_gid"], []).append((r["_v"], r["_c"]))
        for gid, ((kv, path), ts) in enumerate(groups.items()):
            vals = sorted(byg.get(gid, []))
            for t in ts:
                cum = 0
                for v, c in vals:
                    cum += c
                    if cum >= t["k"]:
                        t["value"] = float(v)
                        break
                else:
                    raise RuntimeError("collect tail lost rows")
    return {(t["key"], t["idx"]): t["value"] for t in targets}


def _ccnet_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged (doc_id, lang, avg_neg_logprob) KN scores — shared input of
    the CCNet cutpoint/bucket entries; staging makes the multi-pass
    cutpoint refinement re-read parquet instead of re-running the KN
    scoring join per pass."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return stage(
        kneser_ney_bigram_score(spark, sf_dir)
        .join(docs, "doc_id")
        .select("doc_id", "lang", "avg_neg_logprob")
    )


def _ccnet_terciles(n: int) -> list[int]:
    """CCNet tercile boundary ranks: k1 = ceil(n/3), k2 = ceil(2n/3) —
    exactly NTILE(3)'s first- and second-bucket cumulative sizes, so the
    VALUE cutpoints agree with the NTILE twin away from boundary ties."""
    return [(n + 2) // 3, (2 * n + 2) // 3]


def _ccnet_cutpoints_df(
    spark: SparkSession, scored: DataFrame
) -> DataFrame:
    """Per-language (n_docs, c1, c2) tercile cutpoints of the KN score,
    via :func:`_exact_rank_values` — a ≤|langs|-row bounded artifact.
    Per-language counts ride the refinement's own stats pass
    (``counts_out`` — r16: was a second identical aggregation over the
    staged scores)."""
    ns: dict = {}
    cps = _exact_rank_values(
        scored, "lang", "avg_neg_logprob", _ccnet_terciles, counts_out=ns
    )
    rows = [
        (lang, ns[lang], cps[(lang, 0)], cps[(lang, 1)])
        for lang in sorted(ns)
    ]
    return local_frame(spark, rows, "lang string, n_docs long, c1 double, c2 double")


def ccnet_tercile_cutpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-language tercile CUTPOINT table itself — the artifact a
    CCNet-style release ships (the fixed LM-percentile thresholds new
    crawl snapshots are bucketed against without re-ranking anything):
    for each language, the KN scores at ranks ceil(n/3) and ceil(2n/3).
    Computed by iterative histogram refinement
    (:func:`_exact_rank_values`) — exact values, zero skewed sorts.

    Determinism: the cutpoints are order statistics of the KN entry's
    own 6-dp values (already hash-exact cross-engine), and a multiset's
    k-th value is tie-order invariant — so the oracle's window-ranked
    form lands on the identical doubles."""
    return _ccnet_cutpoints_df(spark, _ccnet_scored(spark, sf_dir))


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's defining move (Wenzek et al. 2020 §4.3): partition each
    language's corpus into HEAD / MIDDLE / TAIL terciles by language-model
    perplexity — head (most fluent third) trains as-is, middle is kept
    with caveats, tail is dropped or heavily filtered. The LM here is the
    interpolated Kneser-Ney bigram scorer this engine already certifies
    (:func:`kneser_ney_bigram_score` — KenLM's smoothing); CCNet trains
    its LM on held-out Wikipedia, which at this corpus's scale the
    in-corpus KN fit stands in for (the frozen-classifier-gate stance).
    Docs with < 2 tokens are unscoreable and excluded, as CCNet drops
    them before bucketing.

    Bucketing is by per-language tercile CUTPOINT VALUES (the r13-verdict
    de-skew, and CCNet's actual semantics — Wenzek et al. bucket against
    fixed LM-percentile cutoffs, not per-snapshot ranks): the two
    cutpoints come from :func:`_exact_rank_values` (iterative histogram
    refinement — map-side-combinable aggs only, never a per-language
    sort), broadcast as a ≤|langs|-row table, and every doc buckets
    MAP-SIDE by two double compares. Ties AT a cutpoint land in the
    lower bucket on both engines (value semantics); the former NTILE
    form — which splits boundary ties by doc_id — is kept as
    :func:`_ccnet_ntile_buckets` and agreement away from boundary ties
    is test-pinned.

    Determinism: scores are the KN entry's own 6-dp values (hash-exact
    cross-engine); cutpoints are tie-order-invariant order statistics of
    those identical doubles; the bucket decision is a double compare
    against an identical double. Per-bucket aggregates use decimal folds.

    Scale: the KN scorer's documented shape, two bounded histogram-
    refinement passes, one broadcast join, one ≤|langs|·3-group agg —
    no window over corpus rows anywhere (plan-tested)."""
    scored = _ccnet_scored(spark, sf_dir)
    cp = _ccnet_cutpoints_df(spark, scored).select("lang", "c1", "c2")
    s = F.col("avg_neg_logprob")
    bucket = (
        F.when(s <= F.col("c1"), F.lit("head"))
        .when(s <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(cp), "lang")
        .withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("avg_neg_logprob").cast("decimal(28,16)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nlp"),
            F.min("avg_neg_logprob").alias("nlp_lo"),
            F.max("avg_neg_logprob").alias("nlp_hi"),
        )
        .orderBy("lang", "bucket")
    )


def _ccnet_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 NTILE(3) form, kept as the test-scale agreement twin
    for :func:`ccnet_perplexity_buckets` (NOT a registry entry — its
    per-language rank window is exactly the skewed plan the cutpoint
    form exists to avoid; boundary ties split by doc_id here but land
    whole in the lower bucket there, so agreement holds wherever no doc
    score equals a cutpoint — test-pinned)."""
    scored = _ccnet_scored(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy("avg_neg_logprob", "doc_id")
    b = F.ntile(3).over(w)
    bucket = (
        F.when(b == 1, F.lit("head"))
        .when(b == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("avg_neg_logprob").cast("decimal(28,16)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nlp"),
            F.min("avg_neg_logprob").alias("nlp_lo"),
            F.max("avg_neg_logprob").alias("nlp_hi"),
        )
        .orderBy("lang", "bucket")
    )


def ccnet_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet pipeline END-TO-END (Wenzek et al. 2020, the r14-verdict
    7b chain): language-ID → per-language LM perplexity bucketing →
    tercile keep-rule, composed from this corpus's certified members —
    the stopword-profile :func:`lang_id` supplies the PREDICTED language
    (production CCNet buckets by what fastText says, not by ground
    truth), the interpolated Kneser-Ney scorer supplies the perplexity
    proxy, cutpoints come from the scale-safe
    :func:`_exact_rank_values` refinement (never a per-language rank
    window), and the keep-rule retains head+middle (CCNet's default
    release cut — tail is dropped). Output: the per-predicted-language
    release accounting — doc counts per bucket, kept count and exact
    share, and the two cutpoint values the release would freeze for the
    next crawl snapshot.

    Docs with < 2 tokens are unscoreable under the bigram LM and are
    dropped before bucketing (CCNet's pre-filter), so ``n_scored`` is
    the post-langid scoreable population.

    Scale: the members' own certified shapes (map-side lang-id, the KN
    scorer's bounded count tables, two histogram-refinement passes), a
    broadcast ≤|langs|-row cutpoint join, one ≤|langs|-group agg; the
    keep decision never materializes kept text — this is the
    accounting artifact, the transform stays a filter on `bucket`."""
    pred = lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    scored = stage(
        kneser_ney_bigram_score(spark, sf_dir)
        .join(pred, "doc_id")
        .select(
            "doc_id",
            F.col("pred_lang").alias("lang"),
            "avg_neg_logprob",
        )
    )
    cp = _ccnet_cutpoints_df(spark, scored).select("lang", "c1", "c2")
    s = F.col("avg_neg_logprob")
    bucket = (
        F.when(s <= F.col("c1"), F.lit("head"))
        .when(s <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    kept = F.col("bucket").isin("head", "middle")
    return (
        scored.join(F.broadcast(cp), "lang")
        .withColumn("bucket", bucket)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum((F.col("bucket") == "head").cast("long")).alias("n_head"),
            F.sum((F.col("bucket") == "middle").cast("long")).alias(
                "n_middle"
            ),
            F.sum((F.col("bucket") == "tail").cast("long")).alias("n_tail"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.min("c1").alias("c1"),
            F.min("c2").alias("c2"),
        )
        .select(
            "lang",
            "n_scored",
            "n_head",
            "n_middle",
            "n_tail",
            "n_kept",
            _ratio6(F.col("n_kept"), F.col("n_scored")).alias("kept_share"),
            "c1",
            "c2",
        )
        .orderBy("lang")
    )


# --- iterative BPE training (N merge rounds) ---------------------------------
BPE_TRAIN_ROUNDS = 8


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer TRAINING (Sennrich et al. 2016) — the loop
    ``bpe_first_merges`` is iteration 1 of, run for ``BPE_TRAIN_ROUNDS``
    rounds to produce the merge table ``bpe_encode_fixed_merges`` applies
    as a frozen artifact (trained at sf0.01, the trainer output equals
    ``BPE_MERGES`` exactly — test-pinned, closing the tokenizer-training
    loop end-to-end). Each round: corpus-wide adjacent symbol-pair
    counts, argmax with (count DESC, a, b) lexical tiebreak, apply the
    merge, repeat.

    Scale shape: ONE Spark aggregation builds the (word, freq)
    dictionary — Sennrich's trick: every round runs over the DISTINCT
    words, Heaps-sublinear in corpus size — and the rounds run on the
    driver over the collected dictionary (see ``_bpe_train``), so the
    entry costs the same Spark jobs at any round count. Merges apply
    TOKENWISE, greedy left to right (``_apply_merge``) — NOT the
    encoder's two-pass string-replace device, which is exact for every
    a≠b merge (the frozen artifact's case) but mis-pairs a==b merges
    over runs of ≥4 tokens; a trainer must select such merges correctly
    on run-heavy text like 'soooo'. Output: the bounded N-row merge
    table (rank, a, b, pair_count) — integers and strings only."""
    merges = _bpe_train(spark, sf_dir, BPE_TRAIN_ROUNDS)
    return local_frame(
        spark,
        merges, "merge_rank int, a string, b string, pair_count bigint"
    )


BPE_TRAIN_ROUNDS_DEEP = 64  # production-depth trainer (r12 verdict task 3)


def bpe_train_merges_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-DEPTH BPE trainer: :func:`bpe_train_merges` run
    for ``BPE_TRAIN_ROUNDS_DEEP`` (64) rounds. Its sf0.01 output is
    frozen as ``BPE_MERGES_64``, the artifact the deep encoder applies;
    the DuckDB oracle unrolls the same 64 rounds."""
    merges = _bpe_train(spark, sf_dir, BPE_TRAIN_ROUNDS_DEEP)
    return local_frame(
        spark,
        merges, "merge_rank int, a string, b string, pair_count bigint"
    )


def _word_freqs(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """The corpus's [a-z] word dictionary ``{word: freq}``: one
    normalize → explode → groupBy aggregation, collected to the driver
    (the trainers' only Spark work)."""
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", " ")
    words = F.filter(F.split(norm, " "), lambda w: w != F.lit(""))
    rows = (
        docs.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .collect()
    )
    return {r["w"]: int(r["freq"]) for r in rows}


def _apply_merge(toks: list[str], a: str, b: str, merged: str) -> list[str]:
    """One merge (a, b) → ``merged`` applied greedily left to right: an
    ``a`` followed by ``b`` becomes ``merged`` and both are consumed, so
    an a == b run pairs (1,2)(3,4)... and strands an odd last token."""
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
            out.append(merged)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def _bpe_train(
    spark: SparkSession, sf_dir: str, rounds: int
) -> list[tuple[int, str, str, int]]:
    """Shared Sennrich trainer loop: ``rounds`` argmax-merge rounds over
    the word dictionary from ``_word_freqs``, each round a full pair
    recount over the current tokenization of every distinct word.

    Precondition: the dictionary fits on the driver. It is
    Heaps-sublinear (31 types at sf0.01 and sf0.1); a synthetic
    1M-type dictionary (``tools/scale_smoke.py::synth_dictionary``)
    trained 8 rounds at 542 MB peak driver Python RSS (WordPiece:
    958 MB). A dictionary too large to collect fails with Spark's own
    ``spark.driver.maxResultSize`` error."""
    words = [(list(w), f) for w, f in _word_freqs(spark, sf_dir).items()]
    merges: list[tuple[int, str, str, int]] = []
    for _ in range(rounds):
        pairs: Counter = Counter()
        for toks, f in words:
            for p in zip(toks, toks[1:]):
                pairs[p] += f
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((len(merges) + 1, a, b, cnt))
        words = [(_apply_merge(toks, a, b, a + b), f) for toks, f in words]
    return merges


def _duck_bpe_train_oracle(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    """DuckDB twin of ``bpe_train_merges`` (and, at rounds=64, of
    ``bpe_train_merges_deep``): the N-round trainer unrolled into
    nested CTEs — each round is (pair count over the word-frequency
    relation) → (1-row argmax) → (merge applied TOKENWISE via a
    ``list_reduce`` fold whose accumulator encodes (emitted tokens,
    pending token) as '<out>|<prev>' — symbols are [a-z] so '|' is
    free), generated from the SAME round count so the engines can never
    drift. The fold is the greedy left-to-right semantics of
    ``_apply_merge``, incl. a == b merges over repeated runs (the case
    the string-replace device mis-pairs)."""
    # fold step over acc='<out>|<prev>' (out = space-terminated tokens):
    #   merge:   out + 'ab '      and prev := ''
    #   no prev: prev := x
    #   else:    out + prev + ' ' and prev := x
    # finish: drop '|' and split — the tokens ``_apply_merge`` returns
    fold = (
        "list_filter(string_split(replace("
        "list_reduce(['|'] || arr, (acc, x) -> "
        "CASE WHEN split_part(acc, '|', 2) = m.a AND x = m.b "
        "THEN split_part(acc, '|', 1) || m.a || m.b || ' |' "
        "WHEN split_part(acc, '|', 2) = '' "
        "THEN split_part(acc, '|', 1) || '|' || x "
        "ELSE split_part(acc, '|', 1) || split_part(acc, '|', 2) "
        "|| ' |' || x END"
        "), '|', ''), ' '), t -> t <> '')"
    )
    # AS MATERIALIZED: without it DuckDB inlines every CTE reference,
    # so the 64-round union re-expands each round's whole prefix chain —
    # O(rounds^2) parquet scans ("too many open files" at depth 64);
    # materialization evaluates each round exactly once.
    parts = [
        r"""WITH w0 AS MATERIALIZED (
        SELECT list_filter(string_split(trim(
                   regexp_replace(w, '(.)', '\1 ', 'g')), ' '),
                   t -> t <> '') AS arr,
               COUNT(*) AS freq
        FROM (
            SELECT unnest(list_filter(string_split(
                regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' '),
                w -> w <> '')) AS w
            FROM documents
        ) GROUP BY w
    )"""
    ]
    for k in range(rounds):
        parts.append(f""",
    p{k} AS MATERIALIZED (
        SELECT u.a AS a, u.b AS b, SUM(freq) AS cnt FROM (
            SELECT freq,
                   unnest(list_transform(range(1, len(arr)),
                          i -> {{'a': arr[CAST(i AS INT)],
                                 'b': arr[CAST(i AS INT) + 1]}})) AS u
            FROM w{k}
            WHERE len(arr) >= 2
        ) GROUP BY u.a, u.b
    ),
    r{k} AS MATERIALIZED (SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1),
    w{k + 1} AS MATERIALIZED (
        SELECT {fold} AS arr, freq
        FROM w{k}, (SELECT a, b FROM r{k}) m
    )""")
    sel = "\n    UNION ALL ".join(
        f"SELECT {k + 1} AS merge_rank, a, b, CAST(cnt AS BIGINT) "
        f"AS pair_count FROM r{k}"
        for k in range(rounds)
    )
    return "".join(parts) + "\n    " + sel


# --- FastText-style linear quality classifier (inference) -------------------
QC_BUCKETS = 2048
# Score banding WITHOUT evaluating exp() OR ln(): the score is monotone
# in the model's confidence, so band j = #cutpoints below the EXACT
# integer score, with cutpoints frozen as INTEGER micro-unit literals —
# a pure integer compare on both engines, no transcendental anywhere in
# the pipeline (r11 ADVICE closed the last one: the ln() WEIGHTS are now
# gone too, see _qc_weights). Cuts are the micro-unit images of the old
# ln-odds deciles under w = tanh(logodds/2) scaling (≈ half for small
# values), picked to keep the 6-band story.
QC_BAND_CUTS = (-1472220, -549306, 0, 549306, 1472220)


def _qc_feature_stream(docs: DataFrame) -> DataFrame:
    """One row per fastText feature occurrence (doc_id, lang, lbl, t) of
    a documents frame: each token and the trigrams of its boundary-padded
    ``<tok>``, with the doc's integer-rule quality label. The one feature
    map under the matrix (:func:`_qc_features`) and the fused scorer."""
    toks = _toks()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, _in_list(STOPWORDS_EN)))
    n_punct = F.length(F.regexp_replace("text", r"[^.!?,;:]", ""))
    lbl = (
        (n_tokens >= 10)
        & (n_stop * 20 >= n_tokens)
        & (n_punct * 5 <= F.length("text"))
    ).cast("long")
    tok = docs.select(
        "doc_id", "lang", lbl.alias("lbl"), F.explode(toks).alias("tok")
    )
    padded = F.concat(F.lit("<"), F.col("tok"), F.lit(">"))
    tris = F.transform(
        F.sequence(F.lit(1), F.length(padded) - F.lit(2)),
        lambda i: padded.substr(i, F.lit(3)),
    )
    return tok.select(
        "doc_id",
        "lang",
        "lbl",
        F.explode(F.concat(F.array(F.col("tok")), tris)).alias("t"),
    )


def _qc_features(docs: DataFrame) -> DataFrame:
    """Hashed fastText feature matrix (doc_id, lang, lbl, bkt, cnt) for a
    documents frame — the feature stream with the map-side (doc, bucket)
    count reduction. Shared by the batch classifier and the streaming
    ingest gate."""
    return (
        _qc_feature_stream(docs)
        .withColumn("bkt", F.expr(_SPARK_TH) % QC_BUCKETS)
        .groupBy("doc_id", "lang", "lbl", "bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _qc_weights(feats: DataFrame) -> DataFrame:
    """EXACTLY-RATIONAL likelihood-ratio weight dictionary (≤QC_BUCKETS
    rows) trained from a feature matrix — the deterministic stand-in
    for an offline-trained linear model. The r11 ADVICE found the last
    transcendental in a compared value: NB ln-ratio weights computed
    independently by F.log and DuckDB ln can diverge by an ulp and flip
    a doc at a rounding boundary. Gone: the weight is now

        w = (a − b) / (a + b),  a = p(f|pos), b = p(f|neg) (Laplace)

    — i.e. tanh(logodds/2), the standard bounded odds surrogate: same
    sign, monotone in the likelihood ratio, first-order equal to
    logodds/2 near 1. Clearing denominators it is a ratio of two exact
    integers, quantized to MICRO-UNITS by exact integer floor division
    (A·10⁶ − A·10⁶ mod den) / den on non-negative operands — identical
    on any engine, no doubles anywhere. Spark side runs it in
    DECIMAL(38,0) so the count products stay exact at any corpus size
    (long would overflow near 10⁹·10¹⁰); DuckDB's oracle twin uses
    HUGEINT. Output column ``w6``: integer micro-weight in [−10⁶, 10⁶].
    """
    counts = feats.groupBy("bkt").agg(
        F.sum(F.when(F.col("lbl") == 0, F.col("cnt")).otherwise(0)).alias(
            "neg_c"
        ),
        F.sum(F.when(F.col("lbl") == 1, F.col("cnt")).otherwise(0)).alias(
            "pos_c"
        ),
    )
    tot = feats.agg(
        F.sum(F.when(F.col("lbl") == 0, F.col("cnt")).otherwise(0)).alias(
            "n_neg"
        ),
        F.sum(F.when(F.col("lbl") == 1, F.col("cnt")).otherwise(0)).alias(
            "n_pos"
        ),
    ).collect()[0]
    n_neg, n_pos = int(tot["n_neg"]), int(tot["n_pos"])
    # a/b with denominators cleared: an = (pos_c+1)·(n_neg+B),
    # bn = (neg_c+1)·(n_pos+B); w = (an − bn)/(an + bn)
    an = (F.col("pos_c") + 1).cast("decimal(19,0)") * F.lit(
        n_neg + QC_BUCKETS
    ).cast("decimal(19,0)")
    bn = (F.col("neg_c") + 1).cast("decimal(19,0)") * F.lit(
        n_pos + QC_BUCKETS
    ).cast("decimal(19,0)")
    num, den = an - bn, an + bn
    big = F.abs(num) * F.lit(1_000_000).cast("decimal(7,0)")
    # exact floor division on non-negative decimals: subtract the exact
    # remainder first, so the engine's division rounds an exact integer
    q = ((big - big % den) / den).cast("long")
    w6 = F.when(num < 0, -q).otherwise(q)
    return counts.select("bkt", w6.alias("w6"))


def _qc_weight_arrays(feats: DataFrame) -> tuple[list, list]:
    """ONE aggregation pass over the feature matrix → the exact integer
    micro-weight table as two ``QC_BUCKETS``-slot lists (w6, present) —
    r16, guide §1.2 (fewer passes): :func:`_qc_weights` ran TWO
    aggregations over the matrix (per-bucket counts; the eager global
    totals), and consuming its weights frame re-ran the counts agg under
    the join's lineage — three matrix passes per training. Here the
    ≤``QC_BUCKETS`` per-bucket (neg_c, pos_c) rows collect ONCE; the
    totals are their driver-side sums (identical integers: Σ over
    buckets of Σ over rows = the global Σ), and the quantization is the
    decimal device's arithmetic verbatim on Python ints — the products,
    num/den, and (big − big % den)/den floor division are exact integer
    math in either engine, so every w6 is bit-identical to
    :func:`_qc_weights`' (test-pinned)."""
    rows = (
        feats.groupBy("bkt")
        .agg(
            F.sum(
                F.when(F.col("lbl") == 0, F.col("cnt")).otherwise(0)
            ).alias("neg_c"),
            F.sum(
                F.when(F.col("lbl") == 1, F.col("cnt")).otherwise(0)
            ).alias("pos_c"),
        )
        .collect()  # bounded: ≤ QC_BUCKETS rows
    )
    n_neg = sum(int(r["neg_c"]) for r in rows)
    n_pos = sum(int(r["pos_c"]) for r in rows)
    w6 = [0] * QC_BUCKETS
    present = [0] * QC_BUCKETS
    for r in rows:
        an = (int(r["pos_c"]) + 1) * (n_neg + QC_BUCKETS)
        bn = (int(r["neg_c"]) + 1) * (n_pos + QC_BUCKETS)
        num, den = an - bn, an + bn
        q = (abs(num) * 1_000_000) // den
        w6[int(r["bkt"])] = -q if num < 0 else q
        present[int(r["bkt"])] = 1
    return w6, present


def _qc_weights_relation(spark: SparkSession, w6: list, present: list):
    """The ≤``QC_BUCKETS``-row weight dictionary as a LOCAL RELATION
    rebuilt from :func:`_qc_weight_arrays`' output (r16) — broadcast-
    joinable by :func:`_qc_scored` with zero plan subtree behind it
    (the decimal frame re-ran its counts aggregation every time a
    consumer evaluated it). Identical integers by construction.

    Measured note (r16, this box, interleaved single-session A/B at
    sf0.1): scoring the staged matrix through ``element_at`` on
    2048-slot array LITERALS read 2.6-3.0 s vs 0.7-1.1 s for this
    broadcast join — the array-literal device only pays when it fuses
    into a scan that a join would otherwise force through an exchange
    (the curation stage-4 shape); on an already-built matrix the join
    form wins and is kept."""
    return local_frame(
        spark,
        [(b, w6[b]) for b in range(len(w6)) if present[b]],
        "bkt long, w6 long",
    )


def _qc_scored(feats: DataFrame, weights: DataFrame) -> DataFrame:
    """Per-doc INTEGER-exact score sums: broadcast weight join + one
    doc-keyed aggregation — INFERENCE, usable on any feature matrix
    (the streaming gate scores each micro-batch through this exact
    function with frozen weights). ``ws`` = Σ cnt·w6, a pure int64
    (|w6| ≤ 10⁶ × per-doc feature count: a 10¹²-feature doc would be
    needed to overflow)."""
    return (
        feats.join(F.broadcast(weights), "bkt")
        .groupBy("doc_id", "lang", "lbl")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("w6")).alias("ws"),
        )
    )


def _qc_scored_fused(
    docs: DataFrame,
    weights: "DataFrame | None" = None,
    _arrays: "tuple | None" = None,
) -> DataFrame:
    """Classifier INFERENCE with the weight dictionary fused into the
    feature scan (r16, guide §2.3/§2.4 — the r15-verdict task-5 shape):
    the ≤``QC_BUCKETS``-row weight table is collected once (bounded by
    the bucket count, never the corpus) into two array LITERALS —
    per-bucket micro-weight and presence — and every feature occurrence
    scores via ``element_at`` in the same codegen stage that hashes it.
    Against :func:`_qc_scored` ∘ :func:`_qc_features` this removes the
    (doc, bucket) partial-agg exchange AND the broadcast hash join:
    the only shuffle left is the per-doc sum (map-side combinable).

    EXACT same result as the join form: Σ_occurrences w6 = Σ_buckets
    cnt·w6 (int64, order-free); ``n_feats`` counts occurrences whose
    bucket exists in the weight table (absent buckets score 0 and do
    not count — the inner join's semantics); docs with zero counted
    features drop (the join produced no row for them).

    ``_arrays`` (r16): callers that trained via the single-pass
    :func:`_qc_weight_arrays` pass (w6, present) directly, skipping the
    weights-frame collect (which re-ran the matrix aggregation under
    this plan's lineage)."""
    if _arrays is not None:
        w6, present = list(_arrays[0]), list(_arrays[1])
    else:
        w6 = [0] * QC_BUCKETS
        present = [0] * QC_BUCKETS
        for r in weights.collect():  # bounded: ≤ QC_BUCKETS rows
            w6[int(r["bkt"])] = int(r["w6"])
            present[int(r["bkt"])] = 1
    warr, parr = F.lit(w6), F.lit(present)
    idx = (F.expr(_SPARK_TH) % QC_BUCKETS + 1).cast("int")
    contrib = _qc_feature_stream(docs).select(
        "doc_id",
        "lang",
        "lbl",
        F.element_at(parr, idx).cast("long").alias("p"),
        F.element_at(warr, idx).cast("long").alias("w"),
    )
    return (
        contrib.groupBy("doc_id", "lang", "lbl")
        .agg(F.sum("p").alias("n_feats"), F.sum("w").alias("ws"))
        .filter(F.col("n_feats") > 0)
    )


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style linear quality-classifier INFERENCE — the
    CCNet/DCLM production quality gate: score(doc) =
    sigmoid(Σ_f w[h(f)]) over hashed word + char-trigram features
    (fastText's exact feature map: each token contributes itself plus
    the trigrams of '<tok>' — Joulin et al. 2016, Bojanowski et al.
    2017). Production weights come from an offline-trained model; the
    deterministic stand-in here is the EXACTLY-RATIONAL likelihood-ratio
    vector w = (p(f|pos) − p(f|neg)) / (p(f|pos) + p(f|neg)) — i.e.
    tanh(NB-logodds/2), same sign and monotone in the likelihood ratio
    — trained against the corpus's own integer-rule quality label
    (``text_quality``'s exact predicates); a bounded-weight linear text
    classifier of the identical inference shape, the same hashed-BoW +
    broadcast-dictionary device ``dsir_importance_weights`` uses. The
    rational form means the ENTIRE pipeline is integer arithmetic: no
    ln(), no exp(), no double anywhere a value is compared (the r11
    ADVICE item — NB ln-weights were the last transcendental; see
    ``_qc_weights`` for the exact integer micro-unit quantization).

    Output per doc: feature count, the score in units (the int64
    micro-score ÷ 10⁶, 6-dp display — bit-deterministic: both engines
    divide the identical integer), the confidence BAND (0-5 via pure
    integer cutpoint compares — see ``QC_BAND_CUTS``; the score is
    monotone in model confidence so the band is the probability-decile
    story without any transcendental), the prediction (score > 0,
    exact), and the rule label it was trained against (train agreement
    0.79 vs a 0.62 base rate on this corpus — the hashed-feature signal
    is real; equal-priors decision at score 0). Docs with zero tokens
    have no features and drop out
    (both engines identically).

    Scale shape (100 TB): the exploded feature stream (≈6× the token
    stream — each token plus its trigrams) is reduced IN THE SAME PASS
    to the (doc, bucket, count) matrix — the map-side partial agg
    collapses repeats before anything shuffles or stages, and counts
    make the math exactly equal: Σ_occurrences w = Σ_buckets cnt·w,
    integer×decimal exact. The expensive map (explode + per-feature
    hash) must actually parallelize: the single-file local fixture
    serialized it onto one core until the explicit doc_id spread below
    (measured 18.2 s → 2.6 s at sf0.1; a many-file real corpus gets the
    same spread from the scan itself). The model is a ≤QC_BUCKETS-row
    dictionary built from ONE bounded collect of the staged matrix
    (:func:`_qc_weight_arrays` — r16: was two matrix aggregations plus
    a join-time recompute of the counts agg under the scoring join's
    lineage) and rebuilt as a LOCAL relation for the broadcast scoring
    join (:func:`_qc_weights_relation`) — one matrix pass fewer at any
    scale, join-form scoring kept (measured faster than array-literal
    lookup on the built matrix; see `_qc_weights_relation`). Inference
    with real offline weights deletes the build half and is strictly
    cheaper."""
    # the feature explode + per-feature hash is the expensive map of this
    # operator (~6 subword features per token); a real corpus arrives as
    # many files and parallelizes by itself, but the local single-file
    # fixture would otherwise run the whole pass on ONE core (measured
    # 12× wall at sf0.1) — spread the docs across the executor threads
    # before fanning out
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = stage(  # consumed twice: weight build + scoring join
        _qc_features(docs)
    )
    w6, present = _qc_weight_arrays(feats)
    scored = _qc_scored(feats, _qc_weights_relation(spark, w6, present))
    band = None
    for c in QC_BAND_CUTS:
        hit = (F.col("ws") > F.lit(c)).cast("int")
        band = hit if band is None else band + hit
    # logit6: the integer micro-score displayed in units — both engines
    # divide the IDENTICAL int64 by 10⁶ in IEEE double, bit-equal
    return scored.select(
        "doc_id",
        "lang",
        "n_feats",
        F.round(F.col("ws").cast("double") / 1e6, 6).alias("logit6"),
        band.alias("prob_band"),
        (F.col("ws") > 0).cast("int").alias("pred_quality"),
        F.col("lbl").cast("int").alias("label_quality_ok"),
    )


# --- unigram-LM (Kudo/SentencePiece) subword tokenizer ----------------------
# The OTHER production tokenizer family next to BPE (Kudo 2018,
# "Subword Regularization"): pieces carry unigram log-probabilities and a
# word's tokenization is the Viterbi-best segmentation, not a greedy merge
# chain. Integer cost encoding makes every comparison exact cross-engine:
#   cost(p)  = round(-COST_SCALE * ln(freq_p / total))       (frozen ints)
#   weight(p) = cost(p) * 256 + 1
# so a segmentation's total weight = 256 * total_cost + n_pieces — an
# int64 whose MIN is the lexicographic (total_cost, n_pieces) optimum
# (words are capped at UNIGRAM_MAX_WORD << 256 pieces). The DP compares
# only int64 sums; no float ever crosses an engine boundary.
UNIGRAM_MAX_PIECE = 4
UNIGRAM_MAX_WORD = 16  # longer word types are excluded from the stats
UNIGRAM_COST_SCALE = 1000
UNIGRAM_UNK_COST = 14000  # ~ -1000*ln(1e-6): out-of-vocab single char
UNIGRAM_UNK_WT = UNIGRAM_UNK_COST * 256 + 1
UNIGRAM_VOCAB_SIZE = 48  # multi-char pieces kept by the trainer


def _by_value(fn):
    """A copy of module function ``fn`` that cloudpickle ships BY VALUE,
    with the module constants it reads. Cloudpickle sends a function it
    finds under its own name in an importable module by reference, and
    Spark's Python workers cannot import this package in a vanilla
    session, so an Arrow closure calls the copy instead."""
    import types

    return types.FunctionType(
        fn.__code__, fn.__globals__, fn.__name__, fn.__defaults__
    )


def _unigram_viterbi_weight(w: str, costs: dict) -> int:
    """Shared DP kernel: minimum total weight over all segmentations of
    ``w`` into vocab pieces (≤ UNIGRAM_MAX_PIECE chars), unknown single
    chars allowed at UNIGRAM_UNK_COST. Pure integer min-plus — the SQL
    oracle's unrolled dp1..dpN CTE chain computes the identical value."""
    n = len(w)
    best = [0] * (n + 1)
    for i in range(1, n + 1):
        bw = None
        for j in range(1, min(UNIGRAM_MAX_PIECE, i) + 1):
            c = costs.get(w[i - j : i])
            if c is None:
                if j != 1:
                    continue
                c = UNIGRAM_UNK_COST
            cand = best[i - j] + c * 256 + 1
            if bw is None or cand < bw:
                bw = cand
        best[i] = bw
    return best[n]


def _unigram_viterbi_pieces(w: str, costs: dict) -> list:
    """Backtraced variant (trainer E-step + tests): the piece sequence of
    one weight-minimal segmentation. Tie-break is deterministic — among
    equal-weight candidates the SHORTEST final piece wins (ascending-j
    scan keeps the first strict minimum) — and affects only which pieces
    the trainer credits, never the reported weight (the oracle checks
    weights)."""
    n = len(w)
    best = [0] * (n + 1)
    back = [1] * (n + 1)
    for i in range(1, n + 1):
        bw = None
        for j in range(1, min(UNIGRAM_MAX_PIECE, i) + 1):
            c = costs.get(w[i - j : i])
            if c is None:
                if j != 1:
                    continue
                c = UNIGRAM_UNK_COST
            cand = best[i - j] + c * 256 + 1
            if bw is None or cand < bw:
                bw, back[i] = cand, j
        best[i] = bw
    out, i = [], n
    while i > 0:
        j = back[i]
        out.append(w[i - j : i])
        i -= j
    out.reverse()
    return out


def _unigram_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word types with occurrence counts — the [a-z] word stream
    (the BPE entries' normalization), capped at UNIGRAM_MAX_WORD chars
    (corpus max is 8; the cap bounds the oracle's DP depth and is applied
    identically in SQL). Per-type DP over the distinct-type relation is
    the scale move: segmentation cost is paid once per TYPE, not per
    occurrence — Zipf makes types ≪ tokens."""
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", " ")
    words = F.filter(F.split(norm, " "), lambda x: x != F.lit(""))
    return (
        docs.select(F.explode(words).alias("w"))
        .where(F.length("w") <= UNIGRAM_MAX_WORD)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _unigram_segmented(spark: SparkSession, words: DataFrame, vocab) -> DataFrame:
    """Apply the frozen vocab to every word type: Arrow-batched
    ``mapInPandas`` running the integer DP per type, vocab riding the
    closure (a 32k-piece production vocab would move to an explicit
    broadcast — same plan either way: map-only, zero exchanges)."""
    costs = dict(vocab)
    weight = _by_value(_unigram_viterbi_weight)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ws = pdf["w"].tolist()
            tot = [weight(w, costs) for w in ws]
            yield pd.DataFrame(
                {
                    "w": ws,
                    "cnt": pdf["cnt"].astype("int64"),
                    "n_pieces": [t % 256 for t in tot],
                    "cost": [t // 256 for t in tot],
                }
            )

    return words.mapInPandas(gen, "w string, cnt long, n_pieces int, cost long")


def unigram_train(
    spark: SparkSession,
    sf_dir: str,
    vocab_size: int = UNIGRAM_VOCAB_SIZE,
    rounds: int = 3,
):
    """Viterbi-EM unigram-LM trainer (hard-EM simplification of Kudo's
    full EM+prune loop — one best segmentation per type instead of
    expected counts over all segmentations): seed the vocab with the
    top-``vocab_size`` weighted substring frequencies (1..4 chars) plus
    every single char; then alternate E (DP-segment every word type under
    current costs, distributed) and M (re-derive integer costs from piece
    usage, driver-side over the ≤ vocab_size+26-row table). Returns
    (sorted [(piece, cost)], [(round, corpus_weight)] history).

    Scale: the E-step is the `_unigram_segmented` map-only pass plus one
    map-side-combinable groupBy(piece) — per round, two narrow jobs; the
    M-step touches only the bounded vocab table. Single chars never leave
    the vocab (Kudo's required-character set), with +1 usage smoothing so
    an unused char keeps a finite cost."""
    import math as _math

    words = stage(_unigram_words(spark, sf_dir), "unigram_words")
    # seed: weighted substring frequencies, 1..UNIGRAM_MAX_PIECE chars
    sub_arrays = [
        F.expr(
            f"CASE WHEN length(w) >= {j} THEN transform("
            f"sequence(1, length(w)-{j}+1), i -> substring(w, i, {j})) "
            f"ELSE array() END"
        )
        for j in range(1, UNIGRAM_MAX_PIECE + 1)
    ]
    subs = (
        words.select(
            "cnt", F.explode(F.flatten(F.array(*sub_arrays))).alias("p")
        )
        .groupBy("p")
        .agg(F.sum("cnt").alias("freq"))
    )
    singles = {
        r["p"]: int(r["freq"]) for r in subs.where(F.length("p") == 1).collect()
    }
    top = (
        subs.where(F.length("p") > 1)
        .orderBy(F.desc("freq"), "p")
        .limit(vocab_size)
        .collect()
    )
    freqs = dict(singles)
    freqs.update({r["p"]: int(r["freq"]) for r in top})

    def _costs(fr: dict) -> dict:
        total = sum(fr.values())
        return {
            p: max(1, round(-UNIGRAM_COST_SCALE * _math.log(f / total)))
            for p, f in fr.items()
        }

    costs, history = _costs(freqs), []
    pieces = _by_value(_unigram_viterbi_pieces)
    for r in range(1, rounds + 1):
        bcosts = dict(costs)

        def estep(batches):
            import pandas as pd

            for pdf in batches:
                ps, ns = [], []
                for w, cnt in zip(pdf["w"], pdf["cnt"]):
                    wt = 0
                    for piece in pieces(w, bcosts):
                        ps.append(piece)
                        ns.append(int(cnt))
                        wt += bcosts.get(piece, UNIGRAM_UNK_COST)
                    ps.append("\x00corpus_weight")
                    ns.append(wt * int(cnt))
                yield pd.DataFrame({"p": ps, "n": ns})

        usage = {
            r2["p"]: int(r2["n"])
            for r2 in words.mapInPandas(estep, "p string, n long")
            .groupBy("p")
            .agg(F.sum("n").alias("n"))
            .collect()
        }
        history.append((r, usage.pop("\x00corpus_weight")))
        freqs = {p: n for p, n in usage.items() if n > 0 and len(p) > 1}
        freqs.update({p: usage.get(p, 0) + 1 for p in singles})
        costs = _costs(freqs)
    return sorted(costs.items()), history


# Frozen release artifact: `unigram_train(spark, sf0.01, 48, 3)`'s own
# output (test-pinned to the trainer, the BPE_MERGES_64 convention):
# 17 usage-surviving multi-char pieces + the 26 required single chars,
# after Viterbi-EM converged (corpus weight 318437638 → 288776376 →
# fixed point at round 3). Applied everywhere; production never
# re-trains per query.
UNIGRAM_VOCAB = (
    ("a", 2908), ("al", 3796), ("at", 4494), ("b", 3818),
    ("batc", 4462), ("c", 4488), ("colu", 4466), ("cu", 4466),
    ("d", 3392), ("e", 2561), ("er", 3785), ("f", 3816),
    ("g", 2899), ("h", 3822), ("hash", 4452), ("i", 3804),
    ("in", 3812), ("j", 11305), ("join", 4434), ("k", 3822),
    ("l", 2872), ("m", 3385), ("mer", 3781), ("n", 4465),
    ("o", 4465), ("or", 3406), ("ow", 3807), ("p", 4497),
    ("par", 3833), ("q", 4534), ("r", 3832), ("ro", 4527),
    ("row", 4456), ("s", 3117), ("scan", 4463), ("st", 3413),
    ("t", 2908), ("ta", 4494), ("u", 4497), ("ue", 3827),
    ("v", 3804), ("w", 4517), ("y", 3827),
)


def unigram_viterbi_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment every word type under the FROZEN unigram-LM artifact and
    report the piece-count histogram: per optimal-piece-count bucket, the
    word types, weighted occurrences, and occurrence-weighted total cost.
    The oracle re-runs the identical integer DP as an unrolled dp1..dp16
    CTE chain over the same distinct-type relation, so a single wrong DP
    transition anywhere shows up as a bucket mismatch.

    Scale: one map-only Arrow pass over word TYPES + one bounded groupBy;
    the vocab is a closure/broadcast artifact. This is the corpus-wide
    tokenize-accounting pass a release runs before packing, at the
    per-type cost Zipf grants."""
    words = _unigram_words(spark, sf_dir)
    seg = _unigram_segmented(spark, words, UNIGRAM_VOCAB)
    return (
        seg.groupBy("n_pieces")
        .agg(
            F.count(F.lit(1)).alias("n_word_types"),
            F.sum("cnt").alias("n_occurrences"),
            F.sum(F.col("cnt") * F.col("cost")).alias("total_cost"),
        )
        .orderBy("n_pieces")
    )


def unigram_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language pieces-per-word under the frozen unigram artifact —
    the multilingual release metric (`bpe_fertility_report`'s twin for
    the unigram family; comparing the two certifies a tokenizer choice).
    Mechanics: segment word TYPES once, then broadcast-join the bounded
    (type → n_pieces) table back onto the per-language occurrence stream;
    over-cap word types (> UNIGRAM_MAX_WORD chars) drop from both engines
    identically. Exact `_ratio6` ratios."""
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", " ")
    wlist = F.filter(F.split(norm, " "), lambda x: x != F.lit(""))
    occ = (
        docs.select("lang", F.explode(wlist).alias("w"))
        .where(F.length("w") <= UNIGRAM_MAX_WORD)
    )
    words = _unigram_words(spark, sf_dir)
    seg = _unigram_segmented(spark, words, UNIGRAM_VOCAB).select(
        "w", "n_pieces"
    )
    return (
        occ.join(F.broadcast(seg), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
        )
        .select(
            "lang",
            "n_words",
            "n_pieces",
            _ratio6(F.col("n_pieces"), F.col("n_words")).alias("fertility"),
        )
        .orderBy("lang")
    )



UNIGRAM_PRUNE_MAX_WORD = 8  # this fixture's cap (== the corpus max word)


def unigram_prune_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kudo's PRUNE step — the half of unigram-LM training the EM loop
    alone doesn't give you: for every multi-char piece, the corpus-cost
    LOSS if that piece were removed (all affected word types re-segment
    through the remaining vocab). SentencePiece iterates exactly this
    table, dropping the lowest-loss pieces until the vocab budget holds;
    the report IS one iteration's decision input, with the full-vocab
    baseline as the '<none>' row (loss 0). All integer: per-variant
    corpus cost = Σ types cnt · Viterbi-cost, so the oracle replays every
    leave-one-out DP exactly (17 variant chains + baseline, word cap 8 =
    this corpus's max — the cap keeps the unrolled SQL bounded).

    Scale: ONE Arrow pass over word TYPES computes all 18 variants' DPs
    per type (the vocab table is tiny; the pass is |types| × |vocab|
    integer work, Zipf-bounded); one bounded groupBy(variant) sums. A
    30 k-piece production vocab prunes in batches with the same
    one-pass-many-variants shape."""
    words = _unigram_words(spark, sf_dir).where(
        F.length("w") <= UNIGRAM_PRUNE_MAX_WORD
    )
    multi = [p for p, _ in UNIGRAM_VOCAB if len(p) > 1]
    variants = {"<none>": dict(UNIGRAM_VOCAB)}
    for p in multi:
        variants[p] = {q: c for q, c in UNIGRAM_VOCAB if q != p}

    weight = _by_value(_unigram_viterbi_weight)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            names, costs = [], []
            for w, cnt in zip(pdf["w"], pdf["cnt"]):
                for name, vocab in variants.items():
                    t = weight(w, vocab)
                    names.append(name)
                    costs.append(int(cnt) * (t // 256))
            yield pd.DataFrame({"piece_removed": names, "wcost": costs})

    per = (
        words.mapInPandas(gen, "piece_removed string, wcost long")
        .groupBy("piece_removed")
        .agg(F.sum("wcost").alias("corpus_cost"))
    )
    base = F.min(
        F.when(F.col("piece_removed") == "<none>", F.col("corpus_cost"))
    )
    return (
        per.withColumn("base_cost", base.over(Window.partitionBy()))
        .select(
            F.col("piece_removed").alias("piece"),
            "corpus_cost",
            (F.col("corpus_cost") - F.col("base_cost")).alias(
                "loss_if_removed"
            ),
        )
        .orderBy("piece")
    )


def _duck_unigram_prune_oracle() -> str:
    """18 leave-one-out DP chains over one shared capped word-type
    relation: chain v0 is the full vocab (the '<none>' baseline), v1..v17
    each drop one multi-char piece. Bounded: ~31 word types × 8 levels
    per chain, every CTE MATERIALIZED (DuckDB would otherwise inline each
    dp reference — the established unigram-oracle discipline)."""
    multi = [p for p, _ in UNIGRAM_VOCAB if len(p) > 1]
    variants = [("<none>", list(UNIGRAM_VOCAB))] + [
        (p, [(q, c) for q, c in UNIGRAM_VOCAB if q != p]) for p in multi
    ]
    chains, selects = [], []
    for vi, (name, vocab) in enumerate(variants):
        vals = ", ".join(f"('{q}', {c * 256 + 1})" for q, c in vocab)
        chains.append(f"vc{vi}(p, wt) AS (VALUES {vals})")
        for i in range(1, UNIGRAM_PRUNE_MAX_WORD + 1):
            prev = "dp0" if i == 1 else f"d{vi}_{i - 1}"
            cands = [
                f"SELECT d.w, d.best + COALESCE(v.wt, {UNIGRAM_UNK_WT})"
                f" AS cand FROM {prev} d LEFT JOIN vc{vi} v"
                f" ON v.p = substr(d.w, {i}, 1) WHERE LENGTH(d.w) >= {i}"
            ]
            for j in range(2, UNIGRAM_MAX_PIECE + 1):
                if i >= j:
                    pj = "dp0" if i == j else f"d{vi}_{i - j}"
                    cands.append(
                        f"SELECT d.w, d.best + v.wt AS cand FROM {pj} d"
                        f" JOIN vc{vi} v"
                        f" ON v.p = substr(d.w, {i - j + 1}, {j})"
                        f" WHERE LENGTH(d.w) >= {i}"
                    )
            u = " UNION ALL ".join(cands)
            chains.append(
                f"d{vi}_{i} AS MATERIALIZED (SELECT w, MIN(cand) AS best"
                f" FROM ({u}) GROUP BY w)"
            )
        fin = " UNION ALL ".join(
            f"SELECT w, best FROM d{vi}_{i} WHERE LENGTH(w) = {i}"
            for i in range(1, UNIGRAM_PRUNE_MAX_WORD + 1)
        )
        chains.append(
            f"cost{vi} AS MATERIALIZED (SELECT CAST(SUM(words.cnt *"
            f" (f.best // 256)) AS BIGINT) AS c FROM words"
            f" JOIN ({fin}) f ON f.w = words.w)"
        )
        selects.append(
            f"SELECT '{name}' AS piece, (SELECT c FROM cost{vi})"
            f" AS corpus_cost, (SELECT c FROM cost{vi})"
            f" - (SELECT c FROM cost0) AS loss_if_removed"
        )
    body = ",\n    ".join(chains)
    union = "\n    UNION ALL ".join(selects)
    return f"""
    WITH wordsrc AS MATERIALIZED (
        SELECT unnest(list_filter(string_split(
                   regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' '),
                   x -> x <> '')) AS w
        FROM documents
    ),
    words AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM wordsrc
        WHERE LENGTH(w) <= {UNIGRAM_PRUNE_MAX_WORD} GROUP BY w
    ),
    dp0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS best FROM words),
    {body}
    SELECT * FROM (
    {union}
    ) ORDER BY piece
"""


# --- WordPiece tokenizer family (Schuster & Nakajima 2012; Wu et al. 2016) --
# The THIRD production subword family next to BPE (merge-frequency) and
# unigram-LM (Viterbi): WordPiece trains with BPE's merge LOOP but ranks
# candidate pairs by the LIKELIHOOD score freq(ab)/(freq(a)·freq(b)) —
# the merge that most increases corpus likelihood under a unigram model
# (the HuggingFace-tokenizers training rule) — and encodes with greedy
# longest-match-first over a vocab whose continuation pieces carry the
# '##' prefix (BERT's vocab format).
WP_TRAIN_ROUNDS = 16
# The likelihood score is a RATIONAL cnt/(fa·fb); ranking doubles across
# engines is the r7 driver-red class, so the FROZEN SPEC is the exact
# integer quantization floor(cnt·10¹⁸/(fa·fb)) with (a, b) lexical
# tiebreak — both engines compute the identical integer (the trainer in
# Python ints, DuckDB in HUGEINT), so the argmax can never drift (the
# QC_BAND_CUTS micro-unit precedent).
WP_SCORE_SCALE = 10**18
WP_TRAIN_ROUNDS_DEEP = 32  # production-depth trainer (r14 verdict task 6)


def _wp_merged_symbol(a: str, b: str) -> str:
    """BERT vocab algebra: merged = a + b-without-its-'##' (the merged
    piece inherits a's word-position class)."""
    return a + (b[2:] if b.startswith("##") else b)


def _wp_train(spark: SparkSession, sf_dir: str, rounds: int) -> list[tuple]:
    """WordPiece trainer loop: per round, adjacent-pair counts AND
    per-symbol frequencies over the current tokenization of every word
    in the ``_word_freqs`` dictionary; argmax of the exact quantized
    likelihood score with (a, b) tiebreak; apply the merge with
    ``_apply_merge``; repeat. Words initialize as first char plain,
    every later char '##'-prefixed (['h','##e','##l','##l','##o']).
    Words merged below 2 tokens still count toward the symbol
    frequencies: the likelihood denominator fa·fb counts a symbol's
    occurrences in EVERY word. Exact Python integers give the frozen
    spec's floor(cnt·10¹⁸/(fa·fb)). Same Spark cost and driver
    precondition as ``_bpe_train``."""
    words = [
        ([w[0]] + ["##" + c for c in w[1:]], f)
        for w, f in _word_freqs(spark, sf_dir).items()
    ]
    merges: list[tuple] = []
    for _ in range(rounds):
        syms: Counter = Counter()
        pairs: Counter = Counter()
        for toks, f in words:
            for s in toks:
                syms[s] += f
            for p in zip(toks, toks[1:]):
                pairs[p] += f
        if not pairs:
            break
        neg_score, a, b = min(
            (-((cnt * WP_SCORE_SCALE) // (syms[a] * syms[b])), a, b)
            for (a, b), cnt in pairs.items()
        )
        merged = _wp_merged_symbol(a, b)
        merges.append(
            (
                len(merges) + 1,
                a,
                b,
                merged,
                pairs[(a, b)],
                syms[a],
                syms[b],
                -neg_score,
            )
        )
        words = [(_apply_merge(toks, a, b, merged), f) for toks, f in words]
    return merges


def wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer TRAINING — ``WP_TRAIN_ROUNDS`` likelihood-
    scored merge rounds (see the family note above), run on the driver
    over the collected word dictionary (``_wp_train``). Output: the
    bounded merge table with the full audit trail per round — the pair,
    its count, BOTH symbol frequencies, and the exact quantized score —
    so the oracle re-derives every argmax from first principles; a
    single wrong pair count, symbol frequency, or merge anywhere changes
    some round's winner and the tables diverge.

    Trained at sf0.01 this equals ``WORDPIECE_MERGES`` exactly
    (test-pinned, the ``BPE_MERGES`` convention)."""
    merges = _wp_train(spark, sf_dir, WP_TRAIN_ROUNDS)
    return local_frame(
        spark,
        merges,
        "merge_rank int, a string, b string, merged string, "
        "pair_count bigint, freq_a bigint, freq_b bigint, score18 bigint",
    )


def wordpiece_train_merges_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-DEPTH WordPiece trainer: :func:`wordpiece_train_merges`
    run for ``WP_TRAIN_ROUNDS_DEEP`` (32) rounds (the
    :func:`bpe_train_merges_deep` counterpart). Greedy training is
    prefix-stable, so rounds 1..16 equal ``WORDPIECE_MERGES`` exactly
    (test-pinned). The sf0.01 output is FROZEN as
    ``WORDPIECE_MERGES_DEEP`` — the artifact the encode /
    decode-roundtrip / fertility entries consume. The DuckDB oracle
    unrolls the same 32 rounds."""
    merges = _wp_train(spark, sf_dir, WP_TRAIN_ROUNDS_DEEP)
    return local_frame(
        spark,
        merges,
        "merge_rank int, a string, b string, merged string, "
        "pair_count bigint, freq_a bigint, freq_b bigint, score18 bigint",
    )


def _duck_wp_train_oracle(rounds: int = WP_TRAIN_ROUNDS) -> str:
    """DuckDB twin of ``wordpiece_train_merges``: the N-round trainer
    unrolled into MATERIALIZED CTEs — per round (symbol frequencies,
    pair counts, HUGEINT-exact quantized-score argmax, tokenwise fold),
    generated from the SAME round count and score scale so the engines
    can never drift. The fold reuses ``_duck_bpe_train_oracle``'s
    '<out>|<prev>' list_reduce accumulator, emitting m.merged."""
    fold = (
        "list_filter(string_split(replace("
        "list_reduce(['|'] || arr, (acc, x) -> "
        "CASE WHEN split_part(acc, '|', 2) = m.a AND x = m.b "
        "THEN split_part(acc, '|', 1) || m.merged || ' |' "
        "WHEN split_part(acc, '|', 2) = '' "
        "THEN split_part(acc, '|', 1) || '|' || x "
        "ELSE split_part(acc, '|', 1) || split_part(acc, '|', 2) "
        "|| ' |' || x END"
        "), '|', ''), ' '), t -> t <> '')"
    )
    parts = [
        f"""WITH w0 AS MATERIALIZED (
        SELECT list_transform(range(1, length(w) + 1),
                   i -> CASE WHEN i = 1
                             THEN substring(w, CAST(i AS INT), 1)
                             ELSE '##' || substring(w, CAST(i AS INT), 1)
                        END) AS arr,
               COUNT(*) AS freq
        FROM (
            SELECT unnest(list_filter(string_split(
                regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' '),
                w -> w <> '')) AS w
            FROM documents
        ) GROUP BY w
    )"""
    ]
    for k in range(rounds):
        parts.append(f""",
    sym{k} AS MATERIALIZED (
        SELECT s, SUM(freq) AS f FROM (
            SELECT unnest(arr) AS s, freq FROM w{k}
        ) GROUP BY s
    ),
    p{k} AS MATERIALIZED (
        SELECT u.a AS a, u.b AS b, SUM(freq) AS cnt FROM (
            SELECT freq,
                   unnest(list_transform(range(1, len(arr)),
                          i -> {{'a': arr[CAST(i AS INT)],
                                 'b': arr[CAST(i AS INT) + 1]}})) AS u
            FROM w{k}
            WHERE len(arr) >= 2
        ) GROUP BY u.a, u.b
    ),
    r{k} AS MATERIALIZED (
        SELECT p.a AS a, p.b AS b,
               p.a || CASE WHEN p.b LIKE '##%' THEN substring(p.b, 3)
                           ELSE p.b END AS merged,
               p.cnt AS cnt, sa.f AS fa, sb.f AS fb,
               CAST((CAST(p.cnt AS HUGEINT) * {WP_SCORE_SCALE})
                    // (CAST(sa.f AS HUGEINT) * CAST(sb.f AS HUGEINT))
                    AS BIGINT) AS score18
        FROM p{k} p
        JOIN sym{k} sa ON sa.s = p.a
        JOIN sym{k} sb ON sb.s = p.b
        ORDER BY score18 DESC, p.a, p.b LIMIT 1
    ),
    w{k + 1} AS MATERIALIZED (
        SELECT {fold} AS arr, freq
        FROM w{k}, (SELECT a, b, merged FROM r{k}) m
    )""")
    sel = "\n    UNION ALL ".join(
        f"SELECT {k + 1} AS merge_rank, a, b, merged, "
        f"CAST(cnt AS BIGINT) AS pair_count, CAST(fa AS BIGINT) AS freq_a, "
        f"CAST(fb AS BIGINT) AS freq_b, score18 FROM r{k}"
        for k in range(rounds)
    )
    return "".join(parts) + "\n    " + sel


# Frozen release artifact: `_wp_train(spark, sf0.01, 16)`'s own output
# (test-pinned to the trainer, the BPE_MERGES convention). Note the
# family signature vs BPE_MERGES: the likelihood score surfaces
# low-frequency-but-EXCLUSIVE pairs first ('q ##u' — every q is followed
# by u — then 'wi ##n ##d'), where BPE's count argmax starts at the
# globally most frequent pair regardless of exclusivity.
WORDPIECE_MERGES = (
    (1, "q", "##u", "qu", 871, 871, 4540, 220264317180616),
    (2, "l", "##i", "li", 910, 910, 4569, 218866272707375),
    (3, "w", "##i", "wi", 886, 886, 3659, 273298715496037),
    (4, "li", "##n", "lin", 910, 910, 4630, 215982721382289),
    (5, "wi", "##n", "win", 886, 886, 3720, 268817204301075),
    (6, "win", "##d", "wind", 886, 886, 1798, 556173526140155),
    (7, "f", "##i", "fi", 933, 1787, 2773, 188281314482061),
    (8, "b", "##i", "bi", 876, 1813, 1840, 262596225329144),
    (9, "##i", "##n", "##in", 964, 964, 2834, 352858151023288),
    (10, "bi", "##g", "big", 876, 876, 3596, 278086763070077),
    (11, "a", "##g", "ag", 901, 1781, 2720, 185991016282987),
    (12, "ag", "##g", "agg", 901, 901, 1819, 549752611324903),
    (13, "t", "##h", "th", 840, 1748, 2724, 176413068680127),
    (14, "##s", "##h", "##sh", 947, 2735, 1884, 183785714008469),
    (15, "##c", "##h", "##ch", 937, 2785, 937, 359066427289048),
    (16, "##b", "##l", "##bl", 908, 908, 6446, 155134967421656),
)

# Production-depth frozen artifact: `_wp_train(spark, sf0.01, 32)`'s own
# output (test-pinned, the BPE_MERGES_64 convention). Greedy training is
# prefix-stable, so rows 1..16 ARE WORDPIECE_MERGES (test-pinned); the
# deeper tail is where the vocab grows real multi-char pieces ('cust',
# 'filt', 'join', 'column') — this is the artifact the greedy encoder /
# decode roundtrip / fertility entries consume.
WORDPIECE_MERGES_DEEP = WORDPIECE_MERGES + (
    (17, "fi", "##l", "fil", 933, 933, 5538, 180570603105814),
    (18, "##u", "##s", "##us", 934, 3669, 1788, 142374315795378),
    (19, "c", "##us", "cus", 934, 1868, 934, 535331905781584),
    (20, "##u", "##p", "##up", 904, 2735, 1784, 185274755904608),
    (21, "##l", "##u", "##lu", 1831, 4605, 1831, 217155266015200),
    (22, "s", "##p", "sp", 880, 5422, 880, 184433788270011),
    (23, "##lu", "##m", "##lum", 934, 1831, 3684, 138464649411658),
    (24, "##lum", "##n", "##lumn", 934, 934, 1870, 534759358288770),
    (25, "##s", "##t", "##st", 854, 854, 8116, 123213405618531),
    (26, "##t", "##ch", "##tch", 937, 7262, 937, 137703112090333),
    (27, "cus", "##t", "cust", 934, 934, 6325, 158102766798418),
    (28, "fil", "##t", "filt", 933, 933, 5391, 185494342422556),
    (29, "##o", "##in", "##oin", 964, 8241, 964, 121344497027059),
    (30, "j", "##oin", "join", 964, 964, 964, 1037344398340248),
    (31, "##o", "##lumn", "##olumn", 934, 7277, 934, 137419266181118),
    (32, "c", "##olumn", "column", 934, 934, 934, 1070663811563169),
)

_WP_AZ = "abcdefghijklmnopqrstuvwxyz"


def _wp_vocab_sets() -> tuple[frozenset, frozenset, int]:
    """(initial pieces, continuation pieces WITHOUT their '##', max piece
    length) under the frozen PRODUCTION-DEPTH artifact
    (``WORDPIECE_MERGES_DEEP``) — BERT's vocab = every single char
    in both positions (so [a-z] words never hit UNK) plus every merge
    product in its own position class."""
    init, cont = set(_WP_AZ), set(_WP_AZ)
    for _, _, _, merged, *_ in WORDPIECE_MERGES_DEEP:
        if merged.startswith("##"):
            cont.add(merged[2:])
        else:
            init.add(merged)
    lmax = max(len(p) for p in init | cont)
    return frozenset(init), frozenset(cont), lmax


def _wp_segmented(spark: SparkSession, words: DataFrame) -> DataFrame:
    """Greedy longest-match-first WordPiece segmentation of every word
    type under the frozen vocab (BERT's exact inference rule: at each
    position take the LONGEST vocab piece — '##'-classed after position
    0 — and advance; single chars are always present so [a-z] input
    never UNKs). Arrow-batched ``mapInPandas`` over the distinct-type
    relation, vocab riding the closure — map-only, zero exchanges (the
    ``_unigram_segmented`` shape)."""
    init, cont, lmax = _wp_vocab_sets()

    def segment(w: str) -> tuple[int, str]:
        pos, ln, out = 0, len(w), []
        while pos < ln:
            cand = init if pos == 0 else cont
            l = min(lmax, ln - pos)
            while l > 1 and w[pos : pos + l] not in cand:
                l -= 1
            out.append(w[pos : pos + l] if pos == 0 else "##" + w[pos : pos + l])
            pos += l
        return len(out), " ".join(out)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ws = pdf["w"].tolist()
            segs = [segment(w) for w in ws]
            yield pd.DataFrame(
                {
                    "w": ws,
                    "cnt": pdf["cnt"].astype("int64"),
                    "n_pieces": [n for n, _ in segs],
                    "pieces": [p for _, p in segs],
                }
            )

    return words.mapInPandas(
        gen, "w string, cnt long, n_pieces int, pieces string"
    )


def wordpiece_encode_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every word type with the frozen WordPiece vocab (greedy
    longest-match-first) and report the piece-count histogram: per
    bucket, the word types, weighted occurrences, and occurrence-weighted
    character mass. The oracle replays the identical greedy automaton as
    an unrolled 16-step CTE chain over the same capped distinct-type
    relation — one wrong longest-match decision anywhere moves a type
    across buckets.

    Scale: the :func:`unigram_viterbi_segment` shape — one map-only
    Arrow pass over word TYPES (Zipf-bounded) + one bounded groupBy; the
    vocab is a closure/broadcast artifact."""
    words = _unigram_words(spark, sf_dir)
    seg = _wp_segmented(spark, words)
    return (
        seg.groupBy("n_pieces")
        .agg(
            F.count(F.lit(1)).alias("n_word_types"),
            F.sum("cnt").alias("n_occurrences"),
            F.sum(F.col("cnt") * F.length("w")).alias("total_chars"),
        )
        .orderBy("n_pieces")
    )


BPE_FRONTIER_KS = (0, 8, 16, 32, 64)  # merge-count prefixes of BPE_MERGES_64


def bpe_vocab_size_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE-COUNT FRONTIER a tokenizer release reads before
    freezing its vocab: corpus fertility under the first k merges of
    the production artifact, for k = 0 (char-level), 8, 16, 32, 64 —
    the subword twin of :func:`vocab_coverage_curve`'s word-level |V|
    frontier, answering "how much context window does each extra merge
    buy". Merge tables are PREFIX-CLOSED (merge k is trained on the
    state after merges 1..k-1), so every row re-applies a prefix of the
    same frozen artifact; fertility is non-increasing in k by
    construction (each merge only ever joins adjacent pieces) —
    monotonicity test-pinned. vocab_size = 26 + k (each merge adds
    exactly one symbol).

    Runs over the shared capped word stream (`_unigram_words`, ≤16-char
    types — the tokenizer_fertility_compare convention; the cap is
    applied identically in the oracle), so its k=64 row is the same
    metric as the compare table's BPE row, not bpe_fertility_report's
    uncapped per-language one.

    Scale: ONE pass over the distinct-TYPE relation computes all five
    encodings as parallel codegen string chains (zero joins, zero extra
    shuffles — the per-k chains share the scan), then one global agg;
    the occurrence weighting rides the type counts."""
    words = _unigram_words(spark, sf_dir)
    aggs = [
        F.count(F.lit(1)).alias("n_word_types"),
        F.sum("cnt").alias("n_words"),
    ]
    for k in BPE_FRONTIER_KS:
        n_k = F.size(
            F.split(F.trim(_bpe_sym(F.col("w"), BPE_MERGES_64[:k])), " ")
        )
        aggs.append(F.sum(F.col("cnt") * n_k).alias(f"p{k}"))
    wide = words.agg(*aggs)
    fam = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("n_merges"),
                    F.col(f"p{k}").alias("n_pieces"),
                )
                for k in BPE_FRONTIER_KS
            ]
        )
    )
    return (
        wide.select("n_word_types", "n_words", fam.alias("f"))
        .select(
            F.col("f.n_merges").alias("n_merges"),
            (F.col("f.n_merges") + 26).alias("vocab_size"),
            "n_word_types",
            "n_words",
            F.col("f.n_pieces").alias("n_pieces"),
            _ratio6(F.col("f.n_pieces"), F.col("n_words")).alias("fertility"),
        )
        .orderBy("n_merges")
    )


def wordpiece_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESSNESS certification for the WordPiece family
    (:func:`bpe_decode_roundtrip`'s twin — BERT detokenization): greedy
    pieces re-join by stripping the ``' ##'`` continuation delimiters,
    and the result must reproduce every word type EXACTLY — a wrong
    longest-match boundary, a piece emitted under the wrong position
    class, or a delimiter collision anywhere breaks the equality for
    that type and the ok-counts drop (test-pinned at exactly n_types /
    n_occurrences). Both engines decode the piece strings their own
    greedy automata produced, so the certification is independent per
    engine AND cross-checked through the shared output.

    Scale: the same one map-only Arrow pass over word TYPES as the
    encode histogram, plus one global agg to a single row."""
    words = _unigram_words(spark, sf_dir)
    seg = _wp_segmented(spark, words)
    ok = (
        F.replace(F.col("pieces"), F.lit(" ##"), F.lit("")) == F.col("w")
    ).cast("long")
    return seg.agg(
        F.count(F.lit(1)).alias("n_word_types"),
        F.sum("cnt").alias("n_occurrences"),
        F.sum(ok).alias("n_ok_types"),
        F.sum(F.col("cnt") * ok).alias("n_ok_occurrences"),
    )


def tokenizer_fertility_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TOKENIZER-CHOICE table a release publishes: per-language
    fertility (pieces per word) for all three production families — BPE
    (frozen 64-merge artifact), unigram-LM (frozen Viterbi vocab), and
    WordPiece (frozen 32-merge vocab) — over ONE shared normalized word
    stream (the unigram [a-z] stream, capped at ``UNIGRAM_MAX_WORD``
    chars), so the rows are apples-to-apples: ``n_words`` is identical
    across families by construction and only ``n_pieces`` moves. This is
    the cross-family certification `bpe_fertility_report` /
    `unigram_fertility_by_lang` each give singly (Ács 2019's comparison
    tables).

    Scale: all three segmenters run once over the DISTINCT-type relation
    (BPE as pure codegen string folds, unigram and WordPiece as map-only
    Arrow passes), joined into one bounded type table that broadcasts
    onto the occurrence stream; one map-side-combinable agg to ≤|langs|
    rows, exploded to long format driver-free."""
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", " ")
    wlist = F.filter(F.split(norm, " "), lambda x: x != F.lit(""))
    occ = docs.select("lang", F.explode(wlist).alias("w")).where(
        F.length("w") <= UNIGRAM_MAX_WORD
    )
    words = _unigram_words(spark, sf_dir)
    n_bpe = F.size(F.split(F.trim(_bpe_sym(F.col("w"), BPE_MERGES_64)), " "))
    bpe = words.select("w", n_bpe.alias("n_bpe"))
    uni = _unigram_segmented(spark, words, UNIGRAM_VOCAB).select(
        "w", F.col("n_pieces").alias("n_uni")
    )
    wp = _wp_segmented(spark, words).select(
        "w", F.col("n_pieces").alias("n_wp")
    )
    seg = bpe.join(uni, "w").join(wp, "w")
    per = (
        occ.join(F.broadcast(seg), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_bpe").alias("nb"),
            F.sum("n_uni").alias("nu"),
            F.sum("n_wp").alias("nw"),
        )
    )
    fam = F.explode(
        F.array(
            F.struct(
                F.lit("bpe").alias("family"), F.col("nb").alias("n_pieces")
            ),
            F.struct(
                F.lit("unigram").alias("family"), F.col("nu").alias("n_pieces")
            ),
            F.struct(
                F.lit("wordpiece").alias("family"),
                F.col("nw").alias("n_pieces"),
            ),
        )
    )
    return (
        per.select("lang", "n_words", fam.alias("f"))
        .select(
            F.col("f.family").alias("family"),
            "lang",
            "n_words",
            F.col("f.n_pieces").alias("n_pieces"),
            _ratio6(F.col("f.n_pieces"), F.col("n_words")).alias("fertility"),
        )
        .orderBy("family", "lang")
    )


def _duck_wp_greedy_ctes(with_words: bool = True) -> str:
    """The frozen-vocab greedy automaton as SQL: an unrolled 16-step
    MATERIALIZED CTE chain over the capped distinct-word-type relation —
    step i advances (pos, n) by the longest vocab match at pos, with the
    '##'-class branch generated from the SAME frozen sets as the Python
    kernel so the engines can never drift. Ends in ``wpseg``
    (w, cnt, n_pieces)."""
    init, cont, _ = _wp_vocab_sets()

    def by_len(pieces) -> dict[int, list[str]]:
        d: dict[int, list[str]] = {}
        for p in pieces:
            if len(p) > 1:
                d.setdefault(len(p), []).append(p)
        return d

    def case(d: dict[int, list[str]]) -> str:
        br = []
        for l in sorted(d, reverse=True):
            lits = ", ".join(f"'{p}'" for p in sorted(d[l]))
            br.append(
                f"WHEN list_contains([{lits}], substring(w, pos, {l})) "
                f"THEN {l}"
            )
        return "CASE " + " ".join(br) + " ELSE 1 END"

    init_case, cont_case = case(by_len(init)), case(by_len(cont))
    steps = [
        "wp0 AS MATERIALIZED (SELECT w, cnt, CAST(1 AS INT) AS pos, "
        "CAST(0 AS INT) AS n, '' AS s FROM words)"
    ]
    for i in range(1, UNIGRAM_MAX_WORD + 1):
        steps.append(f"""wp{i} AS MATERIALIZED (
        SELECT w, cnt,
               CASE WHEN pos > length(w) THEN pos
                    ELSE pos + ml END AS pos,
               CASE WHEN pos > length(w) THEN n ELSE n + 1 END AS n,
               CASE WHEN pos > length(w) THEN s
                    ELSE s || CASE WHEN pos = 1 THEN '' ELSE ' ##' END
                           || substring(w, pos, ml) END AS s
        FROM (SELECT w, cnt, pos, n, s,
                     CASE WHEN pos = 1 THEN {init_case}
                          ELSE {cont_case} END AS ml
              FROM wp{i - 1})
    )""")
    steps.append(
        f"wpseg AS MATERIALIZED (SELECT w, cnt, n AS n_pieces, s AS pieces "
        f"FROM wp{UNIGRAM_MAX_WORD})"
    )
    chain = ",\n    ".join(steps)
    if not with_words:
        return chain
    return f"""wordsrc AS MATERIALIZED (
        SELECT lang, unnest(list_filter(string_split(
                   regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' '),
                   x -> x <> '')) AS w
        FROM documents
    ),
    words AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM wordsrc
        WHERE LENGTH(w) <= {UNIGRAM_MAX_WORD} GROUP BY w
    ),
    {chain}"""


def _duck_bpe_word_levels(
    merges: tuple, prefix: str = "bl", seg_name: str = "bseg"
) -> str:
    """Per-word-TYPE twin of ``_duck_bpe_encode_report``'s chunked
    device: 8-merge CTE levels over the ``words`` relation (the 128
    nested replaces of a 64-merge chain exceed DuckDB's binder depth
    inline). Ends in ``seg_name`` (w, cnt, n_bpe)."""
    chunks = [merges[i : i + 8] for i in range(0, len(merges), 8)]
    lvls = [
        f"{prefix}0 AS MATERIALIZED (SELECT w, cnt, "
        r"(' ' || regexp_replace(w, '(.)', '\1 ', 'g')) AS s FROM words)"
    ]
    for idx, ch in enumerate(chunks):
        e = "s"
        for a, b in ch:
            pat, rep = f"' {a} {b} '", f"' {a}{b} '"
            e = f"replace(replace({e}, {pat}, {rep}), {pat}, {rep})"
        lvls.append(
            f"{prefix}{idx + 1} AS MATERIALIZED "
            f"(SELECT w, cnt, {e} AS s FROM {prefix}{idx})"
        )
    lvls.append(
        f"{seg_name} AS MATERIALIZED (SELECT w, cnt, "
        f"len(string_split(trim(s), ' ')) AS n_bpe "
        f"FROM {prefix}{len(chunks)})"
    )
    return ",\n    ".join(lvls)


QUERIES = {
    "quality_classifier_score": quality_classifier_score,
    "bpe_train_merges": bpe_train_merges,
    "bpe_train_merges_deep": bpe_train_merges_deep,
    "doc_bm25_search": doc_bm25_search,
    "pmi_collocations": pmi_collocations,
    "doc_lang_confusion": doc_lang_confusion,
    "source_quality_report": source_quality_report,
    "lang_char_entropy": lang_char_entropy,
    "doc_length_histogram": doc_length_histogram,
    "doc_length_outliers": doc_length_outliers,
    "vocab_oov_rate": vocab_oov_rate,
    "vocab_coverage_curve": vocab_coverage_curve,
    "negative_sampling_weights": negative_sampling_weights,
    "doc_token_chunks": doc_token_chunks,
    "quality_method_agreement": quality_method_agreement,
    "bpe_first_merges": bpe_first_merges,
    "bpe_encode_fixed_merges": bpe_encode_fixed_merges,
    "bpe_encode_merges64": bpe_encode_merges64,
    "bpe_decode_roundtrip": bpe_decode_roundtrip,
    "bpe_fertility_report": bpe_fertility_report,
    "ccnet_perplexity_buckets": ccnet_perplexity_buckets,
    "ccnet_tercile_cutpoints": ccnet_tercile_cutpoints,
    "ccnet_pipeline": ccnet_pipeline,
    "text_quality": text_quality,
    "text_normalize": text_normalize,
    "lang_id": lang_id,
    "token_stats": token_stats,
    "doc_fingerprint": doc_fingerprint,
    "doc_repetition_stats": doc_repetition_stats,
    "benchmark_contamination": benchmark_contamination,
    "text_redact_pii": text_redact_pii,
    "unigram_logprob_score": unigram_logprob_score,
    "dsir_importance_weights": dsir_importance_weights,
    "dsir_select_threshold": dsir_select_threshold,
    "quality_filter_funnel": quality_filter_funnel,
    "quality_band_sample": quality_band_sample,
    "token_frequency_spectrum": token_frequency_spectrum,
    "gopher_quality_rules": gopher_quality_rules,
    "bigram_logprob_score": bigram_logprob_score,
    "kneser_ney_bigram_score": kneser_ney_bigram_score,
    "unigram_viterbi_segment": unigram_viterbi_segment,
    "unigram_fertility_by_lang": unigram_fertility_by_lang,
    "unigram_prune_report": unigram_prune_report,
    "wordpiece_train_merges": wordpiece_train_merges,
    "wordpiece_train_merges_deep": wordpiece_train_merges_deep,
    "wordpiece_encode_greedy": wordpiece_encode_greedy,
    "wordpiece_decode_roundtrip": wordpiece_decode_roundtrip,
    "bpe_vocab_size_frontier": bpe_vocab_size_frontier,
    "tokenizer_fertility_compare": tokenizer_fertility_compare,
}

ORACLE = {
    "bpe_first_merges": f"""
        WITH words AS (
            SELECT UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
            FROM documents
        ),
        pairs AS (
            SELECT substring(w, CAST(i AS INT), 1) AS c1,
                   substring(w, CAST(i AS INT) + 1, 1) AS c2
            FROM words, UNNEST(range(1, length(w))) AS u(i)
            WHERE length(w) >= 2
        )
        SELECT c1, c2, COUNT(*) AS pair_count
        FROM pairs GROUP BY c1, c2
        ORDER BY pair_count DESC, c1, c2 LIMIT {BPE_TOPK}
    """,
    "doc_length_histogram": """
        SELECT lang,
               CAST(length(bin(GREATEST(n_chars, 1))) AS INT) AS log2_bucket,
               COUNT(*) AS n_docs,
               MIN(n_chars) AS min_chars,
               MAX(n_chars) AS max_chars,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang, log2_bucket
    """,
    "lang_char_entropy": """
        WITH chars AS (
            SELECT lang, UNNEST(string_split(lower(text), '')) AS ch
            FROM documents
        ),
        per_char AS (
            SELECT lang, ch, COUNT(*) AS c FROM chars
            WHERE ch <> '' GROUP BY 1, 2
        )
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n_chars_total,
               COUNT(*) AS distinct_chars,
               ROUND(ln(CAST(SUM(c) AS DOUBLE))
                     - CAST(SUM(CAST(c * ln(CAST(c AS DOUBLE))
                                     AS DECIMAL(28,16))) AS DOUBLE)
                       / CAST(SUM(c) AS BIGINT), 6) AS entropy_nats
        FROM per_char GROUP BY lang
    """,
    "source_quality_report": rf"""
        WITH sig AS (
            SELECT source, n_chars,
                   CASE WHEN n_tokens >= 10
                         AND n_stop * 20 >= n_tokens
                         AND n_punct * 5 <= len_text
                        THEN 1 ELSE 0 END AS ok
            FROM (
                SELECT source, n_chars,
                       CAST(len({_DUCK_TOKS}) AS INT) AS n_tokens,
                       CAST(len(list_filter({_DUCK_TOKS},
                            t -> {_duck_in(STOPWORDS_EN)})) AS INT) AS n_stop,
                       length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                           AS n_punct,
                       length(text) AS len_text
                FROM documents
            )
        )
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(ok) AS BIGINT) AS n_quality_ok,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               {_duck_ratio6("CAST(SUM(ok) AS BIGINT)", "COUNT(*)")} AS ok_rate
        FROM sig GROUP BY source
    """,
    "pmi_collocations": rf"""
        WITH base AS (
            SELECT {_DUCK_TOKS} AS toks FROM documents
        ),
        pairs AS (
            SELECT toks[CAST(i AS INT) + 1] AS w1,
                   toks[CAST(i AS INT) + 2] AS w2
            FROM base, UNNEST(range(len(toks) - 1)) AS u(i)
            WHERE len(toks) >= 2
        ),
        pc AS (
            SELECT w1, w2, COUNT(*) AS c_ab FROM pairs GROUP BY 1, 2
            HAVING COUNT(*) >= {PMI_MIN_PAIR}
        ),
        uni AS (
            SELECT x AS w, COUNT(*) AS c
            FROM (SELECT UNNEST(toks) AS x FROM base) GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(len(toks)) AS BIGINT) AS n,
                   CAST(SUM(GREATEST(len(toks) - 1, 0)) AS BIGINT) AS m
            FROM base
        )
        SELECT w1, w2, c_ab, ua.c AS c_a, ub.c AS c_b,
               ROUND(ln(CAST(c_ab AS DOUBLE))
                     + 2.0 * ln(CAST(n AS DOUBLE))
                     - ln(CAST(m AS DOUBLE))
                     - ln(CAST(ua.c AS DOUBLE))
                     - ln(CAST(ub.c AS DOUBLE)), 6) AS pmi
        FROM pc JOIN uni ua ON pc.w1 = ua.w
                JOIN uni ub ON pc.w2 = ub.w
                CROSS JOIN tot
        ORDER BY c_ab DESC, w1, w2 LIMIT {PMI_TOPK}
    """,
    "doc_lang_confusion": rf"""
        WITH pred AS (
            SELECT lang,
                   CASE WHEN len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_EN)}))
                             >= len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_DE)}))
                         AND len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_EN)}))
                             >= len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_FR)}))
                        THEN 'en'
                        WHEN len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_DE)}))
                             >= len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_FR)}))
                        THEN 'de' ELSE 'fr' END AS pred_lang
            FROM documents
        )
        SELECT lang, pred_lang, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_correct
        FROM pred GROUP BY lang, pred_lang
    """,
    "doc_bm25_search": rf"""
        WITH base AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ),
        toks AS (
            SELECT doc_id, len(toks) AS dl, UNNEST(toks) AS t FROM base
        ),
        stats AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(len(toks) AS DECIMAL(28,8))) AS DOUBLE)
                       / COUNT(*) AS avgdl
            FROM base
        ),
        hits AS (
            SELECT * FROM toks
            WHERE t IN ({', '.join(f"'{w}'" for w in BM25_QUERY)})
        ),
        tf AS (
            SELECT doc_id, dl, t, COUNT(*) AS tf FROM hits GROUP BY 1, 2, 3
        ),
        dft AS (
            SELECT t, COUNT(*) AS df
            FROM (SELECT DISTINCT t, doc_id FROM hits) GROUP BY t
        ),
        scored AS (
            SELECT tf.doc_id,
                   ln((s.n - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
                   * (tf.tf * ({BM25_K1} + 1))
                   / (tf.tf + {BM25_K1}
                      * (1 - {BM25_B} + {BM25_B} * tf.dl / s.avgdl)) AS sc
            FROM tf JOIN dft ON tf.t = dft.t CROSS JOIN stats s
        )
        SELECT doc_id,
               ROUND(CAST(SUM(CAST(sc AS DECIMAL(28,16))) AS DOUBLE), 6) AS bm25
        FROM scored GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id ASC LIMIT {BM25_TOPK}
    """,
    "text_normalize": """
        SELECT doc_id,
               TRIM(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS text_norm,
               LENGTH(text) AS len_raw,
               LENGTH(TRIM(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS len_norm
        FROM documents
    """,
    "text_quality": rf"""
        SELECT doc_id, n_chars, n_tokens, n_stop, n_punct,
               {_duck_ratio6("n_nonspace", "n_tokens")} AS avg_token_len,
               {_duck_ratio6("n_stop", "n_tokens")} AS stopword_ratio,
               {_duck_ratio6("n_punct", "len_text")} AS punct_ratio,
               CAST(n_tokens >= 10
                    AND n_stop * 20 >= n_tokens
                    AND n_punct * 5 <= len_text AS INT) AS quality_ok
        FROM (
            SELECT doc_id, n_chars,
                   CAST(len({_DUCK_TOKS}) AS INT) AS n_tokens,
                   length(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace,
                   length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
                   CAST(len(list_filter({_DUCK_TOKS},
                        t -> {_duck_in(STOPWORDS_EN)})) AS INT) AS n_stop,
                   length(text) AS len_text
            FROM documents
        )
    """,
    "lang_id": rf"""
        SELECT doc_id, lang, en_hits, de_hits, fr_hits, pred_lang,
               CAST(pred_lang = lang AS INT) AS lang_match
        FROM (
            SELECT doc_id, lang,
                   CAST(len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_EN)})) AS INT) AS en_hits,
                   CAST(len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_DE)})) AS INT) AS de_hits,
                   CAST(len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_FR)})) AS INT) AS fr_hits,
                   CASE WHEN len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_EN)}))
                             >= len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_DE)}))
                         AND len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_EN)}))
                             >= len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_FR)}))
                        THEN 'en'
                        WHEN len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_DE)}))
                             >= len(list_filter({_DUCK_TOKS}, t -> {_duck_in(STOPWORDS_FR)}))
                        THEN 'de' ELSE 'fr' END AS pred_lang
            FROM documents
        )
    """,
    "token_stats": rf"""
        SELECT doc_id,
               CAST(len({_DUCK_TOKS}) AS INT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS word_tokens,
               CAST(CEIL(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens,
               CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS INT)
                   AS unique_words
        FROM documents
    """,
    "doc_fingerprint": rf"""
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform({_DUCK_TOKS}, t -> {_DUCK_TH} % {_FP_MOD})),
                   (acc, h) -> (acc * 31 + h) % {_FP_MOD}
               ) AS fingerprint
        FROM documents
    """,
}


_DUCK_TRI = ("list_transform(range(1, len(ts) - 1), "
             "i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))")
_DUCK_BI = ("list_transform(range(1, len(ts)), "
            "i -> concat_ws(' ', ts[i], ts[i+1]))")
_DUCK_8G = ("list_transform(range(1, len(ts) - 6), i -> concat_ws(' ', "
            + ", ".join(f"ts[i+{j}]" for j in range(8)) + "))")

ORACLE["doc_repetition_stats"] = rf"""
    WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    f AS (SELECT * FROM base WHERE len(ts) >= 3),
    tri AS (SELECT doc_id, unnest({_DUCK_TRI}) AS g FROM f),
    tstats AS (SELECT doc_id, COUNT(*) AS n_trigrams,
                      COUNT(DISTINCT g) AS d FROM tri GROUP BY 1),
    bi AS (SELECT doc_id, unnest({_DUCK_BI}) AS g FROM f),
    bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2),
    btop AS (SELECT doc_id, MAX(c) AS top_bigram, SUM(c) AS n_bigrams
             FROM bc GROUP BY 1)
    SELECT t.doc_id, t.n_trigrams,
           ROUND(1 - CAST(t.d AS DOUBLE) / t.n_trigrams, 6)
               AS dup_trigram_frac,
           ROUND(CAST(b.top_bigram AS DOUBLE) / b.n_bigrams, 6)
               AS top_bigram_frac
    FROM tstats t JOIN btop b USING (doc_id)
"""

ORACLE["benchmark_contamination"] = rf"""
    WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    f AS (SELECT * FROM base WHERE len(ts) >= {CONTAM_N}),
    grams AS (SELECT doc_id, unnest({_DUCK_8G}) AS g FROM f),
    bench AS (SELECT DISTINCT g FROM grams
              WHERE doc_id % {CONTAM_MOD} = 0
                AND doc_id < {LEX_BENCH_ID_CAP})
    SELECT doc_id, COUNT(DISTINCT g) AS n_shared_ngrams
    FROM grams JOIN bench USING (g)
    WHERE {_lex_train_sql()}
    GROUP BY doc_id
"""

_DUCK_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
ORACLE["text_redact_pii"] = rf"""
    WITH w AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN concat(text, ' contact user',
                        CAST(doc_id AS VARCHAR), '@example.com now')
                    WHEN doc_id % 11 = 0 THEN concat(text, ' call 55500012345')
                    ELSE text END AS t0
        FROM documents
    ),
    ne AS (SELECT doc_id, t0,
                  regexp_replace(t0, '{_DUCK_EMAIL}', '<EMAIL>', 'g') AS t1
           FROM w)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t0, '{_DUCK_EMAIL}')) AS INT)
               AS n_emails,
           CAST(len(regexp_extract_all(t1, '[0-9]{{7,}}')) AS INT)
               AS n_longnums,
           CAST(length(t0) AS INT) AS len_raw,
           CAST(length(regexp_replace(t1, '[0-9]{{7,}}', '<NUM>', 'g')) AS INT)
               AS len_redacted
    FROM ne
"""

ORACLE["unigram_logprob_score"] = rf"""
    WITH toks AS (
        SELECT doc_id, unnest({_DUCK_TOKS}) AS t FROM documents
    ),
    vocab AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
    tot AS (SELECT COUNT(*) AS n, COUNT(DISTINCT t) AS v FROM toks),
    scored AS (
        SELECT k.doc_id,
               -ln(CAST(vocab.c + 1 AS DOUBLE) / (tot.n + tot.v)) AS nlp
        FROM toks k JOIN vocab USING (t) CROSS JOIN tot
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(CAST(nlp AS DECIMAL(28,16))) AS DOUBLE) / COUNT(*), 6)
               AS avg_neg_logprob
    FROM scored GROUP BY doc_id
"""

ORACLE["token_frequency_spectrum"] = rf"""
    WITH vocab AS (
        SELECT t, COUNT(*) AS tf FROM (
            SELECT unnest({_DUCK_TOKS}) AS t FROM documents
        ) GROUP BY t
    ),
    spectrum AS (
        SELECT tf, COUNT(*) AS n_tokens FROM vocab GROUP BY tf
    ),
    tot AS (SELECT SUM(n_tokens * tf) AS total_tokens FROM spectrum)
    SELECT tf AS occurrences, n_tokens,
           ROUND(CAST(n_tokens * tf AS DOUBLE) / total_tokens, 6)
               AS mass_fraction
    FROM spectrum CROSS JOIN tot
"""

ORACLE["quality_band_sample"] = rf"""
    WITH toks AS (
        SELECT doc_id, unnest({_DUCK_TOKS}) AS t FROM documents
    ),
    vocab AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
    tot AS (SELECT COUNT(*) AS n, COUNT(DISTINCT t) AS v FROM toks),
    scored AS (
        SELECT k.doc_id,
               -ln(CAST(vocab.c + 1 AS DOUBLE) / (tot.n + tot.v)) AS nlp
        FROM toks k JOIN vocab USING (t) CROSS JOIN tot
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_tokens,
               SUM(CAST(nlp AS DECIMAL(28,16))) AS nlp_sum
        FROM scored GROUP BY doc_id
    ),
    flagged AS (
        SELECT doc_id, n_tokens,
               CASE WHEN nlp_sum < n_tokens * CAST({QUALITY_BAND_EDGES[0]}
                        AS DECIMAL(3,2)) THEN 'low'
                    WHEN nlp_sum < n_tokens * CAST({QUALITY_BAND_EDGES[1]}
                        AS DECIMAL(3,2)) THEN 'mid'
                    ELSE 'high' END AS band,
               CASE WHEN
                   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                        1, 15)) AS BIGINT) % 100 <
                   CASE WHEN nlp_sum < n_tokens * CAST({QUALITY_BAND_EDGES[0]}
                            AS DECIMAL(3,2))
                            THEN {QUALITY_BAND_KEEP_PCT["low"]}
                        WHEN nlp_sum < n_tokens * CAST({QUALITY_BAND_EDGES[1]}
                            AS DECIMAL(3,2))
                            THEN {QUALITY_BAND_KEEP_PCT["mid"]}
                        ELSE {QUALITY_BAND_KEEP_PCT["high"]} END
               THEN 1 ELSE 0 END AS kept
        FROM per_doc
    )
    SELECT band, COUNT(*) AS total_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(kept) AS BIGINT) AS kept_docs,
           CAST(SUM(kept * n_tokens) AS BIGINT) AS kept_tokens
    FROM flagged GROUP BY band
"""

ORACLE["dsir_importance_weights"] = rf"""
    WITH toks AS (
        SELECT doc_id, lang, unnest({_DUCK_TOKS}) AS t FROM documents
    ),
    b AS (
        SELECT doc_id, {_DUCK_TH} % {DSIR_BUCKETS} AS bkt,
               CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END AS tgt
        FROM toks
    ),
    counts AS (
        SELECT bkt, COUNT(*) AS raw_c, SUM(tgt) AS tgt_c FROM b GROUP BY bkt
    ),
    tot AS (SELECT COUNT(*) AS n_raw, SUM(tgt) AS n_tgt FROM b),
    w AS (
        SELECT bkt,
               ln((tgt_c + 1.0) / (n_tgt + {DSIR_BUCKETS}))
             - ln((raw_c + 1.0) / (n_raw + {DSIR_BUCKETS})) AS w
        FROM counts CROSS JOIN tot
    )
    SELECT b.doc_id, COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(CAST(w.w AS DECIMAL(28,16))) AS DOUBLE), 6)
               AS log_importance
    FROM b JOIN w USING (bkt)
    GROUP BY b.doc_id
"""

def _duck_bpe_encode(var: str, merges: tuple = BPE_MERGES) -> str:
    """The DuckDB twin of ``_encode`` — generated from the SAME merge
    tuple so the two engines can never drift."""
    s = f"' ' || regexp_replace({var}, '(.)', '\\1 ', 'g')"
    for a, b in merges:
        pat, rep = f"' {a} {b} '", f"' {a}{b} '"
        s = f"replace(replace({s}, {pat}, {rep}), {pat}, {rep})"
    return f"len(string_split(trim({s}), ' '))"


def _duck_bpe_encode_report(merges: tuple) -> str:
    """Oracle for the per-doc encode report. Two shapes, same values:
    small merge tables inline the full replace chain inside
    list_transform; deep tables (64 merges = 128 nested replaces)
    exceed DuckDB's 128-deep binder recursion, so the chain is split
    into CTE LEVELS of 8 merges each over the exploded word stream and
    re-aggregated per doc — chunk boundaries don't change the result
    (the replace chain is applied left-to-right either way)."""
    if len(merges) <= 16:
        return f"""
    WITH w AS (
        SELECT doc_id, lang,
               list_filter(string_split(
                   regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' '),
                   w -> w <> '') AS words
        FROM documents
    ),
    enc AS (
        SELECT doc_id, lang,
               CAST(len(words) AS INT) AS n_words,
               CAST(list_sum(list_transform(words, w -> length(w)))
                    AS BIGINT) AS n_az_chars,
               CAST(list_sum(list_transform(words,
                    w -> {_duck_bpe_encode("w", merges)}))
                   AS BIGINT) AS n_bpe_tokens
        FROM w
    )
    SELECT doc_id, lang, n_words, n_az_chars, n_bpe_tokens,
           {_duck_ratio6("n_az_chars", "n_bpe_tokens")} AS chars_per_token
    FROM enc
"""
    chunks = [merges[i : i + 8] for i in range(0, len(merges), 8)]
    lvls = []
    for idx, ch in enumerate(chunks):
        e = (
            r"(' ' || regexp_replace(wd, '(.)', '\1 ', 'g'))"
            if idx == 0
            else "s"
        )
        for a, b in ch:
            pat, rep = f"' {a} {b} '", f"' {a}{b} '"
            e = f"replace(replace({e}, {pat}, {rep}), {pat}, {rep})"
        lvls.append(
            f"e{idx + 1} AS (SELECT doc_id, lang, lw, {e} AS s FROM e{idx})"
        )
    last = f"e{len(chunks)}"
    lvl_sql = ",\n    ".join(lvls)
    return f"""
    WITH w AS (
        SELECT doc_id, lang,
               list_filter(string_split(
                   regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' '),
                   w -> w <> '') AS words
        FROM documents
    ),
    e0 AS (
        SELECT doc_id, lang, length(wd) AS lw, wd
        FROM (SELECT doc_id, lang, unnest(words) AS wd FROM w)
    ),
    {lvl_sql},
    agg AS (
        SELECT doc_id, lang,
               CAST(COUNT(*) AS INT) AS n_words,
               CAST(SUM(lw) AS BIGINT) AS n_az_chars,
               CAST(SUM(len(string_split(trim(s), ' '))) AS BIGINT)
                   AS n_bpe_tokens
        FROM {last} GROUP BY doc_id, lang
    )
    SELECT w.doc_id, w.lang,
           COALESCE(a.n_words, 0) AS n_words,
           a.n_az_chars, a.n_bpe_tokens,
           CASE WHEN a.n_bpe_tokens IS NULL THEN NULL
                ELSE {_duck_ratio6("a.n_az_chars", "a.n_bpe_tokens")}
           END AS chars_per_token
    FROM w LEFT JOIN agg a USING (doc_id, lang)
"""


ORACLE["bpe_encode_fixed_merges"] = _duck_bpe_encode_report(BPE_MERGES)
ORACLE["bpe_encode_merges64"] = _duck_bpe_encode_report(BPE_MERGES_64)

ORACLE["bpe_fertility_report"] = f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_az_chars) AS BIGINT) AS n_az_chars,
           CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
           {_duck_ratio6("SUM(n_bpe_tokens)", "SUM(n_words)")} AS fertility,
           {_duck_ratio6("SUM(n_az_chars)", "SUM(n_bpe_tokens)")}
               AS chars_per_token
    FROM ({_duck_bpe_encode_report(BPE_MERGES_64)}) per_doc
    GROUP BY lang
"""


def _duck_bpe_roundtrip(merges: tuple) -> str:
    """Round-trip oracle: the same leveled replace-chain CTEs as the
    deep encode report (8 merges per level, under the binder depth
    cap), but the exploded word rides along so the final level can
    compare strip-spaces(encoded) against it."""
    chunks = [merges[i : i + 8] for i in range(0, len(merges), 8)]
    lvls = []
    for idx, ch in enumerate(chunks):
        e = (
            r"(' ' || regexp_replace(wd, '(.)', '\1 ', 'g'))"
            if idx == 0
            else "s"
        )
        for a, b in ch:
            pat, rep = f"' {a} {b} '", f"' {a}{b} '"
            e = f"replace(replace({e}, {pat}, {rep}), {pat}, {rep})"
        lvls.append(f"e{idx + 1} AS (SELECT doc_id, wd, {e} AS s FROM e{idx})")
    last = f"e{len(chunks)}"
    lvl_sql = ",\n    ".join(lvls)
    return f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(
                   regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' '),
                   w -> w <> '') AS words
        FROM documents
    ),
    e0 AS (SELECT doc_id, unnest(words) AS wd FROM w),
    {lvl_sql},
    agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS INT) AS n_words,
               CAST(SUM(CASE WHEN replace(trim(s), ' ', '') = wd
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_roundtrip_ok
        FROM {last} GROUP BY doc_id
    )
    SELECT w.doc_id,
           COALESCE(a.n_words, 0) AS n_words,
           CAST(COALESCE(a.n_roundtrip_ok, 0) AS BIGINT) AS n_roundtrip_ok
    FROM w LEFT JOIN agg a USING (doc_id)
"""


ORACLE["bpe_decode_roundtrip"] = _duck_bpe_roundtrip(BPE_MERGES_64)

ORACLE["vocab_oov_rate"] = rf"""
    WITH toks AS (
        SELECT lang, unnest({_DUCK_TOKS}) AS t FROM documents
    ),
    vocab AS (
        SELECT t, 1 AS in_v FROM (
            SELECT t, COUNT(*) AS c FROM toks GROUP BY t
            ORDER BY c DESC, t LIMIT {VOCAB_K}
        )
    )
    SELECT lang, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.in_v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           {_duck_ratio6("SUM(CASE WHEN v.in_v IS NULL THEN 1 ELSE 0 END)",
                         "COUNT(*)")} AS oov_rate
    FROM toks LEFT JOIN vocab v USING (t)
    GROUP BY lang
"""

ORACLE["doc_token_chunks"] = rf"""
    WITH base AS (
        SELECT doc_id, lang, len({_DUCK_TOKS}) AS n_tokens FROM documents
    )
    SELECT doc_id, lang,
           CAST(start_tok // {CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(start_tok AS INT) AS start_tok,
           CAST(LEAST(start_tok + {CHUNK_TOKENS}, n_tokens) AS INT)
               AS end_tok,
           CASE WHEN start_tok + {CHUNK_STRIDE} >= n_tokens
                THEN 1 ELSE 0 END AS is_last
    FROM (
        SELECT doc_id, lang, n_tokens,
               UNNEST(range(0, n_tokens, {CHUNK_STRIDE})) AS start_tok
        FROM base WHERE n_tokens > 0
    )
"""


def _quality_agreement_oracle() -> str:
    tq = ORACLE["text_quality"]
    gq = ORACLE["gopher_quality_rules"]
    return f"""
        WITH tq AS (SELECT doc_id, quality_ok FROM ({tq})),
        gq AS (SELECT doc_id, n_tokens, gopher_ok FROM ({gq}))
        SELECT tq.quality_ok, gq.gopher_ok, COUNT(*) AS n_docs,
               CAST(SUM(gq.n_tokens) AS BIGINT) AS n_tokens
        FROM tq JOIN gq USING (doc_id)
        GROUP BY tq.quality_ok, gq.gopher_ok
    """


ORACLE["vocab_coverage_curve"] = rf"""
    WITH toks AS (
        SELECT unnest({_DUCK_TOKS}) AS t FROM documents
    ),
    ranked AS (
        SELECT t, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t) AS rnk
        FROM toks GROUP BY t
    ),
    scored AS (SELECT r.rnk FROM toks JOIN ranked r USING (t)),
    sizes AS (
        SELECT UNNEST([{", ".join(str(s) for s in VOCAB_CURVE_SIZES)}])
            AS vocab_size
    )
    SELECT CAST(s.vocab_size AS INT) AS vocab_size,
           (SELECT COUNT(*) FROM scored) AS n_tokens,
           CAST(SUM(CASE WHEN sc.rnk > s.vocab_size THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           {_duck_ratio6(
               "SUM(CASE WHEN sc.rnk > s.vocab_size THEN 1 ELSE 0 END)",
               "COUNT(*)")} AS oov_rate
    FROM sizes s CROSS JOIN scored sc
    GROUP BY s.vocab_size
"""

ORACLE["negative_sampling_weights"] = rf"""
    WITH vocab AS (
        SELECT t, COUNT(*) AS c,
               CAST(sqrt(CAST(COUNT(*) AS DOUBLE))
                    * sqrt(sqrt(CAST(COUNT(*) AS DOUBLE)))
                    AS DECIMAL(28,16)) AS w_dec
        FROM (SELECT unnest({_DUCK_TOKS}) AS t FROM documents)
        GROUP BY t
    ),
    tot AS (SELECT SUM(w_dec) AS w_sum FROM vocab)
    SELECT t, c,
           ROUND(CAST(w_dec AS DOUBLE), 6) AS weight,
           ROUND(CAST(w_dec AS DOUBLE) / CAST(w_sum AS DOUBLE), 6)
               AS sample_share
    FROM vocab CROSS JOIN tot
    ORDER BY c DESC, t LIMIT {NEG_SAMPLE_TOPK}
"""

ORACLE["doc_length_outliers"] = f"""
    WITH med AS (
        SELECT lang, CAST(2 * quantile_cont(n_chars, 0.5) AS BIGINT) AS med_x2
        FROM documents GROUP BY lang
    ),
    dev AS (
        SELECT d.lang, m.med_x2,
               ABS(2 * d.n_chars - m.med_x2) AS dev_x2
        FROM documents d JOIN med m USING (lang)
    ),
    mad AS (
        SELECT lang, CAST(2 * quantile_cont(dev_x2, 0.5) AS BIGINT) AS mad_x4
        FROM dev GROUP BY lang
    )
    SELECT v.lang, COUNT(*) AS n_docs,
           MAX(v.med_x2) AS med_x2, MAX(a.mad_x4) AS mad_x4,
           CAST(SUM(CASE WHEN v.dev_x2 * 2 > a.mad_x4 * {MAD_K}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           MAX(v.dev_x2) AS max_dev_x2
    FROM dev v JOIN mad a USING (lang)
    GROUP BY v.lang
"""

ORACLE["dsir_select_threshold"] = rf"""
    WITH toks AS (
        SELECT doc_id, lang, unnest({_DUCK_TOKS}) AS t FROM documents
    ),
    b AS (
        SELECT doc_id, lang, {_DUCK_TH} % {DSIR_BUCKETS} AS bkt,
               CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END AS tgt
        FROM toks
    ),
    counts AS (
        SELECT bkt, COUNT(*) AS raw_c, SUM(tgt) AS tgt_c FROM b GROUP BY bkt
    ),
    tot AS (SELECT COUNT(*) AS n_raw, SUM(tgt) AS n_tgt FROM b),
    w AS (
        SELECT bkt,
               ln((tgt_c + 1.0) / (n_tgt + {DSIR_BUCKETS}))
             - ln((raw_c + 1.0) / (n_raw + {DSIR_BUCKETS})) AS w
        FROM counts CROSS JOIN tot
    ),
    per_doc AS (
        SELECT b.doc_id, b.lang, COUNT(*) AS n_tokens,
               SUM(CAST(w.w AS DECIMAL(28,16))) AS w_sum
        FROM b JOIN w USING (bkt)
        GROUP BY b.doc_id, b.lang
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN w_sum > n_tokens *
                    CAST({DSIR_ADMIT_TAU} AS DECIMAL(6,3)) THEN 1 ELSE 0 END)
                AS BIGINT) AS admitted_docs,
           CAST(SUM(CASE WHEN w_sum > n_tokens *
                    CAST({DSIR_ADMIT_TAU} AS DECIMAL(6,3)) THEN n_tokens
                    ELSE 0 END) AS BIGINT) AS admitted_tokens,
           {_duck_ratio6(
               f"SUM(CASE WHEN w_sum > n_tokens * "
               f"CAST({DSIR_ADMIT_TAU} AS DECIMAL(6,3)) THEN 1 ELSE 0 END)",
               "COUNT(*)")} AS admit_doc_share,
           {_duck_ratio6(
               f"SUM(CASE WHEN w_sum > n_tokens * "
               f"CAST({DSIR_ADMIT_TAU} AS DECIMAL(6,3)) THEN n_tokens "
               f"ELSE 0 END)",
               "SUM(n_tokens)")} AS admit_token_share
    FROM per_doc GROUP BY lang
"""

ORACLE["quality_filter_funnel"] = rf"""
    WITH sig AS (
        SELECT lang,
               CAST(len({_DUCK_TOKS}) AS INT) AS n_tokens,
               CAST(len(list_filter({_DUCK_TOKS},
                    t -> {_duck_in(STOPWORDS_EN)})) AS INT) AS n_stop,
               length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
               length(text) AS len_text
        FROM documents
    ),
    reasons AS (
        SELECT lang,
               CASE
                 WHEN n_tokens < 10 THEN 'too_short'
                 WHEN n_stop * 20 < n_tokens THEN 'low_stopwords'
                 WHEN n_punct * 5 > len_text THEN 'punct_soup'
                 ELSE 'kept'
               END AS reason
        FROM sig
    )
    SELECT lang, COUNT(*) AS total_docs,
           CAST(SUM(CASE WHEN reason = 'too_short' THEN 1 ELSE 0 END)
               AS BIGINT) AS removed_too_short,
           CAST(SUM(CASE WHEN reason = 'low_stopwords' THEN 1 ELSE 0 END)
               AS BIGINT) AS removed_low_stopwords,
           CAST(SUM(CASE WHEN reason = 'punct_soup' THEN 1 ELSE 0 END)
               AS BIGINT) AS removed_punct_soup,
           CAST(SUM(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END)
               AS BIGINT) AS kept_docs
    FROM reasons GROUP BY lang
"""

_DUCK_REQ = ", ".join(f"'{w}'" for w in GOPHER_REQUIRED_WORDS)

ORACLE["gopher_quality_rules"] = rf"""
    WITH base AS (SELECT doc_id, text, {_DUCK_TOKS} AS ts FROM documents),
    per_doc AS (
        SELECT doc_id,
               len(ts) AS n_tokens,
               length(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace,
               length(regexp_replace(text, '[^#]', '', 'g'))
                 + (length(text) - length(replace(text, '...', ''))) // 3
                   AS n_sym,
               len(list_filter(ts, t -> regexp_matches(t, '[a-z]')))
                   AS n_alpha,
               len(list_filter([{_DUCK_REQ}], w -> list_contains(ts, w)))
                   AS n_required
        FROM base
    ),
    f AS (SELECT * FROM base WHERE len(ts) >= 3),
    tri AS (SELECT doc_id, unnest({_DUCK_TRI}) AS g FROM f),
    tstats AS (SELECT doc_id, COUNT(*) AS n_tri, COUNT(DISTINCT g) AS d_tri
               FROM tri GROUP BY 1),
    bi AS (SELECT doc_id, unnest({_DUCK_BI}) AS g FROM f),
    bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2),
    btop AS (SELECT doc_id, MAX(c) AS top_bi, SUM(c) AS n_bi
             FROM bc GROUP BY 1)
    SELECT p.doc_id, p.n_tokens,
        CASE WHEN p.n_tokens BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
             THEN 1 ELSE 0 END AS wc_ok,
        CASE WHEN p.n_nonspace >= 3 * p.n_tokens
              AND p.n_nonspace <= 10 * p.n_tokens
             THEN 1 ELSE 0 END AS wordlen_ok,
        CASE WHEN p.n_sym * 10 <= p.n_tokens THEN 1 ELSE 0 END AS symbol_ok,
        CASE WHEN p.n_alpha * 5 >= p.n_tokens * 4 THEN 1 ELSE 0 END
            AS alpha_ok,
        CASE WHEN p.n_required >= 2 THEN 1 ELSE 0 END AS stopword_ok,
        CASE WHEN b.doc_id IS NULL OR b.top_bi * 5 <= b.n_bi
             THEN 1 ELSE 0 END AS rep_bigram_ok,
        CASE WHEN t.doc_id IS NULL OR (t.n_tri - t.d_tri) * 10 <= 3 * t.n_tri
             THEN 1 ELSE 0 END AS rep_trigram_ok,
        CASE WHEN p.n_tokens BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
              AND p.n_nonspace >= 3 * p.n_tokens
              AND p.n_nonspace <= 10 * p.n_tokens
              AND p.n_sym * 10 <= p.n_tokens
              AND p.n_alpha * 5 >= p.n_tokens * 4
              AND p.n_required >= 2
              AND (b.doc_id IS NULL OR b.top_bi * 5 <= b.n_bi)
              AND (t.doc_id IS NULL OR (t.n_tri - t.d_tri) * 10 <= 3 * t.n_tri)
             THEN 1 ELSE 0 END AS gopher_ok
    FROM per_doc p
    LEFT JOIN tstats t USING (doc_id)
    LEFT JOIN btop b USING (doc_id)
"""

ORACLE["bigram_logprob_score"] = rf"""
    WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    f AS (SELECT * FROM base WHERE len(ts) >= 2),
    idx AS (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM f),
    pairs AS (SELECT doc_id, ts[CAST(i AS INT)] AS a,
                     ts[CAST(i AS INT) + 1] AS b FROM idx),
    cab AS (SELECT a, b, COUNT(*) AS c_ab FROM pairs GROUP BY 1, 2),
    ca AS (SELECT a, COUNT(*) AS c_a FROM pairs GROUP BY 1),
    tot AS (SELECT COUNT(DISTINCT t) AS v FROM (
        SELECT unnest({_DUCK_TOKS}) AS t FROM documents)),
    scored AS (
        SELECT k.doc_id,
               -ln(CAST(cab.c_ab + 1 AS DOUBLE) / (ca.c_a + tot.v)) AS nlp
        FROM pairs k JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN tot
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(CAST(nlp AS DECIMAL(28,16))) AS DOUBLE) / COUNT(*),
                 6) AS avg_neg_logprob
    FROM scored GROUP BY doc_id
"""

ORACLE["kneser_ney_bigram_score"] = rf"""
    WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
    f AS (SELECT * FROM base WHERE len(ts) >= 2),
    idx AS (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM f),
    pairs AS (SELECT doc_id, ts[CAST(i AS INT)] AS a,
                     ts[CAST(i AS INT) + 1] AS b FROM idx),
    cab AS (SELECT a, b, COUNT(*) AS c_ab FROM pairs GROUP BY 1, 2),
    ca AS (SELECT a, COUNT(*) AS c_a FROM pairs GROUP BY 1),
    n1a AS (SELECT a, COUNT(DISTINCT b) AS n1a FROM pairs GROUP BY 1),
    n1b AS (SELECT b, COUNT(DISTINCT a) AS n1b FROM pairs GROUP BY 1),
    tot AS (SELECT COUNT(*) AS t FROM cab),
    scored AS (
        SELECT k.doc_id,
               -ln(
                   GREATEST(CAST(cab.c_ab AS DOUBLE) - {KN_DISCOUNT}, 0.0)
                       / CAST(ca.c_a AS DOUBLE)
                   + (({KN_DISCOUNT} * CAST(n1a.n1a AS DOUBLE))
                       / CAST(ca.c_a AS DOUBLE))
                   * (CAST(n1b.n1b AS DOUBLE) / CAST(tot.t AS DOUBLE))
               ) AS nlp
        FROM pairs k JOIN cab USING (a, b) JOIN ca USING (a)
             JOIN n1a USING (a) JOIN n1b USING (b) CROSS JOIN tot
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(CAST(nlp AS DECIMAL(28,16))) AS DOUBLE) / COUNT(*),
                 6) AS avg_neg_logprob
    FROM scored GROUP BY doc_id
"""

# shared CTE chain for the CCNet cutpoint entries: the oracle AFFORDS the
# per-language window rank (DuckDB at sf0.01) — it defines the same
# k1 = ceil(n/3) / k2 = ceil(2n/3) ORDER-STATISTIC VALUES the Spark side
# reaches via histogram refinement; value-compare bucketing (ties into
# the lower bucket) matches the engine's map-side semantics exactly
_CCNET_CP_CTES = f"""
    WITH kn AS ({ORACLE["kneser_ney_bigram_score"]}),
    j AS (
        SELECT d.lang, kn.doc_id, kn.avg_neg_logprob AS s
        FROM kn JOIN documents d ON kn.doc_id = d.doc_id
    ),
    r AS (
        SELECT lang, s,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY s) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM j
    ),
    cp AS (
        SELECT lang,
               CAST(MAX(n) AS BIGINT) AS n_docs,
               MAX(CASE WHEN rn <= (n + 2) // 3 THEN s END) AS c1,
               MAX(CASE WHEN rn <= (2 * n + 2) // 3 THEN s END) AS c2
        FROM r GROUP BY lang
    )
"""

ORACLE["ccnet_tercile_cutpoints"] = _CCNET_CP_CTES + """
    SELECT lang, n_docs, c1, c2 FROM cp
"""

ORACLE["ccnet_perplexity_buckets"] = _CCNET_CP_CTES + """
    , b AS (
        SELECT j.lang,
               CASE WHEN j.s <= cp.c1 THEN 'head'
                    WHEN j.s <= cp.c2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               j.s
        FROM j JOIN cp USING (lang)
    )
    SELECT lang, bucket,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(s AS DECIMAL(28,16)))
                      AS DOUBLE) / COUNT(*), 6) AS avg_nlp,
           MIN(s) AS nlp_lo,
           MAX(s) AS nlp_hi
    FROM b
    GROUP BY lang, bucket
    ORDER BY lang, bucket
"""

# the end-to-end pipeline buckets by PREDICTED language (the lang_id
# stopword argmax restated inline), then applies the same value-compare
# tercile semantics and the head+middle keep-rule
_CCNET_PRED_CASE = rf"""CASE
    WHEN len(list_filter({_DUCK_TOKS}, t -> {{en}}))
         >= len(list_filter({_DUCK_TOKS}, t -> {{de}}))
     AND len(list_filter({_DUCK_TOKS}, t -> {{en}}))
         >= len(list_filter({_DUCK_TOKS}, t -> {{fr}}))
    THEN 'en'
    WHEN len(list_filter({_DUCK_TOKS}, t -> {{de}}))
         >= len(list_filter({_DUCK_TOKS}, t -> {{fr}}))
    THEN 'de' ELSE 'fr' END"""

ORACLE["ccnet_pipeline"] = rf"""
    WITH kn AS ({{kn}}),
    pl AS (
        SELECT doc_id, {{pred}} AS lang FROM documents
    ),
    j AS (
        SELECT pl.lang, kn.doc_id, kn.avg_neg_logprob AS s
        FROM kn JOIN pl USING (doc_id)
    ),
    r AS (
        SELECT lang, s,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY s) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM j
    ),
    cp AS (
        SELECT lang,
               MAX(CASE WHEN rn <= (n + 2) // 3 THEN s END) AS c1,
               MAX(CASE WHEN rn <= (2 * n + 2) // 3 THEN s END) AS c2
        FROM r GROUP BY lang
    ),
    b AS (
        SELECT j.lang,
               CASE WHEN j.s <= cp.c1 THEN 'head'
                    WHEN j.s <= cp.c2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM j JOIN cp USING (lang)
    )
    SELECT b.lang,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(CASE WHEN bucket = 'head' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_head,
           CAST(SUM(CASE WHEN bucket = 'middle' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_middle,
           CAST(SUM(CASE WHEN bucket = 'tail' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tail,
           CAST(SUM(CASE WHEN bucket <> 'tail' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           {_duck_ratio6(
               "SUM(CASE WHEN bucket <> 'tail' THEN 1 ELSE 0 END)",
               "COUNT(*)",
           )} AS kept_share,
           MIN(cp.c1) AS c1,
           MIN(cp.c2) AS c2
    FROM b JOIN cp USING (lang)
    GROUP BY b.lang
    ORDER BY b.lang
""".format(
    kn=ORACLE["kneser_ney_bigram_score"],
    pred=_CCNET_PRED_CASE.format(
        en=_duck_in(STOPWORDS_EN),
        de=_duck_in(STOPWORDS_DE),
        fr=_duck_in(STOPWORDS_FR),
    ),
)

# composed AFTER both member oracles exist (function defined above)
ORACLE["quality_method_agreement"] = _quality_agreement_oracle()

_QC_BAND_SQL = " + ".join(
    f"CAST((ws > {c}) AS INT)" for c in QC_BAND_CUTS
)
# shared CTE chain: label → tokens → features → buckets → weights →
# per-doc integer micro-score sums; the streaming gate's oracle reuses it
# a per-language rollup
# body form (no WITH) so the fused curation-pipeline oracle can splice
# the training chain into its own CTE list; _QC_CTES keeps the
# standalone form the classifier entries use
def _qc_ctes_body(train_where: str = "") -> str:
    """The QC training chain (lab ... w) + full-corpus scoring CTE ``s``
    as a composable WITH body. ``train_where`` restricts the TRAINING
    corpus only (the fused pipeline trains its frozen gate on a
    deterministic 1-in-K sample — the offline-trained-classifier
    production shape — and scores every survivor); the default empty
    filter keeps the full-corpus text byte-identical for
    `quality_classifier_score` and the datasheet."""
    return rf"""
    lab AS (
        SELECT doc_id, lang, toks,
               CASE WHEN len(toks) >= 10
                     AND len(list_filter(toks,
                         t -> {_duck_in(STOPWORDS_EN)})) * 20 >= len(toks)
                     AND length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                         * 5 <= length(text)
                    THEN 1 ELSE 0 END AS lbl
        FROM (SELECT doc_id, lang, text, {_DUCK_TOKS} AS toks
              FROM documents {train_where})
    ),
    tk AS (
        SELECT doc_id, lang, lbl, unnest(toks) AS tok FROM lab
    ),
    f AS (
        SELECT doc_id, lang, lbl,
               unnest(list_concat([tok],
                   list_transform(range(1, length(pt) - 1),
                                  i -> substr(pt, CAST(i AS INT), 3)))) AS t
        FROM (SELECT doc_id, lang, lbl, tok, '<' || tok || '>' AS pt FROM tk)
    ),
    b AS (
        SELECT doc_id, lang, lbl, {_DUCK_TH} % {QC_BUCKETS} AS bkt,
               COUNT(*) AS cnt
        FROM f GROUP BY doc_id, lang, lbl, bkt
    ),
    counts AS (
        SELECT bkt,
               SUM(CASE WHEN lbl = 0 THEN cnt ELSE 0 END) AS neg_c,
               SUM(CASE WHEN lbl = 1 THEN cnt ELSE 0 END) AS pos_c
        FROM b GROUP BY bkt
    ),
    tot AS (
        SELECT SUM(CASE WHEN lbl = 0 THEN cnt ELSE 0 END) AS n_neg,
               SUM(CASE WHEN lbl = 1 THEN cnt ELSE 0 END) AS n_pos
        FROM b
    ),
    w AS (
        SELECT bkt,
               CASE WHEN an < bn THEN -1 ELSE 1 END
               * ((abs(an - bn) * 1000000) // (an + bn)) AS w6
        FROM (SELECT bkt,
                     CAST(pos_c + 1 AS HUGEINT)
                         * (n_neg + {QC_BUCKETS}) AS an,
                     CAST(neg_c + 1 AS HUGEINT)
                         * (n_pos + {QC_BUCKETS}) AS bn
              FROM counts CROSS JOIN tot)
    ),
    s AS (
        SELECT b.doc_id, b.lang, b.lbl,
               CAST(SUM(b.cnt) AS BIGINT) AS n_feats,
               CAST(SUM(b.cnt * w.w6) AS BIGINT) AS ws
        FROM b JOIN w USING (bkt)
        GROUP BY b.doc_id, b.lang, b.lbl
    )
"""


_QC_CTES_BODY = _qc_ctes_body()
_QC_CTES = "WITH " + _QC_CTES_BODY

ORACLE["quality_classifier_score"] = _QC_CTES + f"""
    SELECT doc_id, lang, n_feats,
           ROUND(CAST(ws AS DOUBLE) / 1000000, 6) AS logit6,
           CAST({_QC_BAND_SQL} AS INT) AS prob_band,
           CAST(ws > 0 AS INT) AS pred_quality,
           CAST(lbl AS INT) AS label_quality_ok
    FROM s
"""

ORACLE["bpe_train_merges"] = _duck_bpe_train_oracle()
ORACLE["bpe_train_merges_deep"] = _duck_bpe_train_oracle(BPE_TRAIN_ROUNDS_DEEP)


def _duck_unigram_ctes() -> str:
    """The frozen-vocab integer DP as SQL: vocab VALUES (piece → packed
    weight), the capped distinct-word-type relation, and an unrolled
    dp1..dp{MAX_WORD} chain — level i holds the minimal packed weight of
    segmenting the first i chars (length-1 transitions LEFT JOIN the
    vocab so an OOV char falls back to the UNK weight, exactly the
    Python kernel's rule). `seg` unpacks (cost, n_pieces)."""
    vals = ", ".join(f"('{p}', {c * 256 + 1})" for p, c in UNIGRAM_VOCAB)
    lvls = []
    for i in range(1, UNIGRAM_MAX_WORD + 1):
        cands = [
            f"SELECT d.w, d.best + COALESCE(v.wt, {UNIGRAM_UNK_WT}) AS cand"
            f" FROM dp{i - 1} d LEFT JOIN vocab v"
            f" ON v.p = substr(d.w, {i}, 1) WHERE LENGTH(d.w) >= {i}"
        ]
        for j in range(2, UNIGRAM_MAX_PIECE + 1):
            if i >= j:
                cands.append(
                    f"SELECT d.w, d.best + v.wt AS cand"
                    f" FROM dp{i - j} d JOIN vocab v"
                    f" ON v.p = substr(d.w, {i - j + 1}, {j})"
                    f" WHERE LENGTH(d.w) >= {i}"
                )
        u = "\n                UNION ALL\n                ".join(cands)
        lvls.append(
            f"dp{i} AS MATERIALIZED (SELECT w, MIN(cand) AS best FROM (\n"
            f"                {u}\n            ) GROUP BY w)"
        )
    lvl_sql = ",\n        ".join(lvls)
    fin = "\n            UNION ALL\n            ".join(
        f"SELECT w, best FROM dp{i} WHERE LENGTH(w) = {i}"
        for i in range(1, UNIGRAM_MAX_WORD + 1)
    )
    return f"""
        vocab(p, wt) AS (VALUES {vals}),
        wordsrc AS MATERIALIZED (
            SELECT lang, unnest(list_filter(string_split(
                       regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' '),
                       x -> x <> '')) AS w
            FROM documents
        ),
        words AS MATERIALIZED (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM wordsrc
            WHERE LENGTH(w) <= {UNIGRAM_MAX_WORD} GROUP BY w
        ),
        dp0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS best FROM words),
        {lvl_sql},
        finbest AS (
            {fin}
        ),
        seg AS MATERIALIZED (
            SELECT words.w, words.cnt,
                   CAST(f.best % 256 AS INT) AS n_pieces,
                   f.best // 256 AS cost
            FROM words JOIN finbest f ON f.w = words.w
        )
    """





ORACLE["unigram_viterbi_segment"] = f"""
    WITH {_duck_unigram_ctes()}
    SELECT n_pieces,
           CAST(COUNT(*) AS BIGINT) AS n_word_types,
           CAST(SUM(cnt) AS BIGINT) AS n_occurrences,
           CAST(SUM(cnt * cost) AS BIGINT) AS total_cost
    FROM seg GROUP BY n_pieces ORDER BY n_pieces
"""

ORACLE["unigram_fertility_by_lang"] = f"""
    WITH {_duck_unigram_ctes()}
    SELECT ws.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(seg.n_pieces) AS BIGINT) AS n_pieces,
           {_duck_ratio6("SUM(seg.n_pieces)", "COUNT(*)")} AS fertility
    FROM wordsrc ws JOIN seg ON seg.w = ws.w
    GROUP BY ws.lang ORDER BY ws.lang
"""

ORACLE["unigram_prune_report"] = _duck_unigram_prune_oracle()

ORACLE["wordpiece_train_merges"] = _duck_wp_train_oracle()
ORACLE["wordpiece_train_merges_deep"] = _duck_wp_train_oracle(
    WP_TRAIN_ROUNDS_DEEP
)

ORACLE["wordpiece_decode_roundtrip"] = f"""
    WITH {_duck_wp_greedy_ctes()}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_word_types,
           CAST(SUM(cnt) AS BIGINT) AS n_occurrences,
           CAST(SUM(CASE WHEN replace(pieces, ' ##', '') = w
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_types,
           CAST(SUM(CASE WHEN replace(pieces, ' ##', '') = w
                         THEN cnt ELSE 0 END) AS BIGINT)
               AS n_ok_occurrences
    FROM wpseg
"""

ORACLE["wordpiece_encode_greedy"] = f"""
    WITH {_duck_wp_greedy_ctes()}
    SELECT n_pieces,
           CAST(COUNT(*) AS BIGINT) AS n_word_types,
           CAST(SUM(cnt) AS BIGINT) AS n_occurrences,
           CAST(SUM(cnt * length(w)) AS BIGINT) AS total_chars
    FROM wpseg GROUP BY n_pieces ORDER BY n_pieces
"""

# Compare oracle: ONE shared word stream (the unigram CTEs' wordsrc /
# words), three independent segmenter chains (BPE 8-merge levels,
# unigram DP, WordPiece greedy), one per-lang agg, stacked long.
ORACLE["tokenizer_fertility_compare"] = f"""
    WITH {_duck_unigram_ctes()},
    {_duck_wp_greedy_ctes(with_words=False)},
    {_duck_bpe_word_levels(BPE_MERGES_64)},
    agg AS (
        SELECT ws.lang,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(b.n_bpe) AS BIGINT) AS nb,
               CAST(SUM(seg.n_pieces) AS BIGINT) AS nu,
               CAST(SUM(wpseg.n_pieces) AS BIGINT) AS nw
        FROM wordsrc ws
        JOIN bseg b ON b.w = ws.w
        JOIN seg ON seg.w = ws.w
        JOIN wpseg ON wpseg.w = ws.w
        GROUP BY ws.lang
    )
    SELECT * FROM (
        SELECT 'bpe' AS family, lang, n_words, nb AS n_pieces,
               {_duck_ratio6("nb", "n_words")} AS fertility FROM agg
        UNION ALL
        SELECT 'unigram', lang, n_words, nu,
               {_duck_ratio6("nu", "n_words")} FROM agg
        UNION ALL
        SELECT 'wordpiece', lang, n_words, nw,
               {_duck_ratio6("nw", "n_words")} FROM agg
    ) ORDER BY family, lang
"""

def _duck_bpe_frontier_oracle() -> str:
    """Per-k chunked encode chains over one shared word-type relation,
    aggregated and stacked — generated from the SAME (k, artifact)
    pairs as the Spark entry."""
    chains, selects = [], []
    for k in BPE_FRONTIER_KS:
        chains.append(
            _duck_bpe_word_levels(
                BPE_MERGES_64[:k], prefix=f"fl{k}_", seg_name=f"fseg{k}"
            )
        )
        selects.append(
            f"SELECT {k} AS n_merges, {k} + 26 AS vocab_size,"
            f" CAST(COUNT(*) AS BIGINT) AS n_word_types,"
            f" CAST(SUM(cnt) AS BIGINT) AS n_words,"
            f" CAST(SUM(cnt * n_bpe) AS BIGINT) AS n_pieces,"
            f" {_duck_ratio6('SUM(cnt * n_bpe)', 'SUM(cnt)')} AS fertility"
            f" FROM fseg{k}"
        )
    chain_sql = ",\n    ".join(chains)
    sel = "\n    UNION ALL ".join(selects)
    return f"""
    WITH wordsrc AS MATERIALIZED (
        SELECT unnest(list_filter(string_split(
                   regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' '),
                   x -> x <> '')) AS w
        FROM documents
    ),
    words AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM wordsrc
        WHERE LENGTH(w) <= {UNIGRAM_MAX_WORD} GROUP BY w
    ),
    {chain_sql}
    SELECT * FROM (
    {sel}
    ) ORDER BY n_merges
"""


ORACLE["bpe_vocab_size_frontier"] = _duck_bpe_frontier_oracle()
