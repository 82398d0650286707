#!/usr/bin/env python
"""Scale-smoke: run the headline queries at 1x / 10x / 100x the bench
corpus and report wall-clock scaling.

The driver's largest testdata is sf0.1 (100 K events, 5 K documents,
2 K embeddings). This tool synthesizes driver-schema tables at arbitrary
row counts with the same shape using deterministic spark.range
expressions — no RNG state — then times the per-family headline queries
on each size. Near-linear (or better) growth is the evidence that the
plans are scan/shuffle-bound with no hidden superlinear step; a query
that grows faster than rows is a red flag long before a real cluster run.

Three families:
- ``--family events`` (default): the relational/window/streaming-shape
  headliners over a synthesized ``events`` table.
- ``--family docs``: the LLM-curation headliners (exact/fuzzy dedup,
  MinHash-LSH, SimHash, BM25, IVF/kNN ANN) over synthesized
  ``documents`` + ``embeddings`` tables. Documents carry the testdata's
  duplicate structure (2 exact dups + 1 near-dup per 50-doc block) so
  the LSH band joins and Jaccard verify stage have real candidate load;
  embeddings carry a 10-cell label signal so IVF cells are non-trivial.
  ``--sizes`` counts documents; embeddings scale at the testdata's
  2:5 ratio.
- ``--family dict``: the tokenizer trainers (``bpe_train_merges``,
  ``wordpiece_train_merges``) over synthesized ``documents`` whose
  normalized word dictionary holds ~N distinct types (``--sizes``
  counts types). The testdata's dictionary is 31 types at every scale
  factor, so this is the only sweep where the trainers' driver-side
  merge rounds do real work.

Usage:  python tools/scale_smoke.py [--family docs|dict] [--sizes 5000,50000,500000]
Writes parquet under .scale_smoke/ (gitignored) and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from awscommunityday_2025_iceberg_snowfalke_spark.session import get_spark  # noqa: E402
from awscommunityday_2025_iceberg_snowfalke_spark.operators import all_queries  # noqa: E402
from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup as _dedup  # noqa: E402

# events-only headline queries, one per plan family (daily_user_stats is
# excluded: it joins the customer/nation/region dims, which this tool does
# not synthesize — event_types_per_user covers its groupBy family)
QUERIES = [
    "count_all",            # scan + global agg
    "filtered_counts_7d",   # pushed filter + agg
    "event_type_counts",    # groupBy low-card
    "event_types_per_user", # groupBy high-card + collect_set
    "top5_per_user",        # per-user window
    "user_sessions",        # two windows + agg, one exchange
    "purchase_funnel",      # CTE + MAX-CASE flags
    "rolling_1h_event_count",  # RANGE-interval frame
    "cdc_latest_events",    # latest-per-key window
    "hll_user_rollup",      # sketch rollup + exact gate column
    "unpivot_user_event_values",  # map-side Expand over the pivot output
    # late round-13 additions
    "hilbert_clustering_report",  # LUT key + histogram chunking + 2 writes
    "schema_rename_read",   # metadata rename + merged-generation scan
    "spec_evolution_skipping_report",  # late r14: mixed-spec planning walk
    "type_widening_read",   # late r14: grouped-by-physical-type read funnel
    "column_default_read",  # late r14: initial-default fill per file group
    "props_variant_stats",  # late r14: one VARIANT decode per row, map-only
    "row_lineage_report",   # late r14: metadata-derived ids + materializing rewrite
    "partitions_metadata_report",  # .partitions rollup from manifest stats
    "orc_roundtrip_events",        # full-corpus ORC write + re-read agg
    "snapshots_summary_report",    # 4-commit fixture + |files|-bounded diffs
    "quantile_sketch_rollup",      # (day,bin) combinable agg + rank refinement
]

# documents/embeddings-family headliners — the 100 TB curation workloads
# (VERDICT r5 ask #6). One per plan family: digest shuffle, exact
# inverted-index Jaccard, banded LSH, hamming clustering, broadcast-idf
# retrieval, map-only Arrow IVF probe, brute-force matmul baseline.
DOC_QUERIES = [
    "dedup_exact_hash",      # hash-then-group: shuffles 32-B digests
    "dedup_ngram_jaccard",   # shingle inverted index self-join + pair agg
    "minhash_lsh_pairs",     # banded LSH equi-join + id-keyed array verify
    "simhash32",             # per-doc fingerprint, map-side
    "doc_bm25_search",       # tf agg + broadcast idf, top-k
    "token_stats",           # pure map-side text scan
    "ann_ivf_cosine",        # centroid train + ONE map-only Arrow pass
    "knn_bruteforce_cosine", # exact baseline: fixed queries x corpus
    # round-6/7 curation headliners (VERDICT r6 ask #5)
    "semantic_dedup",        # per-cell dgemm SemDeDup (cells scale with n)
    "dedup_clusters_star",   # star-contraction components over LSH pairs
    "dsir_importance_weights",  # one token agg + broadcast 1024-row dict
    "quality_filter_funnel", # map-side rule accounting
    "simhash64_hamming_pairs_wide",  # 4x16-bit banded pairing (scale layout)
    # late-round-7 additions
    "quota_sample_tokens_budget_skewsafe",  # bucket-pruned stratum windows
    "dedup_incremental",     # crawl-vs-corpus digest anti-join
    "dedup_ngram_containment",  # shared/min on the same pair kernel
    "token_frequency_spectrum",  # two shrinking aggs (Zipf N_k)
    "embedding_gram_matrix", # map-only triangle expansion + bounded agg
    "quality_band_sample",   # scoring agg + map-side banding
    "doc_duplicate_ngram_spans",  # positional gram index, df>1 marking
    "dedup_lines_report",    # first-occurrence window over line hashes
    "doc_domain_mixture",    # source-keyed agg + broadcast totals
    "multimodal_phash_groups",  # feature extract + fingerprint groupBy
    # round-8 additions
    "dedup_editdist_verify", # bounded-prefix levenshtein over LSH candidates
    "minhash_estimate_accuracy",  # signature-agreement joins on verified pairs
    "pmi_collocations",      # bigram agg + broadcast unigram dicts, top-k
    "epoch_shard_assignment",  # literal epoch explode, E*S-keyed agg
    "source_quality_report", # map-side rules, |sources|-group agg
    # round-8 stragglers + round-9 additions
    "source_overlap_matrix", # pair-graph joins + |sources|²-group agg
    "bpe_first_merges",      # in-row pair explode, alphabet-bounded agg
    "jaccard_threshold_sweep",  # ≤11-group agg over the verify core
    "dedup_exact_substrings",   # windowed digest runs (Lee-et-al spans)
    "dedup_substring_removal_report",  # |sources|-group rollup of spans
    "benchmark_contamination_substrings",  # eval-bounded broadcast screen
    "ann_ivf_pq_cosine",     # PQ codes + ADC + bounded exact refine
    "embedding_pq_codes",    # map-only PQ encode artifact
    "gopher_quality_rules",  # map-side rules + doc-keyed repetition joins
    "bigram_logprob_score",  # bigram explode + keyed dict join + decimal fold
    # round-10 additions
    "embedding_opq_permutation",  # d-group variance agg + d-row window
    "ann_ivf_opq_cosine",    # permuted-gather ADC (same budget as PQ)
    "hybrid_search_rrf",     # BM25 pass + broadcast-query pass, ≤k fusion
    "dedup_substring_removed_text",  # span-cut rewrite: anti join + rebuild
    "dedup_graph_triangle_stats",    # pair-graph joins, bounded output
    "token_budget_mixture_plan",     # per-source agg + |sources|-row plan
    # round-11 additions
    "quality_classifier_score",  # feature explode → (doc,bkt) agg + b-join
    "bpe_train_merges",          # one dictionary agg + 8 driver rounds
    "ann_ivf_opq_rot_cosine",    # gram + eigh + two PQ probes (invariants)
    "dedup_jaccard_prefix_filter",  # PPJoin prefix/size/positional filters
    # round-12 additions
    "dedup_paragraphs_report",   # paragraph-hash window, digest-bucketed
    "dedup_paragraphs_removed_text",  # survivor collect_list rebuild
    "ann_ivf_incremental_assign",  # two map-only assigns + bounded drift join
    "ann_ivf_opq_np_cosine",     # per-round encode + ≤5120-group decimal agg
    # round-13 additions (bpe_train_merges_deep is excluded: it is the
    # 8-round trainer at 64 rounds; --family dict sweeps the rounds)
    "ann_ivf_append_probe",      # 2 store writes + 2 pruned probes + rebuild
    "bpe_encode_merges64",       # map-only frozen-merge encode, 64 merges
    "curation_pipeline_v2",      # 6-stage fused curation chain
    # late round-13 additions (docs/embeddings-shaped; hilbert and the
    # rename read smoke under --family events; mv_join_incremental and
    # streaming_dim_join consume orders/lineitem/customer, which this
    # tool does not synthesize — their scale stories are the member
    # joins' own, documented in their docstrings)
    "ann_sq8_cosine",            # in-engine SQ8 reconstruct + top-k
    "ann_ivf_sq8_cosine",        # cell-pruned SQ8 scoring
    "leakage_safe_split",        # component labels + hash split + leak audit
    # round-14 additions
    "bpe_fertility_report",      # per-lang rollup of the 64-merge encode
    "corpus_datasheet",          # six independent release-card aggregations
    "semantic_dedup_incremental",  # arriving-batch screen vs standing cells
    "ccnet_tercile_cutpoints",   # histogram-refined per-lang cutpoints
    "ann_ivf_recall_sweep",      # one-pass recall curve (2 corpus passes)
    "minhash_banding_calibration",  # exact pair join + band LEFT join
    "benchmark_contamination_semantic",  # broadcast bench batch, range scan
    # late round-14 additions
    "bloom_point_lookup_report",  # index build agg + O(1)-file probe reads
    "pyds_bloom_point_scan",     # source-API point lookups, sidecar-pruned
    "unigram_viterbi_segment",   # per-TYPE integer DP + bounded histogram
    "unigram_fertility_by_lang", # type-DP + broadcast join onto occurrences
    "unigram_prune_report",      # 18-variant leave-one-out DP, one Arrow pass
    # continuation-session additions
    "wordpiece_encode_greedy",   # greedy longest-match per TYPE, one Arrow pass
    "tokenizer_fertility_compare",  # 3 segmenter passes + broadcast occ join
    "jsonl_roundtrip_documents", # full-corpus JSONL write + schema'd re-read
    "bpe_vocab_size_frontier",   # five prefix encodes, one type-relation pass
]


# tokenizer trainers: per-round cost scales with the word dictionary
DICT_QUERIES = ["bpe_train_merges", "wordpiece_train_merges"]


def synth_events(spark, n: int, out_dir: str) -> None:
    """Driver-schema events: (event_id, ts, user_id, event_type, value,
    props) with the testdata's distributions, scaled user cardinality
    (corpus/66 like sf0.1's 100 K rows / 1.5 K users)."""
    i = F.col("id")

    def u(salt: str):
        h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), i.cast("string"))), 1, 8), 16, 10)
        return h.cast("double") / float(0xFFFFFFFF)

    n_users = max(100, n // 66)
    day = (u("d") * 30).cast("int")
    sec = (u("s") * 86400).cast("int")
    ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_dt_interval(
        day, F.lit(0), F.lit(0), sec.cast("double")
    )
    et = (u("t") * 5).cast("int")
    event_type = (
        F.when(et == 0, "view").when(et == 1, "click").when(et == 2, "signup")
        .when(et == 3, "purchase").otherwise("error")
    )
    props = F.to_json(
        F.create_map(F.lit("k"), ((u("k") * 100).cast("int")).cast("string"))
    )
    df = spark.range(0, n, 1, spark.sparkContext.defaultParallelism).select(
        i.alias("event_id"),
        ts.alias("ts"),
        ((u("u") * n_users).cast("long") + 1).alias("user_id"),
        event_type.alias("event_type"),
        (u("v") * 100).alias("value"),
        props.alias("props"),
    )
    df.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")


def _hash_idx(salt, seed_col, mod: int):
    """Deterministic index in [0, mod) from md5(salt || seed) — the same
    no-RNG-state device as ``u()`` above."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), seed_col.cast("string"))), 1, 8),
        16,
        10,
    )
    return (h.cast("long") % mod).cast("int")


_REAL_VOCAB = (
    "data join stream query spark table row column value hash scan agg "
    "window batch order line part customer small fast slow key filter "
    "group sort merge read write cache disk shuffle plan cost stats "
    "index bucket range skew salt broadcast limit union distinct count"
).split()

# synthetic-word space: word-3-shingle collisions across unrelated docs are
# ~nil at every tested size (space ≈ 10¹⁸ triples), so shingle document
# frequency is driven by the *dup structure*, not the generator — the same
# scale-invariant df profile a growing real corpus has. (A first cut drew
# all words from the 48-word vocab; that made every trigram a hot key with
# df ∝ corpus size — quadratic join work the real testdata doesn't have.)
_WORD_SPACE = 1_000_000


def synth_documents(spark, n: int, out_dir: str) -> None:
    """Driver-schema documents: (doc_id, text, lang, source, n_chars).

    Texts are 64 words keyed on a *seed*: within each 50-doc block, docs
    0 and 1 share the block seed (exact duplicates, 2%), doc 2 shares it
    except the final 8 words (~86% Jaccard near-dup — a real LSH/verify
    candidate), the rest seed on their own doc_id. Every 8th word comes
    from the testdata's real vocabulary (BM25's data/join/stream terms
    get true hits); the rest are draws from ``_WORD_SPACE`` synthetic
    words so shingles are unique except through duplication."""
    vocab_arr = F.array(*[F.lit(w) for w in _REAL_VOCAB])
    i = F.col("id")
    pos_in_block = i % 50
    seed = F.when(pos_in_block < 3, i - pos_in_block).otherwise(i)
    parts = []
    for k in range(64):
        # near-dup: doc 2 of each block perturbs only the last 8 words
        salt = F.when(
            (pos_in_block == 2) & (F.lit(k >= 56)), F.lit(f"w{k}x")
        ).otherwise(F.lit(f"w{k}"))
        h = F.xxhash64(salt, seed)
        if k % 8 == 0:
            parts.append(
                F.element_at(vocab_arr, F.pmod(h, len(_REAL_VOCAB)).cast("int") + 1)
            )
        else:
            parts.append(
                F.concat(F.lit("w"), F.pmod(h, _WORD_SPACE).cast("string"))
            )
    text = F.concat_ws(" ", *parts)
    langs = F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "nl")])
    df = spark.range(0, n, 1, spark.sparkContext.defaultParallelism).select(
        i.alias("doc_id"),
        text.alias("text"),
        F.element_at(langs, _hash_idx("lang_", i, 5) + 1).alias("lang"),
        F.concat(F.lit("src"), _hash_idx("src_", i, 20).cast("string")).alias(
            "source"
        ),
        F.length(text).alias("n_chars"),
    )
    df.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def synth_embeddings(spark, n: int, out_dir: str, dim: int = 64) -> None:
    """Driver-schema embeddings: (vec_id, embedding array<float>, label).

    Each vector = per-dim deterministic noise + a label-keyed offset
    (literal n_labels x dim table built driver-side) so the IVF cells are
    separable and centroid training/probing does real work. The label
    count SCALES with the corpus (|cell| pinned at ~2000) — SemDeDup's
    and IVF's documented deployment contract is k = O(n) so per-cell
    work stays bounded; a fixed k would make the within-cell quadratic
    stage grow as n², which no real deployment runs."""
    import hashlib

    n_labels = max(10, n // 2000)
    i = F.col("id")
    label = _hash_idx("lab_", i, n_labels)
    # label-offset table: offsets[d] is an n_labels-element literal array
    def offs(d: int) -> list:
        return [
            (hashlib.md5(f"c{lab}_{d}".encode()).digest()[0] / 255.0 - 0.5) * 0.5
            for lab in range(n_labels)
        ]

    dims = []
    for d in range(dim):
        noise = (u_col(f"e{d}_", i) - 0.5) * 0.6
        off = F.element_at(F.array(*[F.lit(v) for v in offs(d)]), label + 1)
        dims.append((noise + off).cast("float"))
    df = spark.range(0, n, 1, spark.sparkContext.defaultParallelism).select(
        i.alias("vec_id"),
        F.array(*dims).alias("embedding"),
        label.cast("int").alias("label"),
    )
    df.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def synth_dictionary(spark, n_types: int, out_dir: str) -> None:
    """Driver-schema documents whose normalized word dictionary holds
    ~n_types distinct words: type t is the first 8 md5 hex chars of t
    mapped to a-p; n_types/2 docs of 20 words, each word a uniform
    md5-derived type pick, so every type is drawn ~10 times and all but
    a ~e^-10 share of them appear."""
    i = F.col("id")
    words = [
        F.translate(
            F.substring(
                F.md5((u_col(f"w{j}_", i) * n_types).cast("long").cast("string")),
                1,
                8,
            ),
            "0123456789abcdef",
            "abcdefghijklmnop",
        )
        for j in range(20)
    ]
    text = F.concat_ws(" ", *words)
    df = spark.range(0, max(n_types // 2, 1), 1, 32).select(
        i.alias("doc_id"),
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.lit("synth").alias("source"),
        F.length(text).alias("n_chars"),
    )
    df.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def u_col(salt: str, i):
    """Uniform [0,1) from md5 — module-level twin of synth_events' u()."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), i.cast("string"))), 1, 8), 16, 10)
    return h.cast("double") / float(0xFFFFFFFF)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--family", default="events",
                    choices=["events", "docs", "dict"])
    ap.add_argument("--sizes", default=None,
                    help="comma row counts (events; for docs = document rows, "
                         "embeddings follow at 2:5; for dict = word types)")
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset of the family's query list "
                         "(targeted re-measurement without paying the full "
                         "sweep)")
    ap.add_argument("--keep", action="store_true", help="keep generated parquet")
    ap.add_argument("--attempts", type=int, default=2,
                    help="timed attempts per query, each in a fresh session; "
                         "min is reported (single-attempt local[32] numbers "
                         "are JIT/GC noise)")
    args = ap.parse_args()
    default_sizes = {"events": "100000,1000000,10000000",
                     "docs": "5000,50000,500000",
                     "dict": "10000,100000"}[args.family]
    sizes = [int(s) for s in (args.sizes or default_sizes).split(",")]
    queries = {"events": QUERIES, "docs": DOC_QUERIES,
               "dict": DICT_QUERIES}[args.family]
    if args.queries:
        want = [q.strip() for q in args.queries.split(",") if q.strip()]
        unknown = [q for q in want if q not in queries]
        if unknown:
            raise SystemExit(f"not in the {args.family} list: {unknown}")
        queries = want

    spark = get_spark(app_name="scale_smoke")
    qs = all_queries()
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        ".scale_smoke")
    report: dict[str, dict] = {}

    # The noop sink executes the FULL query on the executors without
    # collecting results to the Python driver — .collect() of a
    # 10M-row result measures driver serialization, not the plan
    # (measured: rolling_1h "took" 391 s under collect, 2.5 s noop).
    def execute(session, q, d):
        qs[q](session, d).write.mode("overwrite").format("noop").save()

    # Phase 1: generate EVERY size up front. Generation of size N must
    # never run between two timed windows — the r6 sweeps showed the 10x
    # column absorbing the 100x generation's shuffle-cleanup/GC storm
    # (mid-decade ratios > the 100x ones, pure measurement noise).
    for n in sizes:
        d = os.path.join(root, f"{args.family}_n{n}")
        if args.family == "events":
            synth_events(spark, n, d)
        elif args.family == "dict":
            synth_dictionary(spark, n, d)
        else:
            synth_documents(spark, n, d)
            synth_embeddings(spark, max(100, n * 2 // 5), d)

    # Phase 2: warm-up on the REAL sf0.001 testdata, not a synth dir —
    # compiles every query shape (codegen classes cache by expression
    # tree) without touching any timed dir's memoized staging caches, so
    # the smallest size's shingle-index-build row stays genuinely cold.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    for q in queries:
        try:
            execute(spark, q, warm_dir)
        except Exception:
            pass

    # The staged per-document shingle sets (memoized, dedup._shingle_sets)
    # are the shared input of the dedup module's queries: they are built
    # once per size as their own timed row, and rebuilt untimed before
    # each timed dedup attempt, so jaccard/minhash rows are comparable
    # across sizes instead of one of them silently paying the staging.
    shingle_readers = set(_dedup.QUERIES) if args.family == "docs" else set()

    def attempt(q, d):
        """One timed run of ``q`` over ``d`` in a fresh session. The
        memoized intermediates (LSH candidates, IVF store, ...) are
        keyed per session, so a second attempt in one session would
        time a memo hit."""
        session = spark.newSession()
        if q in shingle_readers:
            _dedup._shingle_sets(session, d)
        t0 = time.perf_counter()
        execute(session, q, d)
        return time.perf_counter() - t0

    # Phase 3: timed sweep, DESCENDING size order — the biggest size's
    # trailing cleanup lands after the sweep's cheapest windows are long
    # gone, and nothing generated or cached for a larger size can bleed
    # into a smaller one's decade ratio.
    for n in sorted(sizes, reverse=True):
        d = os.path.join(root, f"{args.family}_n{n}")
        if args.family == "docs":
            session = spark.newSession()
            t0 = time.perf_counter()
            _dedup._shingle_sets(session, d).count()
            report.setdefault("shingle_index_build", {})[str(n)] = round(
                time.perf_counter() - t0, 3
            )
        for q in queries:
            best = None
            for _ in range(max(1, args.attempts)):
                try:
                    el = attempt(q, d)
                    best = el if best is None or el < best else best
                except Exception as exc:  # noqa: BLE001
                    best = f"ERR {type(exc).__name__}"
                    break
            report.setdefault(q, {})[str(n)] = (
                round(best, 3) if isinstance(best, float) else best
            )
    if not args.keep:
        shutil.rmtree(root, ignore_errors=True)

    # scaling factor per decade: t(10x)/t(x) — ≈10 is linear, <10 sublinear
    out = {"family": args.family, "sizes": sizes, "seconds": report, "scaling": {}}
    for q, times in report.items():
        ratios = []
        for a, b in zip(sizes, sizes[1:]):
            ta, tb = times.get(str(a)), times.get(str(b))
            if isinstance(ta, float) and isinstance(tb, float) and ta > 0:
                ratios.append(round(tb / ta, 2))
        out["scaling"][q] = ratios
    print(json.dumps(out))


if __name__ == "__main__":
    main()
