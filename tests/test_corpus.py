"""Corpus-wide correctness: every oracle-backed query in the merged
registry vs duckdb — the same gate the driver runs at sf0.01."""

import os

import pytest

from awscommunityday_2025_iceberg_snowfalke_spark.operators import (
    all_oracle,
    all_queries,
)

from conftest import SF_DIR, assert_matches_oracle, jobs_of

_QUERIES = all_queries()
_ORACLE = all_oracle()


@pytest.mark.parametrize("name", sorted(_ORACLE))
def test_query_matches_oracle(spark, oracle, name):
    df = _QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, oracle, _ORACLE[name], name)


def test_oracle_keys_subset_of_queries():
    assert set(_ORACLE) <= set(_QUERIES), set(_ORACLE) - set(_QUERIES)


def test_embedding_quantize_int8_values(spark):
    """Quantization math vs numpy ground truth on one vector: symmetric
    int8, scale = max|x|/127, q = round-half-up(x/scale), |q| ≤ 127."""
    import numpy as np
    import pyarrow.parquet as pq

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        embedding_quantize_int8,
    )

    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    row = tbl.iloc[0]
    x = np.asarray(row["embedding"], dtype=np.float32).astype(np.float64)
    scale = np.abs(x).max() / 127.0
    q = np.floor(x / scale + 0.5).astype(int)  # round-half-up like Spark/duckdb

    got = (
        embedding_quantize_int8(spark, SF_DIR)
        .filter(f"vec_id = {int(row['vec_id'])}")
        .collect()[0]
    )
    got_q = [int(v) for v in got["q8"].split(",")]
    assert got["scale"] == pytest.approx(scale, rel=1e-12)
    assert got_q == q.tolist()
    assert max(abs(v) for v in got_q) <= 127
    assert got["max_abs_err"] <= scale / 2 + 1e-12


def test_multimodal_byte_histogram_values(spark):
    """Exact-value check for the rows-only feature extractor: Spark's
    pandas-UDF histogram must equal a local numpy histogram of the same
    payload."""
    import numpy as np
    import pyarrow.parquet as pq

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.multimodal import (
        N_BUCKETS,
        multimodal_byte_histogram,
        multimodal_byte_histogram_vectors,
    )

    tbl = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    row = tbl.iloc[0]
    payload = row["text"].encode("utf-8")
    arr = np.frombuffer(payload, dtype=np.uint8)
    expect, _ = np.histogram(arr, bins=N_BUCKETS, range=(0, 256))
    expect = (expect / arr.size).tolist()

    got = (
        multimodal_byte_histogram_vectors(spark, SF_DIR)
        .filter(f"doc_id = {int(row['doc_id'])}")
        .collect()[0]
    )
    assert got["features"] == pytest.approx(expect)
    assert got["feature_sum"] == pytest.approx(1.0, abs=1e-6)

    # gated form: same values, serialized to decimal(18,6) text
    gated = (
        multimodal_byte_histogram(spark, SF_DIR)
        .filter(f"doc_id = {int(row['doc_id'])}")
        .collect()[0]
    )
    parsed = [float(v) for v in gated["features"].split(",")]
    assert parsed == pytest.approx(expect, abs=5e-7)


def test_hll_user_rollup_accuracy(spark, oracle):
    """The ≤5% sketch-accuracy contract is now computed in-engine (est_ok);
    this test asserts every row carries est_ok=True — including the ALL
    row, whose estimate comes purely from merging stored daily sketches —
    and cross-checks the exact totals against duckdb independently."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.analytics import (
        hll_user_rollup,
    )

    rows = {r["event_date"]: r for r in hll_user_rollup(spark, SF_DIR).collect()}
    assert "ALL" in rows
    assert all(r["est_ok"] for r in rows.values()), [
        d for d, r in rows.items() if not r["est_ok"]
    ]
    true_total = oracle.execute(
        "SELECT COUNT(DISTINCT user_id) FROM events"
    ).fetchone()[0]
    assert rows["ALL"]["exact_users"] == true_total


def test_approx_distinct_users_accuracy(spark, oracle):
    """Accuracy contract computed in-engine (approx within 5% of exact →
    boolean columns); exact distincts cross-checked against duckdb."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.relational import (
        approx_distinct_users,
    )

    got = {r["event_type"]: r for r in approx_distinct_users(spark, SF_DIR).collect()}
    exact = {
        t: u
        for t, u in oracle.execute(
            "SELECT event_type, COUNT(DISTINCT user_id) FROM events GROUP BY 1"
        ).fetchall()
    }
    assert set(got) == set(exact)
    for t, users in exact.items():
        assert got[t]["exact_users"] == users, t
        assert got[t]["approx_users_ok"], t
        assert got[t]["approx_p50_ok"], t


def test_kmeans_ivf_train_matches_python_replay(spark):
    """Replay the identical Lloyd's iterations in plain Python (same init,
    same left-fold distance arithmetic, same decimal means) and compare
    cell sizes exactly + mean squared distances tightly."""
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.parquet as pq

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        KMEANS_ITERS,
        KMEANS_K,
        kmeans_ivf_cells,
    )

    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    tbl = tbl.sort_values("vec_id")
    vecs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for _, r in tbl.iterrows()
    ]
    cents = [v for _, v in vecs[:KMEANS_K]]

    def d2(e, c):
        acc = 0.0
        for x, y in zip(e, c):
            acc += (x - y) * (x - y)
        return acc

    def assign():
        out = []
        for vid, e in vecs:
            ds = [d2(e, c) for c in cents]
            m = min(ds)
            out.append((vid, e, ds.index(m), m))
        return out

    q = Decimal(1).scaleb(-12)
    for _ in range(KMEANS_ITERS):
        assigned = assign()
        sums: dict = {}
        for _, e, cell, _m in assigned:
            s = sums.setdefault(cell, [Decimal(0)] * len(e) + [0])
            for i, x in enumerate(e):
                s[i] += Decimal(repr(x)).quantize(q, ROUND_HALF_UP)
            s[-1] += 1
        for cell, s in sums.items():
            n = s[-1]
            cents[cell] = [float(v) / n for v in s[:-1]]

    final = assign()
    expect: dict = {}
    for _, _e, cell, m in final:
        n, sd = expect.get(cell, (0, Decimal(0)))
        expect[cell] = (n + 1, sd + Decimal(repr(m)).quantize(q, ROUND_HALF_UP))

    got = {r["cell"]: r for r in kmeans_ivf_cells(spark, SF_DIR).collect()}
    assert set(got) == set(expect)
    for cell, (n, sd) in expect.items():
        assert got[cell]["n_vectors"] == n, cell
        assert got[cell]["mean_sq_dist"] == pytest.approx(
            float(sd) / n, abs=1e-5
        ), cell


@pytest.mark.parametrize(
    "entry, width",
    [("simhash_hamming_pairs", 32), ("simhash64_hamming_pairs_wide", 64)],
    ids=["w32", "w64"],
)
def test_simhash_banding_loses_no_pairs(spark, oracle, entry, width):
    """Pigeonhole recall proof by enumeration: the 4-band blocking (4×8
    bits at width 32, 4×16 at width 64) must return EXACTLY the pairs a
    brute-force all-pairs Hamming scan finds (≤ SIMHASH_MAX_HAMMING bits
    differ ⇒ ≥ 1 band matches exactly, so banding can only ever be
    lossless) — checked against a DuckDB all-pairs twin the Spark/oracle
    pipeline never uses."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup

    banded = dedup.QUERIES[entry](spark, SF_DIR).collect()
    brute = oracle.sql(
        f"""
        WITH sh AS ({dedup._duck_simhash_sql(width)})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash))
              <= {dedup.SIMHASH_MAX_HAMMING}
        """
    ).df()
    assert set(map(tuple, banded)) == set(map(tuple, brute.values.tolist()))


def _write_documents(out: str, docs) -> None:
    """A driver-schema ``documents.parquet`` of ``(doc_id, text)`` pairs
    under ``out``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": [d for d, _ in docs],
                "text": [t for _, t in docs],
                "lang": ["xx"] * len(docs),
                "source": ["edge"] * len(docs),
                "n_chars": [len(t) for _, t in docs],
            }
        ),
        f"{out}/documents.parquet",
    )


def test_shingle_overlap_entries_exact_past_a_hot_shingle(spark, tmp_path):
    """Jaccard and containment stay exact when one shingle is in every
    document: 1,050 docs of 15 unique tokens each open with the same
    3-token boilerplate, so its shingle has df = 1,050, and 10 planted
    pairs differ only in their last token. Both entries must equal
    their oracle, which joins every shingle: dropping the hot one (a
    df cap) would lower each planted pair's ``shared`` by one."""
    import duckdb

    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup

    n_docs, n_pairs = 1050, 10
    docs = []
    for d in range(n_docs):
        words = [f"w{d}x{k}" for k in range(15)]
        if d % 2 == 1 and d < 2 * n_pairs:  # planted near-dup of doc d - 1
            words = [f"w{d - 1}x{k}" for k in range(14)] + [f"w{d}x14"]
        docs.append((d, "lorem ipsum dolor " + " ".join(words)))
    out = str(tmp_path)
    _write_documents(out, docs)
    session = spark.newSession()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{out}/documents.parquet')"
        )
        hot = con.execute(
            f"WITH {dedup._DUCK_SHINGLES} SELECT MAX(c) FROM"
            " (SELECT COUNT(*) AS c FROM sh GROUP BY sh_h)"
        ).fetchone()[0]
        assert hot == n_docs
        for name in ("dedup_ngram_jaccard", "dedup_ngram_containment"):
            df = _QUERIES[name](session, out)
            assert_matches_oracle(df, con, _ORACLE[name], name)
            planted = {(r["doc_a"], r["doc_b"]) for r in df.collect()}
            assert planted == {(d, d + 1) for d in range(0, 2 * n_pairs, 2)}, name
    finally:
        con.close()


def test_embedding_dim_stats_dead_dimension_clamp(spark, tmp_path):
    """A dimension constant at 0.1 makes E[x²]−E[x]² fractionally negative
    under float rounding — exactly the dead-dimension input this
    diagnostic advertises. Unclamped, Spark sqrt returns NaN and duckdb
    raises; with the GREATEST(·,0) clamp both engines report std = 0.0
    on the SAME doctored corpus."""
    import duckdb

    from awscommunityday_2025_iceberg_snowfalke_spark.operators import similarity
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        embedding_dim_stats,
    )

    rows = [(i, i % 3, [0.1, float(i)]) for i in range(7)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = {
        r["pos"]: r["std"]
        for r in embedding_dim_stats(spark, str(tmp_path)).collect()
    }
    assert got[0] == 0.0, f"dead dimension must clamp to 0.0, got {got[0]}"
    assert got[1] > 0.0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tmp_path}/embeddings.parquet/*.parquet')"
    )
    oracle = {
        r[0]: r[3]
        for r in con.execute(
            similarity.ORACLE["embedding_dim_stats"]
        ).fetchall()
    }
    con.close()
    assert oracle[0] == 0.0


def test_embedding_pca_variance_eigen_replay(spark):
    """The PCA spectrum assembled from the engine's bounded artifacts
    (gram matrix + per-dim means) must match a direct numpy covariance
    eigendecomposition of the raw parquet, and the gated invariants must
    hold for real."""
    import numpy as np
    import pyarrow.parquet as pq

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        embedding_dim_stats,
        embedding_gram_matrix,
        embedding_pca_variance,
    )

    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    E = np.array(tbl["embedding"].tolist(), dtype=np.float64)
    n, d = E.shape
    mu_direct = E.mean(axis=0)
    C_direct = (E.T @ E) / n - np.outer(mu_direct, mu_direct)
    lam_direct = np.linalg.eigvalsh(C_direct)

    G = np.zeros((d, d))
    for r in embedding_gram_matrix(spark, SF_DIR).collect():
        G[r["i"], r["j"]] = G[r["j"], r["i"]] = r["gram"]
    mu = np.zeros(d)
    for r in embedding_dim_stats(spark, SF_DIR).collect():
        mu[r["pos"]] = r["mean"]
    lam_engine = np.linalg.eigvalsh(G / n - np.outer(mu, mu))

    # gram entries rounded to 6 dp, means to 8 dp → small assembly drift
    assert np.allclose(lam_engine, lam_direct, atol=1e-3)

    row = embedding_pca_variance(spark, SF_DIR).collect()[0]
    assert row["dim"] == d and row["n_vectors"] == n
    assert row["eig_sum_ok"] and row["eig_nonneg_ok"]
    assert abs(row["trace_var"] - lam_direct.sum()) < 1e-3


def test_keep_best_quality_beats_min_id(spark, tmp_path):
    """Semantic regression for quality-aware survivorship: a near-dup pair
    where the LOWER id is the punctuation-soup copy and the higher id is
    clean — MIN(doc_id) survivorship (dedup_clusters' canonical flag)
    would keep the bad copy; dedup_keep_best_quality must keep the clean
    one."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        dedup_keep_best_quality,
    )

    base = (
        "the cat and the dog run to the park and play in the sun for a "
        "while today with the kids and the ball"
    )
    soup = " " + "!!!!....;;;;:::::" * 8
    rows = [
        (0, "en", "crawlA", base + soup),   # near-dup, fails punct rule
        (1, "en", "crawlB", base),           # near-dup, passes
        (2, "en", "crawlA", "completely different words nobody repeats "
                             "anywhere else in this corpus at all okay"),
    ]
    df = spark.createDataFrame(
        [(i, lang, src, t, len(t)) for i, lang, src, t in rows],
        "doc_id long, lang string, source string, text string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {
        r["cluster_id"]: r
        for r in dedup_keep_best_quality(spark, str(tmp_path)).collect()
    }
    pair = out[0]  # cluster id = min member id = 0
    assert pair["cluster_size"] == 2, out
    assert pair["survivor_doc"] == 1, (
        "must keep the clean copy, not MIN(doc_id): %s" % (pair,)
    )
    assert pair["survivor_ok"] == 1 and pair["n_quality_ok"] == 1


def test_dedup_exact_substrings_spans(spark, tmp_path):
    """Lee-et-al exact substring dedup on a doctored corpus with KNOWN
    span geometry: a 60-token span shared by two docs must surface as one
    maximal span per doc at the exact offset (11 duplicated 50-windows →
    span_tokens 60), a 50-token span repeated twice WITHIN one doc must
    surface both occurrences (the paper's self-repetition case), and a
    unique doc must be absent."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        dedup_exact_substrings,
    )

    shared = " ".join(f"shared{i}" for i in range(60))
    inner = " ".join(f"inner{i}" for i in range(50))
    docs = [
        # doc 0: 10 unique tokens, then the shared span at positions 10..69
        (0, " ".join(f"pre{i}" for i in range(10)) + " " + shared),
        # doc 1: the shared span at 0..59, then 20 unique tokens
        (1, shared + " " + " ".join(f"post{i}" for i in range(20))),
        # doc 2: a 50-token span, a 5-token gap, the same span again
        (2, inner + " gapa gapb gapc gapd gape " + inner),
        # doc 3: 60 unique tokens — must not appear at all
        (3, " ".join(f"solo{i}" for i in range(60))),
    ]
    spark.createDataFrame(
        [(i, "en", "crawlA", t, len(t)) for i, t in docs],
        "doc_id long, lang string, source string, text string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    rows = sorted(
        (
            (r["doc_id"], r["span_start"], r["span_tokens"], r["n_dup_windows"])
            for r in dedup_exact_substrings(spark, str(tmp_path)).collect()
        )
    )
    assert rows == [
        (0, 10, 60, 11),
        (1, 0, 60, 11),
        (2, 0, 50, 1),
        (2, 55, 50, 1),
    ], rows

    # removal accounting on the same known geometry: 60+60+100 tokens
    # removed of 70+80+105+60 total, 3 of 4 docs affected, exact ratio
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        dedup_substring_removal_report,
    )

    rep = dedup_substring_removal_report(spark, str(tmp_path)).collect()
    assert len(rep) == 1 and rep[0]["source"] == "crawlA"
    r = rep[0]
    assert (
        r["n_docs"],
        r["docs_with_dup_spans"],
        r["total_tokens"],
        r["removed_tokens"],
    ) == (4, 3, 315, 220), r
    assert r["removed_frac"] == 0.698413  # exact half-up 220/315

    # substring decontamination: doc 0 (0 % 11 == 0) is the benchmark
    # split; only doc 1 shares a full 50-window with it (the 60-token
    # span -> 11 shared windows, one 60-token contiguous leak); doc 2's
    # internal repetition must NOT be flagged
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        benchmark_contamination_substrings,
    )

    leaks = [
        (r["doc_id"], r["n_shared_windows"], r["max_leak_tokens"])
        for r in benchmark_contamination_substrings(
            spark, str(tmp_path)
        ).collect()
    ]
    assert leaks == [(1, 11, 60)], leaks


def test_ann_ivf_pq_refine_recovers_recall(spark):
    """IVF-PQ's exact-refine stage must recover the recall the 8-byte
    codes destroy: ADC alone measures ~0.16 recall on this corpus; after
    the PQ_REFINE shortlist + exact re-rank the PQ result must match the
    uncompressed IVF top-k's recall floor, and every returned pair's
    exact cosine must agree with the brute-force score for that pair."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import similarity
    from conftest import SF_DIR

    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in similarity.knn_bruteforce_cosine(spark, SF_DIR).collect()
    }
    pq_rows = similarity.ann_ivf_pq_cosine(spark, SF_DIR).collect()
    pq = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in pq_rows}
    assert bf, "brute force must return neighbors"
    recall = len(set(bf) & set(pq)) / len(bf)
    # same floor as test_ann_ivf_recall_floor: with PQ_REFINE = 10·k the
    # refine stage makes PQ recall == plain-IVF recall at this scale
    assert recall >= 0.25, f"IVF-PQ recall {recall:.2f} below floor"
    for key in set(bf) & set(pq):
        assert pq[key] == bf[key], (key, pq[key], bf[key])
    for r in pq_rows:
        assert 1 <= r["rank"] <= similarity.TOP_K


def test_gopher_rules_doctored_docs(spark, tmp_path):
    """Each Gopher rule must trip on a doc doctored to violate exactly it:
    short doc -> wc, alternating boilerplate -> both repetition rules,
    stopword-free doc -> stopword, hash soup -> symbol; the clean doc
    passes everything."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        gopher_quality_rules,
    )

    clean = "the a " + " ".join(f"tok{i}" for i in range(58))
    short = "the a " + " ".join(f"tok{i}" for i in range(8))
    repet = "the a " + "spam ham " * 30
    nostop = " ".join(f"word{i}" for i in range(60))
    symsoup = "the a " + " ".join(
        "###" if i % 5 == 0 else f"sym{i}" for i in range(58)
    )
    docs = [(0, clean), (1, short), (2, repet), (3, nostop), (4, symsoup)]
    spark.createDataFrame(
        [(i, "en", "srcT", t, len(t)) for i, t in docs],
        "doc_id long, lang string, source string, text string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    rows = {
        r["doc_id"]: r for r in gopher_quality_rules(spark, str(tmp_path)).collect()
    }
    flags = (
        "wc_ok", "wordlen_ok", "symbol_ok", "alpha_ok", "stopword_ok",
        "rep_bigram_ok", "rep_trigram_ok", "gopher_ok",
    )
    assert [rows[0][f] for f in flags] == [1] * 8, rows[0]
    assert (rows[1]["wc_ok"], rows[1]["gopher_ok"]) == (0, 0)
    assert (
        rows[2]["rep_bigram_ok"],
        rows[2]["rep_trigram_ok"],
        rows[2]["gopher_ok"],
    ) == (0, 0, 0)
    assert (rows[3]["stopword_ok"], rows[3]["gopher_ok"]) == (0, 0)
    assert (rows[4]["symbol_ok"], rows[4]["gopher_ok"]) == (0, 0)
    # the violations are surgical: every OTHER flag on the doctored docs
    # stays 1 (each doc trips only its targeted rule set)
    assert [rows[1][f] for f in flags[1:-1]] == [1] * 6, rows[1]
    assert [rows[3][f] for f in ("wc_ok", "wordlen_ok", "symbol_ok", "alpha_ok",
                                 "rep_bigram_ok", "rep_trigram_ok")] == [1] * 6


def test_bigram_scorer_separates_repetition_from_noise(spark, tmp_path):
    """The docstring's discriminative-power claim, verified: two docs with
    IDENTICAL token multisets (so the unigram scorer ties them exactly)
    must separate under the bigram LM — the doc with corpus-typical
    transitions scores low, the order-shuffled doc with never-seen
    transitions scores high."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        bigram_logprob_score,
        unigram_logprob_score,
    )

    patterned = " ".join(["red blue green yellow"] * 5)  # 20 tokens
    sorted_runs = " ".join(
        ["red"] * 5 + ["blue"] * 5 + ["green"] * 5 + ["yellow"] * 5
    )  # same multiset, novel transitions
    docs = [(i, patterned) for i in range(10)] + [(10, sorted_runs)]
    spark.createDataFrame(
        [(i, "en", "srcB", t, len(t)) for i, t in docs],
        "doc_id long, lang string, source string, text string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    uni = {
        r["doc_id"]: r["avg_neg_logprob"]
        for r in unigram_logprob_score(spark, str(tmp_path)).collect()
    }
    assert uni[0] == uni[10], "unigram scorer must tie identical multisets"
    bi = {
        r["doc_id"]: r["avg_neg_logprob"]
        for r in bigram_logprob_score(spark, str(tmp_path)).collect()
    }
    assert bi[10] > bi[0] + 1.0, (bi[0], bi[10])


def test_doc_length_outliers_flags_megadoc(spark, tmp_path):
    """The median/MAD fence must flag an injected concatenation-bug
    megadoc while staying silent on the well-behaved base corpus — and
    the megadoc must NOT move the fence itself (the robustness property
    that motivates median/MAD over mean/stddev)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        doc_length_outliers,
    )

    # 20 well-behaved docs (lengths 100±10) + one 50_000-char megadoc
    rows = [(i, "en", "src", "x" * (100 + i), 100 + i) for i in range(20)]
    rows.append((99, "en", "src", "y" * 50_000, 50_000))
    spark.createDataFrame(
        rows,
        "doc_id long, lang string, source string, text string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {r["lang"]: r for r in doc_length_outliers(spark, str(tmp_path)).collect()}
    en = out["en"]
    assert en["n_outliers"] == 1, en
    # fence unmoved: median stays in the base band (2·median ≈ 2·110)
    assert en["med_x2"] <= 2 * 120, en
    assert en["max_dev_x2"] == 2 * 50_000 - en["med_x2"]


def test_bpe_encode_matches_python_reference(spark, tmp_path):
    """The two-pass-replace encoding must equal a symbol-level greedy BPE
    reference (merge the pair left-to-right, priority order) on words
    exercising every tricky case: composed merges (m+er on 'merger'),
    boundary-sharing chains ('rerere', where a single replace pass would
    miss the second overlap), multiple distinct merges per word, and
    merge-free words."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        BPE_MERGES,
        bpe_encode_fixed_merges,
    )

    def ref_encode(word):
        syms = list(word)
        for a, b in BPE_MERGES:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    text = "merger rerere stats lower hash vector atat stst"
    expect = sum(ref_encode(w) for w in text.split())
    spark.createDataFrame(
        [(0, "en", "src", text, len(text))],
        "doc_id long, lang string, source string, text string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    row = bpe_encode_fixed_merges(spark, str(tmp_path)).collect()[0]
    assert row["n_bpe_tokens"] == expect, (row["n_bpe_tokens"], expect)
    assert row["n_words"] == 8 and row["n_az_chars"] == len(text) - 7


def test_mmr_skips_near_duplicate_neighbors(spark, tmp_path):
    """MMR must pull a moderately-relevant DIVERSE vector ahead of a
    near-duplicate of the first pick, while plain relevance ranks the
    duplicates first — the redundancy case the operator exists for.
    Geometry: query=x; ids 1/2/3 ≈ 0.9-relevance near-dups of each other;
    id 4 = 0.75-relevance but far from the dup cluster. λ=0.7/μ=0.3 →
    after picking id 1, score(id 4) ≈ 0.41 > score(id 2) ≈ 0.33."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        mmr_diverse_topk,
    )

    def vec(*components):
        v = [0.0] * 64
        for idx, val in components:
            v[idx] = val
        return v

    rows = [
        (0, vec((0, 1.0)), 0),                      # the query (x axis)
        (1, vec((0, 0.9), (2, 0.436)), 0),          # near-dup cluster
        (2, vec((0, 0.9), (2, 0.435), (1, 0.001)), 0),
        (3, vec((0, 0.9), (2, 0.434), (1, 0.002)), 0),
        (4, vec((0, 0.75), (2, -0.66)), 1),         # diverse, rel 0.75
        (5, vec((0, 0.2), (1, 0.98)), 2),           # low-rel fillers
        (6, vec((0, 0.15), (1, 0.99)), 2),
        (7, vec((0, 0.1), (1, 0.97)), 2),
    ]
    spark.createDataFrame(
        [(i, [float(x) for x in v], lb) for i, v, lb in rows],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    out = {
        (r["query_id"], r["mmr_rank"]): r["neighbor_id"]
        for r in mmr_diverse_topk(spark, str(tmp_path)).collect()
    }
    assert out[(0, 1)] in {1, 2, 3}, out  # a cluster member leads
    assert out[(0, 2)] == 4, (
        "diversity penalty must promote the far vector over the near-dups",
        out,
    )
    # the remaining cluster members still beat the low-rel fillers
    assert {out[(0, 3)], out[(0, 4)]} <= {1, 2, 3}, out


def test_phash_banding_recovers_all_planted_pairs(spark):
    """Banded pHash pairing must (a) recover EVERY planted
    original↔variant pair at distance ≤2 — the appended 2-byte perturb
    flips exactly two parity bits, and 3 bands pigeonhole-guarantee a
    surviving band — and (b) equal brute-force enumeration over the
    fingerprint table exactly (banding loses nothing)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.multimodal import (
        PHASH_VARIANT_MOD,
        PHASH_VARIANT_OFFSET,
        multimodal_phash_hamming_pairs,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    rows = multimodal_phash_hamming_pairs(spark, SF_DIR).collect()
    planted = {(r["doc_a"], r["doc_b"]) for r in rows if r["is_planted"] == 1}
    docs = load(spark, SF_DIR, "documents")
    expected = {
        (i, i + PHASH_VARIANT_OFFSET)
        for (i,) in docs.select("doc_id").collect()
        if i % PHASH_VARIANT_MOD == 0
    }
    assert planted == expected, (len(planted), len(expected))
    for r in rows:
        if r["is_planted"]:
            assert r["hamming"] == 2, r  # 'ab' flips exactly 2 parity bits


def test_pack_placement_consistent_with_fill_report(spark):
    """The per-doc placement manifest and the per-bin fill report are two
    views of ONE packing: for every bin, the token mass the placements
    assign into it (clipped doc spans) must equal the fill report's
    bin_tokens, and offsets must never exceed the budget."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.pipeline import (
        PACK_BUDGET,
        pack_docs_placement,
        pack_docs_sequences,
    )

    place = pack_docs_placement(spark, SF_DIR).collect()
    fill = {
        r["bin_id"]: r["bin_tokens"]
        for r in pack_docs_sequences(spark, SF_DIR).collect()
    }
    mass: dict = {}
    by_start: dict = {}
    for r in place:
        assert 0 <= r["start_offset"] < PACK_BUDGET, r
        g = r["start_bin"] * PACK_BUDGET + r["start_offset"]
        end = g + r["n_tokens"]
        assert r["end_bin"] == (end - 1) // PACK_BUDGET
        by_start[r["start_bin"]] = by_start.get(r["start_bin"], 0) + r["n_tokens"]
        for b in range(r["start_bin"], r["end_bin"] + 1):
            lo = max(g, b * PACK_BUDGET)
            hi = min(end, (b + 1) * PACK_BUDGET)
            mass[b] = mass.get(b, 0) + (hi - lo)
    # fill report groups full doc counts by STARTING bin — exact match
    assert by_start == fill, (len(by_start), len(fill))
    # split-span accounting: the streaming pack fills every non-final bin
    # to EXACTLY the budget (the packing invariant)
    last = max(mass)
    for b, m in mass.items():
        assert m == (PACK_BUDGET if b < last else m), (b, m)
        if b < last:
            assert m == PACK_BUDGET, (b, m)


def test_opq_allocation_balanced_and_recall_floor(spark):
    """The OPQ variance-balanced allocation must be a true permutation
    (every dim assigned exactly once), snake-balanced (each subspace gets
    exactly PQ_SUB dims, one per variance band), and the permuted
    pipeline must hold the same recall floor as plain PQ with every
    returned pair's exact cosine agreeing with brute force."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import similarity
    from conftest import SF_DIR

    rows = similarity.embedding_opq_permutation(spark, SF_DIR).collect()
    assert len(rows) == similarity.DIM
    assert {r["pos"] for r in rows} == set(range(similarity.DIM))
    assert {r["var_rank"] for r in rows} == set(range(similarity.DIM))
    per_m = {}
    for r in rows:
        per_m.setdefault(r["subspace"], []).append(r)
    assert set(per_m) == set(range(similarity.PQ_M))
    for m, rs in per_m.items():
        assert len(rs) == similarity.PQ_SUB, (m, len(rs))
        # one dim per variance band: slots are 0..PQ_SUB-1 exactly once
        assert sorted(r["slot"] for r in rs) == list(range(similarity.PQ_SUB))
    # variance ordering: rank 0 is the max-variance dim
    by_rank = sorted(rows, key=lambda r: r["var_rank"])
    vars_ = [r["dim_var"] for r in by_rank]
    assert vars_ == sorted(vars_, reverse=True)

    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in similarity.knn_bruteforce_cosine(spark, SF_DIR).collect()
    }
    opq_rows = similarity.ann_ivf_opq_cosine(spark, SF_DIR).collect()
    opq = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in opq_rows}
    recall = len(set(bf) & set(opq)) / len(bf)
    assert recall >= 0.25, f"OPQ recall {recall:.2f} below floor"
    for key in set(bf) & set(opq):
        assert opq[key] == bf[key], (key, opq[key], bf[key])


def test_dedup_substring_removed_text_surgery(spark, tmp_path):
    """The removal TRANSFORM on the same known span geometry: doomed
    tokens are cut exactly (shared span gone from both docs, both
    occurrences of the self-repeated span gone), survivors keep their
    order, the unique doc round-trips verbatim under the canonical
    whitespace, and token accounting matches the span table."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        dedup_substring_removed_text,
    )

    shared = " ".join(f"shared{i}" for i in range(60))
    inner = " ".join(f"inner{i}" for i in range(50))
    docs = [
        (0, " ".join(f"pre{i}" for i in range(10)) + " " + shared),
        (1, shared + " " + " ".join(f"post{i}" for i in range(20))),
        (2, inner + " gapa gapb gapc gapd gape " + inner),
        (3, " ".join(f"solo{i}" for i in range(60))),
    ]
    spark.createDataFrame(
        [(i, "en", "crawlA", t, len(t)) for i, t in docs],
        "doc_id long, lang string, source string, text string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["doc_id"]: r
        for r in dedup_substring_removed_text(spark, str(tmp_path)).collect()
    }
    assert got[0]["text_clean"] == " ".join(f"pre{i}" for i in range(10))
    assert (got[0]["n_tokens"], got[0]["n_tokens_clean"],
            got[0]["removed_tokens"]) == (70, 10, 60)
    assert got[1]["text_clean"] == " ".join(f"post{i}" for i in range(20))
    assert got[1]["removed_tokens"] == 60
    assert got[2]["text_clean"] == "gapa gapb gapc gapd gape"
    assert got[2]["removed_tokens"] == 100
    # the unique doc is untouched (canonical whitespace == original here)
    assert got[3]["text_clean"] == docs[3][1]
    assert got[3]["removed_tokens"] == 0


def test_opq_np_train_matches_python_replay(spark):
    """Replay the full OPQ-NP alternation in plain Python/numpy — same
    OPQ-P warm start, same per-(subspace, code) decimal group sums
    (Decimal repr/quantize, the k-means replay device), same codebook /
    Procrustes update order — and compare rotations, codebooks, and the
    per-round distortion sequence; also pin that the measured
    distortions are non-increasing (the block-descent guarantee)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pyarrow.parquet as pq

    import awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity as S

    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    tbl = tbl.sort_values("vec_id")
    X = np.array(
        [np.asarray(e, dtype=np.float64) for e in tbl["embedding"]]
    )
    d = X.shape[1]

    R0, _, _ = S._opq_rotation(spark, SF_DIR)
    got_R, got_cb, got_dist = S._opq_np_train(spark, SF_DIR, R0=R0)

    # engine-equal centroids: the decimal-mean device is certified, so
    # reuse it rather than re-deriving label means in floating Python
    cent_rows = (
        S._centroids(S.load(spark, SF_DIR, "embeddings"))
        .orderBy("label")
        .collect()
    )
    C = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    k = C.shape[0]
    q = Decimal(1).scaleb(-12)

    def dsum(vals):
        acc = Decimal(0)
        for v in vals:
            acc += Decimal(repr(float(v))).quantize(q, ROUND_HALF_UP)
        return float(acc)

    sq = dsum((X * X).ravel())
    R = np.asarray(R0, dtype=np.float64)
    M, SUB = S.PQ_M, S.PQ_SUB
    cb = [(C @ R)[:, m * SUB : (m + 1) * SUB].copy() for m in range(M)]
    dist = []
    for _ in range(S.OPQ_NP_ROUNDS):
        Xp = X @ R
        codes = np.empty((len(X), M), dtype=np.int64)
        for m in range(M):
            Em = Xp[:, m * SUB : (m + 1) * SUB]
            D = (Em * Em).sum(axis=1)[:, None] - 2.0 * (Em @ cb[m].T)
            D = D + (cb[m] * cb[m]).sum(axis=1)[None, :]
            codes[:, m] = np.argmin(D, axis=1)
        Sx = np.zeros((M, k, d))
        n_mj = np.zeros((M, k), dtype=np.int64)
        for m in range(M):
            for j in range(k):
                sel = codes[:, m] == j
                n_mj[m, j] = int(sel.sum())
                if n_mj[m, j]:
                    for pos in range(d):
                        Sx[m, j, pos] = dsum(X[sel, pos])
        for m in range(M):
            blk = R[:, m * SUB : (m + 1) * SUB]
            for j in range(k):
                if n_mj[m, j] > 0:
                    cb[m][j] = (Sx[m, j] @ blk) / n_mj[m, j]
        Mx = np.zeros((d, d))
        y_sq = 0.0
        for m in range(M):
            for j in range(k):
                if n_mj[m, j] == 0:
                    continue
                y = np.zeros(d)
                y[m * SUB : (m + 1) * SUB] = cb[m][j]
                Mx += np.outer(Sx[m, j], y)
                y_sq += n_mj[m, j] * float(cb[m][j] @ cb[m][j])
        U, _s, Vt = np.linalg.svd(Mx)
        R = U @ Vt
        dist.append(sq - 2.0 * float(np.trace(R.T @ Mx)) + y_sq)

    assert np.abs(got_R - R).max() < 1e-9, "rotation replay diverged"
    for m in range(M):
        assert np.abs(got_cb[m] - cb[m]).max() < 1e-9
    assert np.allclose(got_dist, dist, rtol=1e-9)
    assert all(
        b <= a + 1e-6 * abs(a) for a, b in zip(got_dist, got_dist[1:])
    ), got_dist


def test_semdedup_sweep_agrees_with_primary(spark):
    """The sweep's count at ε = SEMDEDUP_THRESHOLD must equal the
    registered primary's flagged-duplicate count (the sweep is the same
    statistic evaluated from the one-pass max-cosine artifact), and the
    removal curve is monotone non-increasing in ε."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        SEMDEDUP_THRESHOLD,
        semantic_dedup,
        semantic_dedup_threshold_sweep,
    )
    from conftest import SF_DIR
    from pyspark.sql import functions as F

    sweep = {
        r["eps"]: r
        for r in semantic_dedup_threshold_sweep(spark, SF_DIR).collect()
    }
    flagged = (
        semantic_dedup(spark, SF_DIR)
        .agg(F.sum(F.col("is_semdup").cast("long")).alias("n"))
        .collect()[0]["n"]
    )
    assert sweep[SEMDEDUP_THRESHOLD]["n_semdup"] == flagged
    eps_sorted = sorted(sweep)
    counts = [sweep[e]["n_semdup"] for e in eps_sorted]
    assert counts == sorted(counts, reverse=True), counts
    for r in sweep.values():
        assert r["n_total"] == r["n_semdup"] + r["n_kept"]
    # r16-ADVICE guard: the sweep answers n_total from the raw embedding
    # table, which is only correct while the cell-assignment pass emits
    # EXACTLY one row per embedding row — a future filter/dedup inside
    # the assignment would silently corrupt n_kept without this pin
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        _assigned_cells,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import (
        load,
    )

    n_emb = load(spark, SF_DIR, "embeddings").count()
    assert _assigned_cells(spark, SF_DIR).count() == n_emb
    for r in sweep.values():
        assert r["n_total"] == n_emb


def test_phash_clusters_variants_join_originals(spark):
    """Every planted re-encode variant must land in a cluster whose id
    is an ORIGINAL asset (cluster ids are min-reachable, variants carry
    +OFFSET ids, and the ≤2-bit perturbation is within the lossless
    banding radius — so a variant clustering alone would mean a recall
    hole in the pair layer)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.multimodal import (
        PHASH_VARIANT_OFFSET,
        multimodal_phash_clusters,
    )
    from conftest import SF_DIR
    from pyspark.sql import functions as F

    df = multimodal_phash_clusters(spark, SF_DIR)
    variants = df.filter(F.col("is_variant") == 1)
    assert variants.count() > 0
    assert (
        variants.filter(
            F.col("cluster_id") >= PHASH_VARIANT_OFFSET
        ).count()
        == 0
    )
    # canonical survivors are exactly one per cluster
    ones = (
        df.groupBy("cluster_id")
        .agg(F.sum(F.col("is_canonical").cast("int")).alias("n"))
        .filter(F.col("n") != 1)
        .count()
    )
    assert ones == 0


def test_bpe_decode_roundtrip_lossless(spark):
    """The 64-merge tokenizer is lossless over the entire corpus:
    decode(encode(word)) == word for EVERY word of EVERY document —
    n_roundtrip_ok must equal n_words corpus-wide."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        bpe_decode_roundtrip,
    )
    from conftest import SF_DIR
    from pyspark.sql import functions as F

    r = (
        bpe_decode_roundtrip(spark, SF_DIR)
        .agg(
            F.sum("n_words").alias("w"),
            F.sum("n_roundtrip_ok").alias("ok"),
        )
        .collect()[0]
    )
    assert r["w"] > 0 and r["w"] == r["ok"], (r["w"], r["ok"])


def test_leakage_safe_split_zero_straddle(spark):
    """The split entry's contract on the testdata: the cluster-aware
    split has ZERO near-dup pairs straddling splits (by construction —
    members inherit the component representative's bucket) while the
    naive per-doc split measurably leaks; both are 3-way with every doc
    assigned exactly once."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        leakage_safe_split,
    )
    from conftest import SF_DIR

    rows = leakage_safe_split(spark, SF_DIR).collect()
    by = {}
    for r in rows:
        by.setdefault(r["method"], {})[r["split_name"]] = r
    assert set(by) == {"naive", "cluster_safe"}
    for method, splits in by.items():
        assert set(splits) == {"train", "val", "test"}, method
    assert all(
        r["leaky_pairs"] == 0 for r in by["cluster_safe"].values()
    )
    assert next(iter(by["naive"].values()))["leaky_pairs"] > 0
    n_naive = sum(r["n_docs"] for r in by["naive"].values())
    n_safe = sum(r["n_docs"] for r in by["cluster_safe"].values())
    assert n_naive == n_safe  # every doc assigned exactly once, both ways


def test_sq8_reconstruction_error_bound(spark, tmp_path):
    """SQ8 invariant on a doctored corpus with edge cases: midpoint
    decode bounds |x − r| ≤ span/510 per dimension (+fp eps) including
    the exact extremes x = vmin (code 0) and x = vmax (clamped to code
    255), and a CONSTANT dimension (span 0) reconstructs to vmin
    exactly."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        _as_double,
        _sq8_ranges,
        _sq8_recon,
    )

    rows = [
        (0, 0, [0.0, -5.0, 7.25]),   # vmin on dims 0/1
        (1, 0, [10.0, -5.0, 7.25]),  # vmax dim 0; dim 2 constant
        (2, 1, [3.7, 4.0, 7.25]),    # vmax dim 1, interior dim 0
        (3, 1, [9.999, -4.999, 7.25]),
    ]
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    emb = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    vmin_arr, span_arr = _sq8_ranges(emb)
    got = (
        emb.select(
            "vec_id",
            _as_double("embedding").alias("x"),
            _sq8_recon(_as_double("embedding"), vmin_arr, span_arr).alias(
                "r"
            ),
        )
        .collect()
    )
    spans = [10.0, 9.0, 0.0]
    for row in got:
        for d, (x, r) in enumerate(zip(row["x"], row["r"])):
            if spans[d] == 0.0:
                assert r == x, (row["vec_id"], d)  # constant dim: exact
            else:
                bound = spans[d] / (2 * 255) + 1e-12
                assert abs(x - r) <= bound, (row["vec_id"], d, x, r)


def test_ann_ivf_incremental_unchanged_cells_agree(spark, tmp_path):
    """Frozen-index invariant on a doctored corpus: arrivals land only
    in clusters 0/1, so the full re-train's centroids for clusters 2/3
    are built from the IDENTICAL member set → exactly zero shift; with
    well-separated clusters every arrival's frozen assignment equals
    the rebuild assignment (the quality cost of not re-training is
    zero), and the re-train trigger fires only where occupancy grew."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        ann_ivf_incremental_assign,
    )

    def vec(cluster, jitter):
        e = [0.0] * 8
        e[cluster * 2] = 10.0
        e[cluster * 2 + 1] = jitter
        return e

    rows = []
    vid = 0
    for cluster in range(4):  # standing: even vec_ids, all clusters
        for j in range(3):
            rows.append((vid, cluster, vec(cluster, 0.1 * j)))
            vid += 2
    vid = 1
    for cluster in (0, 1):  # arriving: odd vec_ids, clusters 0/1 only
        for j in range(5):  # 5 arrivals: occupancy growth fires (5·2 > 3·3)
            rows.append((vid, cluster, vec(cluster, 0.2 * j)))
            vid += 2
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = {
        r["cell"]: r
        for r in ann_ivf_incremental_assign(spark, str(tmp_path)).collect()
    }
    assert set(got) == {0, 1, 2, 3}
    for c in (2, 3):  # untouched clusters: identical member set
        assert got[c]["centroid_shift"] == 0.0
        assert got[c]["n_arrived"] == 0
        assert got[c]["retrain"] == 0
    for c in (0, 1):  # grown clusters: full agreement, trigger fires
        assert got[c]["n_arrived"] == 5
        assert got[c]["n_agree_rebuild"] == 5
        assert got[c]["n_standing"] == 3
        # BOTH trigger branches genuinely fire here: occupancy growth
        # (5·2 = 10 > 3·3 = 9) and centroid shift (> 0.01)
        assert got[c]["centroid_shift"] > 0.01
        assert got[c]["retrain"] == 1


def test_ann_ivf_append_probe_no_retrain_equals_rebuild(spark, tmp_path):
    """The invariant the re-train trigger protects, end-to-end: on a
    doctored STABLE corpus (each cluster's single arrival sits exactly
    at the standing centroid → zero shift, and 1·2 < 3·3 → no occupancy
    growth) the trigger says NO re-train, and the append path's probe
    results — arrivals frozen-assigned and parquet-appended into the
    standing cell-partitioned store — EQUAL a full rebuild's probe,
    rank for rank, for every query."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        ann_ivf_append_probe,
    )

    def vec(cluster, jitter):
        e = [0.0] * 8
        e[cluster * 2] = 10.0
        e[cluster * 2 + 1] = jitter
        return e

    rows = []
    vid = 0
    for cluster in range(4):  # standing: even vec_ids, 3 per cluster
        for j in range(3):
            rows.append((vid, cluster, vec(cluster, 0.1 * j)))
            vid += 2
    for cluster in range(4):  # arriving: odd vec_ids, ONE per cluster,
        # placed at the standing mean (jitter (0+0.1+0.2)/3 = 0.1) so the
        # full re-train's centroid is unchanged: shift ~1e-17 ≤ 0.01
        rows.append((2 * cluster + 1, cluster, vec(cluster, 0.1)))
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = ann_ivf_append_probe(spark, str(tmp_path)).collect()
    assert len(got) == 5  # N_QUERIES
    for r in got:
        assert r["any_retrain"] == 0, r
        assert r["n_topk"] > 0, r
        assert r["n_rank_agree"] == r["n_topk"], r
        assert r["n_set_agree"] == r["n_topk"], r


def test_dedup_paragraphs_first_occurrence_and_transform(spark, tmp_path):
    """Paragraph dedup on a doctored corpus with PLANTED repeated
    paragraphs: first corpus-wide occurrence survives (lowest doc_id,
    then position — including within-doc repeats), the removal
    transform rebuilds docs from survivors in order, and token
    accounting is exact."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        PARA_TOKENS,
        dedup_paragraphs_removed_text,
        dedup_paragraphs_report,
    )

    pa = " ".join(f"dupa{i}" for i in range(PARA_TOKENS))
    pb = " ".join(f"uniqb{i}" for i in range(PARA_TOKENS))
    pc = " ".join(f"uniqc{i}" for i in range(PARA_TOKENS))
    pd_ = " ".join(f"solo{i}" for i in range(30))
    docs = [
        (0, pa + " " + pb),  # A's first occurrence + unique B
        (1, pa + " " + pc),  # A repeated across docs
        (2, pa + " " + pa),  # A repeated twice more (within-doc too)
        (3, pd_),  # unique short doc
    ]
    spark.createDataFrame(
        [(i, "en", "crawlA", t, len(t)) for i, t in docs],
        "doc_id long, lang string, source string, text string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    rep = {
        r["doc_id"]: r
        for r in dedup_paragraphs_report(spark, str(tmp_path)).collect()
    }
    assert (rep[0]["n_paras"], rep[0]["kept_paras"], rep[0]["removed_tokens"]) == (2, 2, 0)
    assert (rep[1]["kept_paras"], rep[1]["removed_paras"]) == (1, 1)
    assert rep[1]["removed_tokens"] == PARA_TOKENS
    assert (rep[2]["kept_paras"], rep[2]["removed_paras"]) == (0, 2)
    assert rep[2]["removed_tokens"] == 2 * PARA_TOKENS
    assert (rep[3]["n_paras"], rep[3]["kept_paras"]) == (1, 1)

    txt = {
        r["doc_id"]: r
        for r in dedup_paragraphs_removed_text(spark, str(tmp_path)).collect()
    }
    assert txt[0]["text_clean"] == pa + " " + pb
    assert txt[1]["text_clean"] == pc
    assert txt[2]["text_clean"] == ""  # fully-duplicated doc empties out
    assert txt[3]["text_clean"] == pd_


def test_quality_classifier_separates_and_bands_monotone(spark):
    """The NB-weighted hashed-feature classifier must actually classify:
    train agreement with its rule label clearly above the label base
    rate, pred_quality ⇔ logit > 0, and prob_band monotone in logit6."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        quality_classifier_score,
    )

    rows = quality_classifier_score(spark, SF_DIR).collect()
    n = len(rows)
    assert n > 0
    base = sum(r["label_quality_ok"] for r in rows) / n
    agree = (
        sum(r["pred_quality"] == r["label_quality_ok"] for r in rows) / n
    )
    # above the majority-class predictor by a real margin (measured:
    # +6.6pp at sf0.001, +15.6pp at sf0.01)
    assert agree >= max(base, 1 - base) + 0.05, (agree, base)
    for r in rows:
        assert r["pred_quality"] == (1 if r["logit6"] > 0 else 0) or (
            abs(r["logit6"]) < 1e-6
        )
    by_logit = sorted(rows, key=lambda r: r["logit6"])
    bands = [r["prob_band"] for r in by_logit]
    assert bands == sorted(bands), "prob_band must be monotone in logit"


def test_qc_scored_fused_equals_join_form(spark):
    """The r16 fused inference path (`_qc_scored_fused`: weight lookups
    ride the feature scan as array-literal element_at, one shuffle) must
    return EXACTLY the join form's rows — including the inner-join drop
    semantics for buckets absent from the weight table and for docs with
    zero counted features. Weights are trained on a 1/8 sample so that
    missing buckets are genuinely exercised."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        _qc_features,
        _qc_scored,
        _qc_scored_fused,
        _qc_weights,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    docs = load(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    # drop 1/5 of the trained buckets so absent-bucket semantics are
    # genuinely exercised (a 1/8 training sample still covers every
    # bucket at sf0.001)
    weights = _qc_weights(
        _qc_features(docs.filter(F.col("doc_id") % 8 == 0))
    ).filter(F.col("bkt") % 5 != 0)
    joined = {
        (r["doc_id"], r["lang"], r["lbl"]): (r["n_feats"], r["ws"])
        for r in _qc_scored(_qc_features(docs), weights).collect()
    }
    fused = {
        (r["doc_id"], r["lang"], r["lbl"]): (r["n_feats"], r["ws"])
        for r in _qc_scored_fused(docs, weights).collect()
    }
    assert fused == joined
    # sampled training must leave some inference bucket unweighted, or
    # the drop semantics above were vacuous on this data
    n_w = weights.count()
    n_b = (
        _qc_features(docs).select("bkt").distinct().count()
    )
    assert n_w < n_b, (n_w, n_b)


def test_qc_weight_arrays_single_pass_equals_decimal_frame(spark):
    """The r16 single-pass trainer (`_qc_weight_arrays`: one bounded
    collect, Python-int quantization) must reproduce `_qc_weights`'
    decimal-device micro-weights bit-for-bit, and the local-relation
    rebuild (`_qc_weights_relation`) must score through `_qc_scored`
    exactly as the decimal frame does (same rows, same integers)."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        QC_BUCKETS,
        _qc_features,
        _qc_scored,
        _qc_weight_arrays,
        _qc_weights,
        _qc_weights_relation,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    docs = load(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    feats = _qc_features(docs)
    train = _qc_features(docs.filter(F.col("doc_id") % 8 == 0))
    # 1) weights: decimal frame vs single-pass Python ints, bit-equal
    frame = {
        int(r["bkt"]): int(r["w6"]) for r in _qc_weights(train).collect()
    }
    w6, present = _qc_weight_arrays(train)
    assert {b for b in range(QC_BUCKETS) if present[b]} == set(frame)
    for b, w in frame.items():
        assert w6[b] == w, (b, w6[b], w)
    # 2) scoring through the rebuilt local relation == the decimal frame
    joined = {
        (r["doc_id"], r["lang"], r["lbl"]): (r["n_feats"], r["ws"])
        for r in _qc_scored(feats, _qc_weights(train)).collect()
    }
    got = {
        (r["doc_id"], r["lang"], r["lbl"]): (r["n_feats"], r["ws"])
        for r in _qc_scored(
            feats, _qc_weights_relation(spark, w6, present)
        ).collect()
    }
    assert got == joined


def _python_bpe_train(texts, rounds):
    """Reference greedy BPE trainer (tokenwise, no string-replace device)."""
    import re
    from collections import Counter

    wf = Counter()
    for t in texts:
        for w in re.sub(r"[^a-z ]", " ", t.lower()).split(" "):
            if w:
                wf[w] += 1
    syms = {w: list(w) for w in wf}
    merges = []
    for _ in range(rounds):
        pc = Counter()
        for w, f in wf.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        (a, b), c = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        merges.append((len(merges) + 1, a, b, c))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def test_bpe_train_matches_python_greedy_replay(spark):
    """The distributed trainer (word-frequency relation + tokenwise greedy
    fold merges) must reproduce the tokenwise greedy reference exactly —
    ranks, pairs, and selection-time counts."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        BPE_TRAIN_ROUNDS,
        bpe_train_merges,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    texts = [r[0] for r in load(spark, SF_DIR, "documents").select("text").collect()]
    expect = _python_bpe_train(texts, BPE_TRAIN_ROUNDS)
    got = [
        (r["merge_rank"], r["a"], r["b"], r["pair_count"])
        for r in bpe_train_merges(spark, SF_DIR).collect()
    ]
    assert got == expect


def test_bpe_frozen_artifact_is_trainer_output(spark):
    """Close the tokenizer loop: the frozen BPE_MERGES artifact the
    encoder applies must be EXACTLY what the trainer learns on the
    corpus it was trained on (sf0.01) — merge order included."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        BPE_MERGES,
        bpe_train_merges,
    )

    sf01 = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    got = [
        (r["a"], r["b"])
        for r in sorted(
            bpe_train_merges(spark, sf01).collect(),
            key=lambda r: r["merge_rank"],
        )
    ]
    assert tuple(got) == BPE_MERGES


def test_opq_rotation_numpy_replay_and_recall(spark):
    """Replay the OPQ-P rotation in plain numpy from the raw parquet
    (covariance → eigh → greedy eigenvalue allocation, canonical signs)
    and require the operator's rotation to match; then verify the gate
    entry's measured claims directly: rotation orthonormal, allocated
    eigenvalues conserve the decimal trace, rot recall ≥ alloc recall."""
    import numpy as np
    import pyarrow.parquet as pq

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        N_PROBE,
        PQ_M,
        PQ_SUB,
        _opq_rotation,
        _opq_subidx,
        _pq_topk,
        knn_bruteforce_cosine,
    )

    R, lam_alloc, logp = _opq_rotation(spark, SF_DIR)

    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    X = np.array(tbl["embedding"].tolist(), dtype=np.float64)
    n, d = X.shape
    mu = X.mean(axis=0)
    cov = (X.T @ X) / n - np.outer(mu, mu)
    lam, V = np.linalg.eigh(cov)
    order = np.argsort(-lam)
    lam, V = lam[order], V[:, order]
    for j in range(d):
        i = int(np.argmax(np.abs(V[:, j])))
        if V[i, j] < 0:
            V[:, j] = -V[:, j]
    buckets = [[] for _ in range(PQ_M)]
    lp = [0.0] * PQ_M
    for i in range(d):
        m = min(
            (m for m in range(PQ_M) if len(buckets[m]) < PQ_SUB),
            key=lambda m: (lp[m], m),
        )
        buckets[m].append(i)
        lp[m] += float(np.log(max(lam[i], 1e-12)))
    perm = [i for m in range(PQ_M) for i in buckets[m]]
    R_ref = V[:, perm]
    # operator covariance comes through 6-dp gram/decimal means — allow
    # the resulting eigenbasis a small tolerance, but same allocation
    assert R.shape == (d, d)
    assert np.abs(R.T @ R - np.eye(d)).max() < 1e-9
    assert np.abs(np.abs((R * R_ref).sum(axis=0)) - 1.0).max() < 1e-3, (
        "each rotation column must match the replayed eigenvector "
        "(up to the 6-dp gram rounding)"
    )
    assert abs(float(lam_alloc.sum()) - float(lam.sum())) < 1e-3

    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce_cosine(spark, SF_DIR)
        .select("query_id", "neighbor_id")
        .collect()
    }

    def recall(df):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in df.select("query_id", "neighbor_id").collect()
        }
        return len(got & bf) / len(bf)

    r_rot = recall(_pq_topk(spark, SF_DIR, N_PROBE, rot=R))
    r_alloc = recall(
        _pq_topk(spark, SF_DIR, N_PROBE, subidx=_opq_subidx(spark, SF_DIR))
    )
    assert r_rot >= r_alloc, (r_rot, r_alloc)


def test_bpe_train_handles_same_symbol_runs(spark, tmp_path):
    """r11 self-review regression: a merge with a == b over a run of ≥4
    tokens must pair tokens greedily left-to-right — the two-pass
    string-replace device mis-paired (1,2)(4,5) in 'x x x x x x',
    stranding tokens 3 and 6; both trainers (BPE and WordPiece) must
    match their plain Python greedy reference on corpora that FORCE such
    merges, and the DuckDB oracle must agree. Edge corpora: no [a-z]
    word at all, and one-letter words only (no pair exists), give an
    empty merge table on both engines."""
    import duckdb

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        BPE_TRAIN_ROUNDS,
        ORACLE,
        WP_TRAIN_ROUNDS,
        bpe_train_merges,
        wordpiece_train_merges,
    )

    trainers = [
        ("bpe_train_merges", bpe_train_merges, _python_bpe_train,
         BPE_TRAIN_ROUNDS),
        ("wordpiece_train_merges", wordpiece_train_merges, _python_wp_train,
         WP_TRAIN_ROUNDS),
    ]
    corpora = [
        ["xxxxxx xxxx xx", "xxxxx"],
        ["aaaaaaa baab", "abab ababab"],
        ["soooo wellll", "sooo so ooo"],
        ["123 456", "!!! ??", ""],  # no [a-z] word
        ["a b c", "x y z a"],  # one-letter words: no pair
    ]
    for i, texts in enumerate(corpora):
        d = str(tmp_path / f"corpus{i}")
        spark.createDataFrame(
            [(j, t, "en", "t", len(t)) for j, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string,"
            " n_chars int",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        for name, entry, reference, rounds in trainers:
            expect = reference(texts, rounds)
            assert bool(expect) == (i < 3), (name, i, expect)
            got = sorted(tuple(r) for r in entry(spark, d).collect())
            assert got == expect, (name, i, got, expect)
            duck = sorted(con.execute(ORACLE[name]).fetchall())
            assert duck == expect, (name, i, duck, expect)


def test_ppjoin_lossless_and_prunes_candidates(spark, oracle):
    """PPJoin must (a) equal the brute inverted-index join at τ=0.8
    verbatim — the filters only prune provably-sub-τ pairs — and
    (b) actually prune: its candidate set must be a strict subset of
    the full index join's candidate pairs."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup

    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.dedup_jaccard_prefix_filter(spark, SF_DIR).collect()
    }
    brute = {
        (int(a), int(b), float(j))
        for a, b, j in oracle.execute(
            dedup.ORACLE["dedup_jaccard_prefix_filter"]
        ).fetchall()
    }
    assert got == brute
    assert got, "fixture corpus must contain τ≥0.8 near-dup pairs"

    n_cand = dedup._ppjoin_candidates(spark, SF_DIR).count()
    n_full = oracle.execute(
        f"""WITH {dedup._DUCK_SHINGLES}
            SELECT COUNT(*) FROM (
                SELECT DISTINCT a.doc_id, b.doc_id FROM sh a
                JOIN sh b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id)"""
    ).fetchone()[0]
    assert n_cand < n_full, (n_cand, n_full)
    # every confirmed pair is among the candidates (lossless by subset)
    cand_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup._ppjoin_candidates(spark, SF_DIR).collect()
    }
    assert {(a, b) for a, b, _ in got} <= cand_pairs
    # the point of the algorithm: candidate volume reduction is large
    assert n_cand * 2 < n_full, f"only {n_full}/{n_cand} reduction"


def test_bloom_screen_no_false_negatives(spark, tmp_path):
    """Bloom guarantee on a doctored corpus with PLANTED cross-split
    duplicates: every actual duplicate must be flagged maybe_dup (a
    bloom filter has no false negatives) and confirmed by the exact
    tier; false positives are unmasked, never admitted as dups."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        dedup_bloom_screen,
    )

    texts = [f"standing document number {i} with unique text" for i in range(16)]
    batch = [
        texts[3],                       # planted dup of standing doc 3
        "a genuinely new document one",
        texts[7],                       # planted dup of standing doc 7
        "a genuinely new document two",
    ]
    rows = [
        (i, t, "en", "t", len(t)) for i, t in enumerate(texts + batch)
    ]
    d = str(tmp_path / "bloomcorpus")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    # split = 0 + floor(19 * 0.8) = 15 → batch = doc_id 15..19
    # (standing doc 15 itself lands in the batch side: id range device)
    got = {r["lang"]: r for r in dedup_bloom_screen(spark, d).collect()}
    en = got["en"]
    assert en["confirmed_dup"] == 2, en
    assert en["false_positive"] == en["maybe_dup"] - en["confirmed_dup"]
    assert en["definitely_new"] + en["maybe_dup"] == en["batch_docs"]


def test_curation_pipeline_v2_attrition_invariants(spark):
    """Structural contract of the fused curation pipeline: 8 stages in
    order, docs/tokens monotone non-increasing through every filtering
    stage, packing preserves the admitted set, mixture admission
    respects the per-source budget semantics (tokens can only drop at
    stage 6), and each stage's accounting is internally consistent
    with its detail column. Value-level equality vs the composed
    DuckDB oracle is covered by the registry gate; this pins the
    semantic shape."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.pipeline import (
        V2_MIX_BUDGET,
        curation_pipeline_v2,
    )

    rows = curation_pipeline_v2(spark, SF_DIR).collect()
    assert [r["stage_rank"] for r in rows] == list(range(8))
    assert [r["stage"] for r in rows] == [
        "input",
        "paragraph_dedup",
        "exact_dedup_bloom",
        "lsh_neardup",
        "classifier_gate",
        "contamination_screen",
        "token_budget_mixture",
        "packing",
    ]
    by = {r["stage"]: r for r in rows}
    # docs monotone non-increasing through the filtering stages
    docs_seq = [r["docs_out"] for r in rows]
    assert all(a >= b for a, b in zip(docs_seq[:-1], docs_seq[1:]))
    # paragraph dedup can only remove tokens
    assert by["paragraph_dedup"]["tokens_out"] <= by["input"]["tokens_out"]
    assert by["paragraph_dedup"]["detail"] >= 0  # removed paragraphs
    # packing reruns nothing: same docs/tokens as admission, >= 1 bin
    assert by["packing"]["docs_out"] == by["token_budget_mixture"]["docs_out"]
    assert (
        by["packing"]["tokens_out"]
        == by["token_budget_mixture"]["tokens_out"]
    )
    if by["packing"]["docs_out"] > 0:
        assert by["packing"]["detail"] >= 1
    assert by["token_budget_mixture"]["detail"] == V2_MIX_BUDGET
    # classifier gate scored every candidate doc it saw
    assert by["classifier_gate"]["detail"] == by["lsh_neardup"]["docs_out"]


def test_curation_pipeline_v2_empty_gate_matches_oracle(spark, tmp_path):
    """A corpus the classifier gate rejects whole: documents of random
    synthetic words (``tools/scale_smoke.py``'s generator) score no
    positive quality weight, so stages 4-7 are empty and their
    ``tokens_out`` is SQL's SUM over no rows — NULL, as in the DuckDB
    oracle, not 0."""
    import duckdb

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.pipeline import (
        ORACLE,
        curation_pipeline_v2,
    )
    from tools.scale_smoke import synth_documents

    d = str(tmp_path)
    synth_documents(spark, 200, d)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = con.execute(ORACLE["curation_pipeline_v2"]).fetchdf()
    gate = want[want["stage"] == "classifier_gate"].iloc[0]
    assert gate["docs_out"] == 0, "doctored corpus must empty the gate"
    assert_matches_oracle(
        curation_pipeline_v2(spark, d),
        con,
        ORACLE["curation_pipeline_v2"],
        "curation_pipeline_v2",
    )
    con.close()


def test_curation_v2_lsh_screen_matches_lossless_ppjoin(spark):
    """The r14 banding screen leaves the attrition values unchanged at
    test scale: over the pipeline's own rebuilt-then-exact-deduped text,
    the MinHash-banded candidates exactly cover the lossless PPJoin
    τ = 0.8 pair set (also measured 17/17 at sf0.01; the one sf0.1 miss
    — a j = 0.80 boundary pair sharing no band — is the documented
    recall trade the oracle's banded semantics absorb, SCALE.md r14)."""
    from pyspark.sql import Window, functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        PPJOIN_X,
        _lsh_candidates_of,
        _ppjoin_candidates_of,
        _shingles_of,
        _verified_of,
        dedup_paragraphs_removed_text,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import (
        load,
    )

    docs = load(spark, SF_DIR, "documents")
    rebuilt = dedup_paragraphs_removed_text(spark, SF_DIR)
    s1 = (
        docs.select("doc_id")
        .join(rebuilt, "doc_id")
        .filter(F.col("kept_paras") > 0)
        .select("doc_id", F.col("text_clean").alias("text"))
        .withColumn("d", F.sha2("text", 256))
    )
    s2 = (
        s1.withColumn(
            "rn", F.row_number().over(Window.partitionBy("d").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    sh = _shingles_of(spark, s2)
    num, den = PPJOIN_X
    tau = lambda v: (  # noqa: E731 — shared τ = 0.8 keep predicate
        v.filter(
            F.col("shared") * den
            >= num * (F.col("na") + F.col("nb") - F.col("shared"))
        ).select("doc_a", "doc_b")
    )
    banded = set(
        map(tuple, tau(_verified_of(sh, _lsh_candidates_of(sh))).collect())
    )
    lossless = set(
        map(tuple, tau(_verified_of(sh, _ppjoin_candidates_of(sh))).collect())
    )
    assert banded == lossless
    assert banded  # non-degenerate: the corpus plants near-dup pairs


def test_minhash_lsh_pairs_cost_constant_jobs(spark):
    """MinHash/LSH in a fresh session, with the documents table already
    loaded as earlier ops of a pass leave it: the shingle sets are staged
    with their hashes, the signature is one MIN agg over them, and the
    verify is two id joins staged with the band candidates, so the whole
    entry — shingle-set stage, signature, band join, verify stage, the
    threshold read — runs at most 7 Spark jobs (11 with the per-read
    shingle hashing, a separate candidate stage and the shingle-keyed
    verify self-join)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import (
        load,
    )

    fresh = spark.newSession()
    load(fresh, SF_DIR, "documents")
    rows = []
    jobs = jobs_of(fresh, lambda: rows.extend(minhash_lsh_pairs(fresh, SF_DIR).collect()))
    assert rows, "the fixture corpus plants near-dup pairs"
    assert jobs <= 7, jobs


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "dedup_ngram_containment"])
def test_shingle_overlap_entries_cost_at_most_3_jobs(spark, name):
    """With the shingle sets memoized, Jaccard and containment are one
    inverted-index self-join and one pair aggregation: at most 3 Spark
    jobs (6 with a document-frequency cap, which staged its hot set and
    anti-joined it before the self-join)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        _shingle_sets,
    )

    fresh = spark.newSession()
    _shingle_sets(fresh, SF_DIR)
    rows = []
    jobs = jobs_of(fresh, lambda: rows.extend(_QUERIES[name](fresh, SF_DIR).collect()))
    assert rows, "the fixture corpus plants near-dup pairs"
    assert jobs <= 3, jobs


def test_lsh_verify_intersects_each_candidate_pair_once(spark):
    """The verify kernel computes ``size(array_intersect(ha, hb))`` once
    per candidate pair, and its consumers read the staged count: a keep
    predicate over an unstaged ``shared`` would be pushed into the join
    condition with the intersection substituted once per reference, and
    the projection would compute it again."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        _candidate_shared_of,
        _lsh_candidates_of,
        _shingle_sets,
    )

    def intersections(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count(
            "array_intersect"
        )

    fresh = spark.newSession()
    sets = _shingle_sets(fresh, SF_DIR)
    assert intersections(_candidate_shared_of(sets, _lsh_candidates_of(sets))) == 1
    for name in ("minhash_lsh_pairs", "jaccard_threshold_sweep"):
        assert intersections(_QUERIES[name](fresh, SF_DIR)) == 0, name


MINHASH_EDGE_DOCS = [
    (1, ""),
    (2, "two tokens"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),
    (5, "the quick brown fox jumps over the lazy cat near the river bank"),
    (6, "naïve café über straße déjà vu naïve café über straße déjà vu"),
    (7, "naïve café über straße déjà vu naïve café über straße déjà"),
    (8, "東京 大阪 京都 札幌 福岡 東京 大阪 京都"),
    (9, "   leading   spaces and   tabs\tand more words here"),
    (10, "unrelated words entirely different from every other document"),
]


@pytest.mark.parametrize(
    "docs", [MINHASH_EDGE_DOCS, MINHASH_EDGE_DOCS[2:3]], ids=["edge", "single"]
)
def test_minhash_family_matches_oracle_on_edge_inputs(spark, tmp_path, docs):
    """MinHash and exact shingle-overlap entries on a corpus of edge
    inputs — an empty text, a 2-token doc, byte-identical docs, non-ASCII
    text, runs of whitespace — and on a single document, against the
    oracle. A doc with fewer than
    3 tokens has no shingle set, so it never reaches the band join: an
    empty set would give NULL minhashes, and NULL band keys all collide
    on md5('')."""
    import re

    import duckdb

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        _minhash_signatures,
        _shingle_sets,
    )

    out = str(tmp_path)
    _write_documents(out, docs)
    session = spark.newSession()
    sets = _shingle_sets(session, out)
    assert sets.filter("n < 1 OR size(hs) != n").count() == 0
    assert {r["doc_id"] for r in sets.collect()} == {
        d for d, t in docs if len(re.split(r"\s+", t)) >= 3
    }
    sig = _minhash_signatures(sets)
    assert sig.filter(" OR ".join(f"m{i} IS NULL" for i in range(16))).count() == 0
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{out}/documents.parquet')"
        )
        pairs = _QUERIES["minhash_lsh_pairs"](session, out).count()
        assert pairs > 0 if len(docs) > 1 else pairs == 0
        for name in (
            "minhash_lsh_pairs",
            "jaccard_threshold_sweep",
            "dedup_editdist_verify",
            "dedup_ngram_jaccard",
            "dedup_ngram_containment",
            "dedup_jaccard_prefix_filter",
        ):
            assert_matches_oracle(
                _QUERIES[name](session, out), con, _ORACLE[name], name
            )
    finally:
        con.close()


@pytest.mark.parametrize(
    "trainer, shallow, deep", [("_bpe_train", 8, 64), ("_wp_train", 16, 32)]
)
def test_trainer_jobs_flat_in_rounds(spark, trainer, shallow, deep):
    """Each tokenizer trainer runs its Spark work once (the word
    dictionary) and every merge round on the driver: at most 3 jobs,
    and the same count at the shallow and the deep round count."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    train = getattr(textstats, trainer)
    load(spark, SF_DIR, "documents")  # memoized input, built outside the count
    counts = [
        jobs_of(spark, lambda r=r: train(spark, SF_DIR, r))
        for r in (shallow, deep)
    ]
    assert counts[0] == counts[1] <= 3, counts


def test_bpe_deep_trainer_matches_python_greedy_replay(spark):
    """The 64-round trainer replays the Python greedy reference
    exactly — the r12-verdict 'Done' criterion for trainer depth."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        BPE_TRAIN_ROUNDS_DEEP,
        bpe_train_merges_deep,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    texts = [
        r[0] for r in load(spark, SF_DIR, "documents").select("text").collect()
    ]
    expect = _python_bpe_train(texts, BPE_TRAIN_ROUNDS_DEEP)
    got = [
        (r["merge_rank"], r["a"], r["b"], r["pair_count"])
        for r in bpe_train_merges_deep(spark, SF_DIR).collect()
    ]
    assert got == expect


def test_bpe_merges64_artifact_is_deep_trainer_output(spark):
    """The frozen 64-merge artifact the deep encoder applies must be
    EXACTLY what the deep trainer learns on its training corpus
    (sf0.01), and must contain no a==b merge (the two-pass-replace
    encoder device's precondition)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        BPE_MERGES_64,
        BPE_TRAIN_ROUNDS_DEEP,
        _bpe_train,
    )

    assert all(a != b for a, b in BPE_MERGES_64)
    assert len(BPE_MERGES_64) == BPE_TRAIN_ROUNDS_DEEP
    sf01 = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    got = _bpe_train(spark, sf01, BPE_TRAIN_ROUNDS_DEEP)
    assert tuple((a, b) for _, a, b, _ in got) == BPE_MERGES_64


def test_bpe_encode_merges64_matches_python_reference(spark):
    """The deep encoder (64 two-pass replaces) must equal the
    symbol-level greedy reference over every word of the corpus — the
    encoder re-certification at production tokenizer depth."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        BPE_MERGES_64,
        bpe_encode_merges64,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    import re

    def ref_encode(word):
        syms = list(word)
        for a, b in BPE_MERGES_64:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    }
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_encode_merges64(spark, SF_DIR).collect()
    }
    for doc_id, text in texts.items():
        words = [
            w for w in re.sub(r"[^a-z ]", " ", text.lower()).split(" ") if w
        ]
        assert got[doc_id] == sum(ref_encode(w) for w in words), doc_id


def test_exact_rank_values_vs_sorted(spark, monkeypatch):
    """The histogram-refinement order-statistic device
    (textstats._exact_rank_values) vs python sorted() ground truth, on a
    synthetic skewed multiset with ties, negatives, and a degenerate
    all-equal key — with COLLECT_MAX and the bucket count shrunk so the
    refinement loop runs MULTIPLE levels (the 100-TB path, which the
    500-doc corpus otherwise never exercises)."""
    import random

    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    rng = random.Random(14)
    rows = []
    # skewed key 'en' (1200 rows, heavy ties), small 'fr', all-equal 'zz'
    for _ in range(1200):
        rows.append(("en", round(rng.gauss(0.0, 2.0), 1)))  # coarse → ties
    for _ in range(37):
        rows.append(("fr", rng.uniform(-5, 5)))
    for _ in range(25):
        rows.append(("zz", 1.25))
    df = spark.createDataFrame(rows, "k string, v double")

    def ranks(n):
        return [1, (n + 2) // 3, (2 * n + 2) // 3, n]

    monkeypatch.setattr(textstats, "CCNET_CP_COLLECT_MAX", 16)
    monkeypatch.setattr(textstats, "CCNET_CP_HIST_BUCKETS", 4)
    ns: dict = {}
    got = textstats._exact_rank_values(df, "k", "v", ranks, counts_out=ns)
    by_key = {}
    for k, v in rows:
        by_key.setdefault(k, []).append(v)
    # counts_out (r16) must carry the exact per-key row counts from the
    # refinement's own stats pass
    assert ns == {k: len(vs) for k, vs in by_key.items()}
    for k, vs in by_key.items():
        vs.sort()
        for i, r in enumerate(ranks(len(vs))):
            assert got[(k, i)] == vs[r - 1], (k, i, r)


def test_ccnet_histogram_path_matches_collect_path(spark, monkeypatch):
    """Forcing the multi-level refinement path (tiny COLLECT_MAX /
    HIST_BUCKETS) must yield byte-identical cutpoints to the default
    collect-the-tail path on the real corpus."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    base = sorted(
        map(tuple, textstats.ccnet_tercile_cutpoints(spark, SF_DIR).collect())
    )
    monkeypatch.setattr(textstats, "CCNET_CP_COLLECT_MAX", 8)
    monkeypatch.setattr(textstats, "CCNET_CP_HIST_BUCKETS", 8)
    forced = sorted(
        map(tuple, textstats.ccnet_tercile_cutpoints(spark, SF_DIR).collect())
    )
    assert forced == base


def test_ccnet_cutpoint_buckets_agree_with_ntile_twin(spark):
    """Value-cutpoint bucketing == the former NTILE(3) form on this
    corpus (no doc besides the rank-k doc itself shares a cutpoint
    value, so the two semantics' only divergence class — boundary ties
    split by doc_id — is empty here; the cutpoint form is the scale-safe
    primary, the NTILE form the test-scale twin)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    a = sorted(
        map(tuple, textstats.ccnet_perplexity_buckets(spark, SF_DIR).collect())
    )
    b = sorted(
        map(tuple, textstats._ccnet_ntile_buckets(spark, SF_DIR).collect())
    )
    assert a == b


def test_semantic_dedup_incremental_arriving_only(spark):
    """The incremental screen flags ONLY the arriving batch (odd
    vec_ids): standing rows are never re-flagged, every arriving row is
    screened exactly once, and the flag decomposes as
    is_semdup == dup_vs_standing OR dup_vs_batch."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        semantic_dedup_incremental,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    out = semantic_dedup_incremental(spark, SF_DIR).collect()
    n_odd = load(spark, SF_DIR, "embeddings").filter("vec_id % 2 = 1").count()
    assert len(out) == n_odd
    assert all(r["vec_id"] % 2 == 1 for r in out)
    assert all(
        r["is_semdup"] == (r["dup_vs_standing"] or r["dup_vs_batch"])
        for r in out
    )


def _python_viterbi_best(w, costs, unk, max_piece):
    """Exponential-enumeration reference: min (total_cost, n_pieces) over
    ALL segmentations into ≤max_piece-char pieces (unknown single chars at
    unk cost) — the spec the DP must match."""
    best = None

    def rec(i, cost, n):
        nonlocal best
        if i == len(w):
            cand = (cost, n)
            if best is None or cand < best:
                best = cand
            return
        for j in range(1, min(max_piece, len(w) - i) + 1):
            piece = w[i : i + j]
            c = costs.get(piece)
            if c is None:
                if j != 1:
                    continue
                c = unk
            rec(i + j, cost + c, n + 1)

    rec(0, 0, 0)
    return best


def test_unigram_dp_matches_enumeration_and_packing():
    """The packed-int64 Viterbi DP equals brute-force enumeration of every
    segmentation on a battery of words — including OOV chars ('x'/'z' are
    absent from the frozen vocab, so UNK is a live path) — and the
    (cost, n_pieces) unpacking is exact."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        UNIGRAM_MAX_PIECE,
        UNIGRAM_UNK_COST,
        UNIGRAM_VOCAB,
        _unigram_viterbi_pieces,
        _unigram_viterbi_weight,
    )

    costs = dict(UNIGRAM_VOCAB)
    words = [
        "a", "x", "join", "hash", "column", "customer", "xerox",
        "zigzag", "joinhash", "rowrowrow", "q", "batchscan", "merge",
    ]
    for w in words:
        got = _unigram_viterbi_weight(w, costs)
        cost, n = got // 256, got % 256
        assert (cost, n) == _python_viterbi_best(
            w, costs, UNIGRAM_UNK_COST, UNIGRAM_MAX_PIECE
        ), w
        pieces = _unigram_viterbi_pieces(w, costs)
        assert "".join(pieces) == w  # lossless
        assert len(pieces) == n
        assert sum(
            costs.get(p, UNIGRAM_UNK_COST) for p in pieces
        ) == cost


def test_unigram_frozen_artifact_is_trainer_output(spark):
    """Close the unigram loop (the BPE_MERGES_64 convention): the frozen
    UNIGRAM_VOCAB must be exactly what the Viterbi-EM trainer produces on
    this corpus, and the per-round corpus weight must never increase
    (hard-EM monotonicity on a fixed required-char vocab)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        UNIGRAM_VOCAB,
        unigram_train,
    )

    sf01 = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    vocab, history = unigram_train(spark, sf01)
    assert tuple(vocab) == UNIGRAM_VOCAB
    weights = [w for _, w in history]
    assert all(a >= b for a, b in zip(weights, weights[1:])), history


def test_unigram_segment_histogram_consistency(spark):
    """The histogram's internal identities: occurrence totals equal the
    capped word stream, every bucket's type count ≥ 1, and fertility by
    language reproduces the histogram's corpus-wide piece total."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        unigram_fertility_by_lang,
        unigram_viterbi_segment,
    )

    hist = unigram_viterbi_segment(spark, SF_DIR).collect()
    assert all(r["n_word_types"] >= 1 for r in hist)
    fert = unigram_fertility_by_lang(spark, SF_DIR).collect()
    assert sum(r["n_words"] for r in fert) == sum(
        r["n_occurrences"] for r in hist
    )
    # per-word piece counts are ≥1 and ≤ word cap
    assert all(1 <= r["n_pieces"] <= 16 for r in hist)
    assert all(r["fertility"] >= 1.0 for r in fert)


def test_unigram_prune_losses_nonnegative_and_attributable(spark):
    """Prune-table invariants: the baseline row has loss 0, every
    leave-one-out loss is >= 0 (removing a piece can never IMPROVE the
    optimal segmentation), and removing a piece the Viterbi never uses
    costs exactly 0 — cross-checked against a Python leave-one-out
    replay on the distinct word types."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        UNIGRAM_PRUNE_MAX_WORD,
        UNIGRAM_VOCAB,
        _unigram_viterbi_weight,
        _unigram_words,
        unigram_prune_report,
    )

    rows = {r["piece"]: r for r in unigram_prune_report(spark, SF_DIR).collect()}
    assert rows["<none>"]["loss_if_removed"] == 0
    assert all(r["loss_if_removed"] >= 0 for r in rows.values())
    words = [
        (r["w"], r["cnt"])
        for r in _unigram_words(spark, SF_DIR)
        .where(f"length(w) <= {UNIGRAM_PRUNE_MAX_WORD}")
        .collect()
    ]
    full = dict(UNIGRAM_VOCAB)
    for piece, r in rows.items():
        if piece == "<none>":
            continue
        vocab = {q: c for q, c in UNIGRAM_VOCAB if q != piece}
        want = sum(
            cnt * (_unigram_viterbi_weight(w, vocab) // 256)
            for w, cnt in words
        )
        assert r["corpus_cost"] == want, piece
    base = sum(
        cnt * (_unigram_viterbi_weight(w, full) // 256) for w, cnt in words
    )
    assert rows["<none>"]["corpus_cost"] == base


def _python_wp_train(texts, rounds):
    """Reference WordPiece trainer (tokenwise fold, exact-integer
    quantized likelihood score — the frozen spec, independently
    re-implemented with arbitrary-precision Python ints)."""
    import re
    from collections import Counter

    wf = Counter()
    for t in texts:
        for w in re.sub(r"[^a-z ]", " ", t.lower()).split(" "):
            if w:
                wf[w] += 1
    syms = {w: [w[0]] + ["##" + c for c in w[1:]] for w in wf}
    merges = []
    for _ in range(rounds):
        pc, sc = Counter(), Counter()
        for w, f in wf.items():
            s = syms[w]
            for sym in s:
                sc[sym] += f
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        scored = [
            (cnt * 10**18 // (sc[a] * sc[b]), a, b, cnt, sc[a], sc[b])
            for (a, b), cnt in pc.items()
        ]
        s18, a, b, cnt, fa, fb = sorted(
            scored, key=lambda t: (-t[0], t[1], t[2])
        )[0]
        merged = a + (b[2:] if b.startswith("##") else b)
        merges.append((len(merges) + 1, a, b, merged, cnt, fa, fb, s18))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def test_wordpiece_train_matches_python_replay(spark):
    """The distributed WordPiece trainer (pair counts + symbol
    frequencies + HUGEINT-quantized likelihood argmax + greedy fold)
    must reproduce the pure-Python reference exactly — every column of
    every round, including both symbol frequencies and the score."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        WP_TRAIN_ROUNDS,
        wordpiece_train_merges,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    texts = [r[0] for r in load(spark, SF_DIR, "documents").select("text").collect()]
    expect = _python_wp_train(texts, WP_TRAIN_ROUNDS)
    got = [
        (
            r["merge_rank"], r["a"], r["b"], r["merged"],
            r["pair_count"], r["freq_a"], r["freq_b"], r["score18"],
        )
        for r in wordpiece_train_merges(spark, SF_DIR).collect()
    ]
    assert got == expect


def test_wordpiece_frozen_artifact_is_trainer_output(spark):
    """Close the WordPiece loop (the BPE_MERGES convention): the frozen
    WORDPIECE_MERGES artifact the greedy encoder's vocab derives from
    must be EXACTLY what the trainer learns at sf0.01 — order, counts,
    frequencies, and scores included."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        WORDPIECE_MERGES,
        _wp_train,
        WP_TRAIN_ROUNDS,
    )

    sf01 = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    got = _wp_train(spark, sf01, WP_TRAIN_ROUNDS)
    assert tuple(got) == WORDPIECE_MERGES


def test_wordpiece_deep_artifact_is_trainer_output(spark):
    """The production-depth frozen artifact (the BPE_MERGES_64
    convention): WORDPIECE_MERGES_DEEP — the vocab the greedy encoder,
    decode roundtrip, and fertility compare consume — must be EXACTLY
    the 32-round trainer's sf0.01 output, and greedy training is
    prefix-stable so its first 16 rows ARE the shallow WORDPIECE_MERGES
    artifact."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        WORDPIECE_MERGES,
        WORDPIECE_MERGES_DEEP,
        WP_TRAIN_ROUNDS_DEEP,
        _wp_train,
    )

    assert WORDPIECE_MERGES_DEEP[:16] == WORDPIECE_MERGES
    sf01 = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    got = _wp_train(spark, sf01, WP_TRAIN_ROUNDS_DEEP)
    assert tuple(got) == WORDPIECE_MERGES_DEEP


def test_wordpiece_vocab_and_greedy_invariants(spark):
    """Vocab-set algebra and greedy-segmentation invariants: all 26
    chars present in both position classes (so [a-z] never UNKs), every
    merge product lands in its position class, and the encode histogram
    conserves the capped occurrence stream with 1 <= n_pieces <= word
    cap. Greedy can never beat the unigram DP's piece count under a
    RICHER vocab, but across different vocabs no order holds - so the
    cross-family claim is checked via the compare entry instead."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        UNIGRAM_MAX_WORD,
        WORDPIECE_MERGES,
        _unigram_words,
        _wp_vocab_sets,
        wordpiece_encode_greedy,
    )

    init, cont, lmax = _wp_vocab_sets()
    az = set("abcdefghijklmnopqrstuvwxyz")
    assert az <= init and az <= cont
    for _, _, _, merged, *_ in WORDPIECE_MERGES:
        if merged.startswith("##"):
            assert merged[2:] in cont
        else:
            assert merged in init
    assert lmax == max(len(p) for p in init | cont)

    hist = wordpiece_encode_greedy(spark, SF_DIR).collect()
    assert all(1 <= r["n_pieces"] <= UNIGRAM_MAX_WORD for r in hist)
    occ_total = (
        _unigram_words(spark, SF_DIR)
        .selectExpr("sum(cnt) AS s")
        .collect()[0]["s"]
    )
    assert sum(r["n_occurrences"] for r in hist) == occ_total


def test_tokenizer_fertility_compare_identities(spark):
    """The compare table's cross-checks: n_words identical across the
    three families per language (one shared word stream), each family's
    corpus piece total reproduces its own single-family entry
    (wordpiece/unigram histograms; both computed over the same capped
    types), and fertility >= 1 everywhere."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        tokenizer_fertility_compare,
        unigram_viterbi_segment,
        wordpiece_encode_greedy,
    )

    rows = tokenizer_fertility_compare(spark, SF_DIR).collect()
    by_fam = {}
    for r in rows:
        by_fam.setdefault(r["family"], {})[r["lang"]] = r
    assert set(by_fam) == {"bpe", "unigram", "wordpiece"}
    langs = set(by_fam["bpe"])
    for fam in ("unigram", "wordpiece"):
        assert set(by_fam[fam]) == langs
        for lang in langs:
            assert (
                by_fam[fam][lang]["n_words"] == by_fam["bpe"][lang]["n_words"]
            )
    assert all(r["fertility"] >= 1.0 for r in rows)

    wp_total = sum(
        r["n_pieces"] * r["n_occurrences"]
        for r in wordpiece_encode_greedy(spark, SF_DIR).collect()
    )
    assert wp_total == sum(
        r["n_pieces"] for r in rows if r["family"] == "wordpiece"
    )
    uni_total = sum(
        r["n_pieces"] * r["n_occurrences"]
        for r in unigram_viterbi_segment(spark, SF_DIR).collect()
    )
    assert uni_total == sum(
        r["n_pieces"] for r in rows if r["family"] == "unigram"
    )


def test_quantile_sketch_bracket_contains_exact(spark):
    """The sketch bracket must CONTAIN its exact order statistic
    (sketch_lo <= exact < sketch_hi — floor-bin construction), ranks
    must be ceil(q*n), and the exact value must equal a brute-force
    sorted-lookup at test scale."""
    import math

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.analytics import (
        QSK_QUANTILES,
        quantile_sketch_rollup,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    rows = quantile_sketch_rollup(spark, SF_DIR).collect()
    assert [r["quantile"] for r in rows] == list(QSK_QUANTILES)
    vals = sorted(
        r[0] for r in load(spark, SF_DIR, "events").select("value").collect()
    )
    for r in rows:
        assert r["target_rank"] == math.ceil(r["quantile"] * r["n_rows"])
        assert r["n_rows"] == len(vals)
        assert r["sketch_lo"] <= r["exact_value"] < r["sketch_hi"]
        assert r["exact_value"] == vals[r["target_rank"] - 1]


def test_wordpiece_decode_roundtrip_lossless(spark):
    """The losslessness certification must hold at exactly full count:
    every word type (and therefore every occurrence) decodes back
    byte-exactly from its greedy pieces."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        wordpiece_decode_roundtrip,
    )

    r = wordpiece_decode_roundtrip(spark, SF_DIR).collect()[0]
    assert r["n_ok_types"] == r["n_word_types"] > 0
    assert r["n_ok_occurrences"] == r["n_occurrences"] > 0


def test_bpe_frontier_monotone_and_anchored(spark):
    """Frontier invariants: fertility is non-increasing in merge count
    (a merge only ever joins adjacent pieces), the k=0 row is exactly
    chars-per-word (spaced-char encoding), and the k=64 row equals the
    corpus total a direct full-artifact encode of the same capped type
    stream produces."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        BPE_MERGES_64,
        _bpe_sym,
        _unigram_words,
        bpe_vocab_size_frontier,
    )

    rows = bpe_vocab_size_frontier(spark, SF_DIR).collect()
    ferts = [r["fertility"] for r in rows]
    assert ferts == sorted(ferts, reverse=True)
    assert all(
        a["n_pieces"] >= b["n_pieces"] for a, b in zip(rows, rows[1:])
    )
    from pyspark.sql import functions as SF

    words = _unigram_words(spark, SF_DIR)
    k0 = words.selectExpr("sum(cnt * length(w)) AS s").collect()[0]["s"]
    assert rows[0]["n_pieces"] == k0
    n64 = SF.size(
        SF.split(SF.trim(_bpe_sym(SF.col("w"), BPE_MERGES_64)), " ")
    )
    k64 = words.select(SF.sum(SF.col("cnt") * n64).alias("s")).collect()[0]["s"]
    assert rows[-1]["n_pieces"] == k64
