"""Property-based tests (hypothesis): the invariants the engine leans on.

- det_sum/det_avg must be partition-order independent (the whole point of
  the decimal shim) — checked against a Python-side exact computation for
  arbitrary float lists and arbitrary repartitionings.
- dialect.translate must preserve QUALIFY semantics structurally for the
  clause shapes in the reference corpus.
"""

from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from awscommunityday_2025_iceberg_snowfalke_spark.dialect import translate

_floats = st.lists(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=50,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=_floats, n_parts=st.integers(min_value=1, max_value=7))
def test_det_sum_partition_invariant(spark, values, n_parts):
    from awscommunityday_2025_iceberg_snowfalke_spark.functions import det_sum

    df = spark.createDataFrame([(v,) for v in values], "x double").repartition(
        n_parts
    )
    got = df.agg(det_sum("x", 4).alias("s")).collect()[0]["s"]
    # Spark casts each double to DECIMAL(28,8) (half-up at 8 dp) then sums
    expect = float(
        round(
            sum(
                Decimal(repr(v)).quantize(Decimal("1.00000000"), rounding=ROUND_HALF_UP)
                for v in values
            ),
            4,
        )
    )
    assert got == pytest.approx(expect, abs=1e-9)


_ident = st.text(alphabet="abcdefg", min_size=1, max_size=6)


@settings(max_examples=50, deadline=None)
@given(
    rank_alias=_ident,
    k=st.integers(min_value=1, max_value=99),
    tail=st.sampled_from(["", "ORDER BY x", "LIMIT 7", "ORDER BY x LIMIT 7"]),
)
def test_translate_qualify_structure(rank_alias, k, tail):
    sql = (
        f"SELECT x, ROW_NUMBER() OVER (PARTITION BY y ORDER BY z) AS {rank_alias} "
        f"FROM t QUALIFY {rank_alias} <= {k} {tail}"
    )
    out = translate(sql)
    assert "QUALIFY" not in out.upper()
    assert out.startswith("SELECT * FROM (")
    assert f"WHERE {rank_alias} <= {k}" in out
    assert tail.strip() in out  # ORDER BY / LIMIT survive outside the subquery
    assert "ROW_NUMBER() OVER (PARTITION BY y ORDER BY z)" in out


def test_translate_leaves_plain_sql_alone():
    sql = "SELECT a FROM t WHERE b > 1 ORDER BY a"
    assert translate(sql) == sql


# --- pipeline-op invariants --------------------------------------------------


def test_deterministic_sample_is_stable_and_composes(spark):
    """Hash sampling must be partition-independent (same subset under any
    repartitioning) and composable (sampling the sample with the same
    hash+mod is idempotent — bucket 0 stays bucket 0)."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.pipeline import (
        sample_docs_deterministic,
    )
    from conftest import SF_DIR

    s1 = sample_docs_deterministic(spark, SF_DIR)
    ids1 = sorted(r["doc_id"] for r in s1.select("doc_id").collect())
    ids2 = sorted(
        r["doc_id"]
        for r in s1.repartition(13).select("doc_id").collect()
    )
    assert ids1 == ids2
    # idempotent re-filter
    refiltered = s1.filter(
        F.expr(
            "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 5 = 0"
        )
    )
    assert refiltered.count() == len(ids1)


def test_q18_window_rewrite_equals_join_formulation(spark):
    """The single-scan window-HAVING must produce exactly the rows of the
    textbook agg→semi-join decorrelation."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.tpch import (
        q18_large_volume_customers,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load
    from conftest import SF_DIR

    got = q18_large_volume_customers(spark, SF_DIR)

    li = load(spark, SF_DIR, "lineitem")
    orders = load(spark, SF_DIR, "orders")
    cust = load(spark, SF_DIR, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,8)")).cast("double").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.functions import det_sum

    ref = (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
        )
        .agg(det_sum("l_quantity", 2).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_minhash_lsh_recall_floor(spark):
    """Every genuinely-similar pair (exact Jaccard ≥ 0.3) must be recalled
    by the MinHash/LSH banding. Deterministic given the fixed hash family
    and fixed testdata — on this corpus recall at 0.3 is exactly 100%, and
    a regression in banding/signature logic would break it."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup
    from conftest import SF_DIR

    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(spark, SF_DIR).collect()
    }
    high = {p for p, j in exact.items() if j >= 0.3}
    assert high, "testdata must contain similar pairs"
    missed = high - lsh
    assert not missed, f"LSH missed high-similarity pairs: {sorted(missed)[:5]}"


def test_asof_equals_naive_join(spark):
    """The single-exchange union+window as-of join must equal the naive
    O(pairs) formulation: join all signups ≤ purchase ts, keep the latest
    (max ts, then max event_id)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.temporal import (
        asof_purchase_signup,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load
    from conftest import SF_DIR

    got = asof_purchase_signup(spark, SF_DIR)

    ev = load(spark, SF_DIR, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("s_ts"),
        F.col("event_id").alias("s_event_id"),
    )
    w = Window.partitionBy("purchase_event_id").orderBy(
        F.desc_nulls_last("s_ts"), F.desc_nulls_last("s_event_id")
    )
    naive = (
        p.join(s, (p.user_id == s.s_user) & (F.col("s_ts") <= F.col("p_ts")), "left")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_event_id",
            "user_id",
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.col("s_event_id").alias("signup_event_id"),
            F.date_format("s_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
        )
    )
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0


def test_hourly_gapfill_spine_complete(spark):
    """Gap-fill output must be a full dense grid: |hours| × |types| rows,
    and the nonzero counts must sum to the filtered fact count."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.pipeline import (
        EVENT_TYPES,
        hourly_gapfill,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load
    from conftest import SF_DIR

    out = hourly_gapfill(spark, SF_DIR)
    n_hours = 7 * 24
    assert out.count() == n_hours * len(EVENT_TYPES)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    ev = load(spark, SF_DIR, "events")
    expect = ev.filter(
        (F.col("ts") >= F.lit("2024-01-01"))
        & (F.col("ts") < F.lit("2024-01-08"))
    ).count()
    assert total == expect


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=24),
            st.integers(min_value=0, max_value=24),
        ),
        max_size=30,
    ),
    n_nodes=st.integers(min_value=1, max_value=25),
)
def test_connected_components_equals_union_find(spark, edges, n_nodes):
    """Connected components must match a sequential union-find on random
    graphs — including long chains, self-loops, and edges referencing
    only a subset of nodes — on both paths."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        connected_components,
    )

    edges = [(a, b) for a, b in edges if a < n_nodes and b < n_nodes]

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {}
    for v in range(n_nodes):
        expect[v] = find(v)
    # canonicalize: representative = min member of each component
    comp_min = {}
    for v, r in expect.items():
        comp_min[r] = min(comp_min.get(r, v), v)
    expect = {v: comp_min[r] for v, r in expect.items()}

    nodes_df = spark.createDataFrame([(v,) for v in range(n_nodes)], "id long")
    pairs_df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "doc_a long, doc_b long"
    )
    # exercise BOTH paths — the driver union-find fast path (the default
    # at this size) and star contraction (fast path forced off) must
    # produce identical labels
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup

    got = {
        r["id"]: r["label"]
        for r in connected_components(nodes_df, pairs_df).collect()
    }
    assert got == expect
    saved = dedup._CC_DRIVER_MAX_PAIRS
    dedup._CC_DRIVER_MAX_PAIRS = 0
    try:
        got_dist = {
            r["id"]: r["label"]
            for r in connected_components(nodes_df, pairs_df).collect()
        }
    finally:
        dedup._CC_DRIVER_MAX_PAIRS = saved
    assert got_dist == expect


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=24),
            st.integers(min_value=0, max_value=24),
        ),
        max_size=30,
    ),
    n_nodes=st.integers(min_value=1, max_value=25),
)
def test_connected_components_star_equals_union_find(spark, edges, n_nodes):
    """Large-star/small-star contraction must match a sequential
    union-find on random graphs — same contract as label propagation,
    different round complexity (O(log n) vs diameter)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        connected_components_star,
    )

    edges = [(a, b) for a, b in edges if a < n_nodes and b < n_nodes]

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min = {}
    for v in range(n_nodes):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    expect = {v: comp_min[find(v)] for v in range(n_nodes)}

    nodes_df = spark.createDataFrame([(v,) for v in range(n_nodes)], "id long")
    pairs_df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "doc_a long, doc_b long"
    )
    got = {
        r["id"]: r["label"]
        for r in connected_components_star(nodes_df, pairs_df).collect()
    }
    assert got == expect


def test_star_handles_chain_beyond_labelprop_budget(spark, monkeypatch):
    """A 60-node chain has diameter 59, past any small round budget of
    min-label propagation. Star contraction converges in O(log n)
    rounds; the driver union-find fast path has no diameter budget; and
    with the fast path forced off, ``connected_components`` escalates to
    star contraction and solves the chain too."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 60
    nodes = spark.createDataFrame([(v,) for v in range(n)], "id long")
    chain = spark.createDataFrame(
        [(v, v + 1) for v in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {
        r["id"]: r["label"]
        for r in connected_components_star(nodes, chain).collect()
    }
    assert got == {v: 0 for v in range(n)}
    got_fast = {
        r["id"]: r["label"]
        for r in connected_components(nodes, chain).collect()
    }
    assert got_fast == {v: 0 for v in range(n)}
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_PAIRS", 0)
    got_dist = {
        r["id"]: r["label"]
        for r in connected_components(nodes, chain).collect()
    }
    assert got_dist == {v: 0 for v in range(n)}


def test_connected_components_fast_path_stages_pairs_once(spark, monkeypatch):
    """The driver fast path writes exactly one ``stage()`` barrier — the
    undirected pairs, not a doubled edge list — and runs no job beyond
    that barrier's and the bounded probe collect's."""
    from conftest import jobs_of

    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup

    nodes = spark.createDataFrame([(v,) for v in range(10)], "id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (7, 7)], "doc_a long, doc_b long"
    )
    stage, staged = dedup.stage, []

    def counting_stage(df, name=None):
        staged.append(df.columns)
        return stage(df, name)

    out = []
    barrier = jobs_of(spark, lambda: out.append(stage(pairs)))
    probe = jobs_of(
        spark,
        lambda: out[0].coalesce(1).limit(dedup._CC_DRIVER_MAX_PAIRS + 1).collect(),
    )
    monkeypatch.setattr(dedup, "stage", counting_stage)
    jobs = jobs_of(spark, lambda: dedup.connected_components(nodes, pairs))
    assert staged == [["doc_a", "doc_b"]]
    assert jobs == barrier + probe


def test_connected_components_probe_is_one_job(spark):
    """The fast path's bounded probe collect is ONE Spark job however many
    files the staged pairs span (a take over many partitions scans one,
    then more, one job each), so over 4+ staged files the whole fast path
    is the barrier's job and the probe's."""
    from conftest import jobs_of

    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup

    nodes = spark.createDataFrame([(v,) for v in range(40)], "id long")
    pairs = spark.createDataFrame(
        [(v, v + 1) for v in range(0, 38, 2)], "doc_a long, doc_b long"
    ).repartition(6)
    out = []
    barrier = jobs_of(spark, lambda: out.append(dedup.stage(pairs)))
    assert len(out[0].inputFiles()) >= 4
    jobs = jobs_of(spark, lambda: out.append(dedup.connected_components(nodes, pairs)))
    assert jobs == barrier + 1
    got = {r["id"]: r["label"] for r in out[1].collect()}
    assert got == {v: v - v % 2 if v < 39 else v for v in range(40)}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_toks=st.lists(st.integers(min_value=0, max_value=900), min_size=1, max_size=60),
    budget=st.integers(min_value=32, max_value=512),
    n_shards=st.integers(min_value=1, max_value=9),
)
def test_hierarchical_packing_equals_global_window(spark, n_toks, budget, n_shards):
    """The two-level sequence-packing cumsum (range shards + driver-side
    shard offsets) must produce the SAME global bin assignment as the
    single-global-window formulation on any token distribution, any
    budget, any shard count — including empty docs and shard counts that
    exceed the doc count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(i + 1, t) for i, t in enumerate(n_toks)]
    toks = spark.createDataFrame(rows, "doc_id long, n_tokens long")

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    expect = {
        r["doc_id"]: r["bin_id"]
        for r in toks.withColumn(
            "bin_id",
            F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget),
        ).collect()
    }

    lo, hi = 1, len(n_toks)
    span = hi - lo + 1
    k = min(n_shards, span)
    sharded = toks.withColumn(
        "shard", F.expr(f"CAST(((doc_id - {lo}) * {k}) DIV {span} AS INT)")
    )
    totals = sharded.groupBy("shard").agg(F.sum("n_tokens").alias("t")).collect()
    offsets, run = {}, 0
    for r in sorted(totals, key=lambda r: r["shard"]):
        offsets[int(r["shard"])] = run
        run += int(r["t"])
    off_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w2 = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    got = {
        r["doc_id"]: r["bin_id"]
        for r in sharded.withColumn(
            "bin_id",
            F.floor(
                (
                    F.coalesce(F.sum("n_tokens").over(w2), F.lit(0))
                    + F.element_at(off_map, F.col("shard"))
                )
                / budget
            ),
        ).collect()
    }
    assert got == expect


def test_ann_ivf_recall_floor(spark):
    """IVF probe-pruned ANN must recall a healthy fraction of the exact
    brute-force top-k (deterministic on the fixed testdata and fixed
    centroid init). Guards the coarse-quantizer/probe logic: an assignment
    or probe-selection bug collapses recall toward zero long before it
    breaks the oracle's self-consistent recomputation."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import similarity
    from conftest import SF_DIR

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_bruteforce_cosine(spark, SF_DIR).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_ivf_cosine(spark, SF_DIR).collect()
    }
    assert exact, "brute force must return neighbors"
    recall = len(exact & ivf) / len(exact)
    # The synthetic embeddings are unclustered (labels ⊥ geometry), the
    # worst case for IVF: probing 2 of 8 near-origin cells yields exactly
    # 0.28 recall on this fixed corpus — deterministic, so the floor below
    # is a stable tripwire (an assignment/probe bug drives it toward the
    # ~0.1 random-candidate baseline). On clustered real data recall
    # tracks the probed-mass fraction instead.
    assert recall >= 0.25, f"IVF recall {recall:.2f} below floor"


def test_benchmark_contamination_semantic_shape(spark):
    """The paraphrase-level decontamination screen: no benchmark doc
    flags itself (bench ids are excluded from the corpus side), every
    flagged doc's strongest match clears the τ literal, and hit counts
    are bounded by the benchmark batch size."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        SEM_CONTAM_TAU,
        benchmark_contamination_semantic,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        CONTAM_MOD,
    )
    from conftest import SF_DIR

    rows = benchmark_contamination_semantic(spark, SF_DIR).collect()
    assert rows  # τ is calibrated to flag a non-degenerate band
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    n_bench = (
        load(spark, SF_DIR, "embeddings")
        .filter(f"vec_id % {CONTAM_MOD} = 0")
        .count()
    )
    for r in rows:
        assert r["doc_id"] % CONTAM_MOD != 0
        assert 1 <= r["n_bench_hits"] <= n_bench
        assert r["max_bench_cos"] >= SEM_CONTAM_TAU


def test_minhash_banding_calibration_shape(spark):
    """The banding S-curve report: deciles bounded, caught ≤ pairs,
    theo_catch equal to the Python-computed literal for its bucket, and
    the planted near-identical duplicates (decile ≥ 9, where theory
    says ≥ 0.9988) are all caught at test scale."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        _banding_theo_catch,
        minhash_banding_calibration,
    )
    from conftest import SF_DIR

    rows = minhash_banding_calibration(spark, SF_DIR).collect()
    assert rows
    theo = _banding_theo_catch()
    for r in rows:
        assert 0 <= r["j_decile"] <= 10
        assert 0 <= r["n_caught"] <= r["n_pairs"]
        assert r["theo_catch"] == theo[r["j_decile"]]
        if r["j_decile"] >= 9:
            assert r["n_caught"] == r["n_pairs"]


def test_ann_ivf_recall_sweep_equals_report(spark):
    """The one-pass sweep must land on the identical recall curve as the
    per-probe report (the candidate set at probe count p IS the
    rank-≤-p prefix of the top-max(P) probe assignment — same lexsort
    tie-breaks, so byte-equal rows, not just close)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import similarity
    from conftest import SF_DIR

    report = {
        tuple(r)
        for r in similarity.ann_ivf_recall_report(spark, SF_DIR).collect()
    }
    sweep = {
        tuple(r)
        for r in similarity.ann_ivf_recall_sweep(spark, SF_DIR).collect()
    }
    assert sweep == report
    assert len(sweep) == len(similarity.RECALL_PROBES)


def test_ivf_quantizer_ties_go_to_the_lower_cell_and_code():
    """The tie rule the DuckDB oracles encode as (cos DESC, cell ASC) and
    (dist ASC, code ASC). Cells 3 and 5 share one centroid, so every
    vector ties on cosine between them: assignment takes cell 3 and the
    probe order lists cell 3 before cell 5. Codes 1 and 2 share one
    codeword in every subspace: encoding takes code 1. Vectors are small
    integers, so every dot product is exact and the duplicate rows tie
    exactly whatever order BLAS sums in."""
    import numpy as np

    from awscommunityday_2025_iceberg_snowfalke_spark.operators import (
        similarity as S,
    )

    rng = np.random.default_rng(7)
    a = rng.choice([-3.0, -2.0, 2.0, 3.0], S.DIM)
    near_a = a + rng.integers(-1, 2, (6, S.DIM))
    near_b = -a + rng.integers(-1, 2, (2, S.DIM))
    quant = S._quantizer(
        [
            {"label": 1, "centroid": list(-a)},
            {"label": 3, "centroid": list(a)},
            {"label": 5, "centroid": list(a)},
        ]
    )
    E = np.vstack([near_a, near_b])
    cells, En = S._nearest_cells(E, quant)
    assert cells.tolist() == [3] * 6 + [1] * 2
    assert np.array_equal(En, np.linalg.norm(E, axis=1))

    Qn = np.linalg.norm(near_a, axis=1)
    by_cell = S._probe_cells(quant, near_a, Qn, 2)
    assert by_cell == {
        3: [(qi, 1) for qi in range(6)],
        5: [(qi, 2) for qi in range(6)],
    }
    assert sorted(S._probe_cells(quant, near_a, Qn, 1)) == [3]

    # PQ: the codebook rows are (-a, a, a) cut per subspace, under both
    # the gathered default split and the sliced one
    for split in (None, S._PQ_SLICES):
        split, cb = S._pq_books(quant[1], split)
        codes, rn2 = S._pq_codes(near_a, split, cb)
        assert codes.tolist() == [[1] * S.PQ_M] * 6
        expect = np.zeros(6)
        for m in range(S.PQ_M):
            expect = expect + (cb[m] * cb[m]).sum(axis=1)[codes[:, m]]
        assert np.array_equal(rn2, expect)


def test_ivf_quantizer_duplicate_float_rows_tie_exactly():
    """The same tie rule on random floats: centroid rows (b, a, a), with
    and without a rotation. BLAS rounds the two identical columns of
    E·Cᵀ differently, and rotating the two identical rows gives two
    slightly different rows, so without the first-copy rule some vectors
    go to cell 2, probe it first, or take code 2."""
    import numpy as np

    from awscommunityday_2025_iceberg_snowfalke_spark.operators import (
        similarity as S,
    )

    rng = np.random.default_rng(11)
    a, b = rng.standard_normal(S.DIM), rng.standard_normal(S.DIM)
    rows = [
        {"label": c, "centroid": list(v)} for c, v in enumerate((b, a, a))
    ]
    E = a + 0.5 * rng.standard_normal((2000, S.DIM))
    rot, _ = np.linalg.qr(rng.standard_normal((S.DIM, S.DIM)))
    for R in (None, rot):
        X = E if R is None else E @ R
        quant = S._quantizer(rows, R)
        cells, _ = S._nearest_cells(X, quant)
        assert cells.tolist() == [1] * len(X)
        by_cell = S._probe_cells(quant, X, np.linalg.norm(X, axis=1), 2)
        assert by_cell[1] == [(qi, 1) for qi in range(len(X))]
        assert by_cell[2] == [(qi, 2) for qi in range(len(X))]
        split, cb = S._pq_books(quant[1])
        codes, _ = S._pq_codes(X, split, cb)
        assert not (codes == 2).any()


def test_ivf_kernels_ship_by_value(tmp_path):
    """Spark's Python workers do not inherit the driver's sys.path, so an
    Arrow closure calling the shared IVF/PQ kernels must carry them by
    value: the pickled closure runs in an interpreter that cannot import
    the package."""
    import json
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    from awscommunityday_2025_iceberg_snowfalke_spark.operators import (
        similarity as S,
    )

    quant = S._quantizer(
        [{"label": c, "centroid": [float(c)] * S.DIM} for c in (1, 2)]
    )
    split, cb = S._pq_books(quant[1])
    nearest_cells, pq_codes = S._nearest_cells, S._pq_codes

    def closure(E):  # references the kernels, as the Arrow closures do
        return nearest_cells(E, quant)[0], pq_codes(E, split, cb)[0]

    code = (
        "import json, pickle, sys\n"
        "import numpy as np\n"
        "f = pickle.loads(sys.stdin.buffer.read())\n"
        f"cells, codes = f(np.ones((2, {S.DIM})))\n"
        "print(json.dumps([cells.tolist(), codes.tolist()]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        input=cloudpickle.dumps(closure),
        cwd=tmp_path,
        env=env,
        capture_output=True,
        check=False,
    )
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    # both centroids point along the ones vector: a tie, lower cell wins
    assert json.loads(out.stdout) == [[1, 1], [[0] * S.PQ_M] * 2]


def test_unigram_kernel_ships_by_value(tmp_path):
    """The Arrow closure ``_unigram_segmented`` hands ``mapInPandas`` runs
    the Viterbi DP in an interpreter that cannot import the package, and
    returns the weights the driver-side kernel computes."""
    import io
    import os
    import subprocess
    import sys

    import pandas as pd
    from pyspark import cloudpickle

    from awscommunityday_2025_iceberg_snowfalke_spark.operators import (
        textstats as T,
    )

    class Words:  # captures the closure instead of planning a Spark job
        def mapInPandas(self, fn, schema):
            self.fn = fn

    words, vocab = Words(), [("ab", 5), ("a", 9), ("b", 7), ("abc", 2)]
    T._unigram_segmented(None, words, vocab)
    batch = pd.DataFrame({"w": ["abc", "abcd", "xyz"], "cnt": [1, 2, 3]})
    code = (
        "import io, pickle, sys\n"
        "import pandas as pd\n"
        "fn = pickle.loads(sys.stdin.buffer.read())\n"
        "batch = pd.read_json(io.StringIO(sys.argv[1]))\n"
        "print(pd.concat(fn(iter([batch]))).to_json())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code, batch.to_json()],
        input=cloudpickle.dumps(words.fn),
        cwd=tmp_path,
        env=env,
        capture_output=True,
        check=False,
    )
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    got = pd.read_json(io.StringIO(out.stdout.decode()))
    want = [T._unigram_viterbi_weight(w, dict(vocab)) for w in batch["w"]]
    assert got["cost"].tolist() == [t // 256 for t in want]
    assert got["n_pieces"].tolist() == [t % 256 for t in want]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),  # doc_id (deduped below)
            st.sampled_from(["en", "de", "fr"]),
            st.integers(min_value=0, max_value=5000),  # n_chars
        ),
        max_size=40,
    ),
    budget=st.integers(min_value=1, max_value=12000),
)
def test_quota_fill_equals_sequential_reference(spark, rows, budget):
    """The windowed token-budget quota fill must equal a sequential Python
    fold on any corpus and any budget: per lang, docs in (md5-hash,
    doc_id) order accumulate until the exclusive running sum reaches the
    budget — including zero-length docs, budget boundaries, and the
    crossing doc (kept)."""
    import hashlib

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.pipeline import (
        _quota_fill,
    )

    docs = {}
    for doc_id, lang, n_chars in rows:
        docs[doc_id] = (lang, n_chars)  # doc_id is a key: last write wins
    if not docs:
        docs[0] = ("en", 10)

    def h(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)

    expect = {}
    by_lang = {}
    for doc_id, (lang, n_chars) in docs.items():
        by_lang.setdefault(lang, []).append(doc_id)
    for lang, ids in by_lang.items():
        prior = 0
        for doc_id in sorted(ids, key=lambda d: (h(d), d)):
            if prior < budget:
                expect[doc_id] = prior
            prior += docs[doc_id][1]

    df = spark.createDataFrame(
        [(d, lang, n) for d, (lang, n) in docs.items()],
        "doc_id long, lang string, n_chars long",
    )
    got = {
        r["doc_id"]: r["prior_chars"]
        for r in _quota_fill(df, budget).collect()
    }
    assert got == expect


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),  # doc_id (deduped below)
            st.sampled_from(["en", "en", "en", "de", "fr"]),  # Zipf-ish: en hot
            st.integers(min_value=0, max_value=5000),  # n_chars
        ),
        max_size=40,
    ),
    budget=st.integers(min_value=1, max_value=12000),
    threshold=st.sampled_from([0, 3000, 10**9]),
)
def test_quota_fill_skewsafe_equals_plain(spark, rows, budget, threshold):
    """The hash-bucket-pruned quota fill must be BIT-EQUAL to the plain
    per-stratum window on any corpus, any budget, and any escalation
    threshold — 0 (every stratum pruned), a mid value (only hot strata
    pruned), and effectively-infinite (pure fallback). The dominant-lang
    draw above makes the hot-stratum path exercise for real."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.pipeline import (
        _quota_fill,
        _quota_fill_skewsafe,
    )

    docs = {}
    for doc_id, lang, n_chars in rows:
        docs[doc_id] = (lang, n_chars)
    if not docs:
        docs[0] = ("en", 10)
    df = spark.createDataFrame(
        [(d, lang, n) for d, (lang, n) in docs.items()],
        "doc_id long, lang string, n_chars long",
    )
    plain = {
        (r["doc_id"], r["lang"], r["n_chars"], r["prior_chars"])
        for r in _quota_fill(df, budget).collect()
    }
    pruned = {
        (r["doc_id"], r["lang"], r["n_chars"], r["prior_chars"])
        for r in _quota_fill_skewsafe(
            df, budget, threshold_chars=threshold
        ).collect()
    }
    assert pruned == plain


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=30),
        min_size=1,
        max_size=12,
    )
)
def test_ratio6_equals_decimal_half_up(spark, texts):
    """_ratio6 must equal exact Decimal HALF_UP rounding of num/den for
    arbitrary non-negative integer pairs derived from data (here: char
    and token counts of random strings) — the portability contract that
    replaced ROUND(double, 6)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        _ratio6,
    )
    from pyspark.sql import functions as F

    rows = [(t, len(t), max(1, len(t.split()))) for t in texts]
    df = spark.createDataFrame(rows, "t string, num long, den long")
    got = {
        r["t"]: r["r"]
        for r in df.select(
            "t", _ratio6(F.col("num"), F.col("den")).alias("r")
        ).collect()
    }
    for t, num, den in rows:
        expect = float(
            (Decimal(num) / Decimal(den)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        assert got[t] == expect, (t, num, den, got[t], expect)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(n_docs=st.integers(min_value=1, max_value=60))
def test_epoch_shard_assignment_properties(spark, n_docs):
    """Epoch sharding invariants: every (doc, epoch) pair lands in exactly
    one shard (per-epoch doc totals = corpus size), shards are within
    [0, S), and the assignment is deterministic across recomputation."""
    import pyspark.sql.functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators import pipeline

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7 % 97).alias("n_chars")
    )
    shard = F.expr(
        pipeline._SPARK_H.format(
            expr="concat(cast(doc_id as string), ':', cast(epoch as string))"
        )
    ) % pipeline.EPOCH_SHARDS
    base = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(pipeline.EPOCH_COUNT - 1))
        ).alias("epoch"),
    ).withColumn("shard", shard)
    rows = base.collect()
    assert len(rows) == n_docs * pipeline.EPOCH_COUNT
    assert all(0 <= r["shard"] < pipeline.EPOCH_SHARDS for r in rows)
    per_epoch = {}
    for r in rows:
        per_epoch.setdefault(r["epoch"], set()).add(r["doc_id"])
    assert all(len(s) == n_docs for s in per_epoch.values())
    rows2 = base.collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_translate_object_construct_and_timestamp(spark):
    """The reference's remaining Snowflake-isms must run through the shim:
    ARRAY_AGG(OBJECT_CONSTRUCT(*)) (performance_comparison.sql:16) and the
    CURRENT_TIMESTAMP timing brackets (:53-60) — rewritten to
    array_agg(struct(*)) and the anchored timestamp literal."""
    import os

    from awscommunityday_2025_iceberg_snowfalke_spark.dialect import translate
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    load(spark, sf_dir, "events").limit(50).createOrReplaceTempView(
        "dlt_events"
    )
    sql = translate(
        "SELECT ARRAY_AGG(OBJECT_CONSTRUCT(*)) AS rows_obj, "
        "CURRENT_TIMESTAMP() AS run_ts FROM dlt_events"
    )
    assert "struct(*)" in sql and "TIMESTAMP '2024-01-31 00:00:00'" in sql
    row = spark.sql(sql).collect()[0]
    assert len(row["rows_obj"]) == 50
    assert str(row["run_ts"]).startswith("2024-01-31")
    keyed = translate(
        "SELECT OBJECT_CONSTRUCT('a', 1, 'b', 'x') AS o"
    )
    got = spark.sql(keyed).collect()[0]["o"].asDict()
    assert got == {"a": 1, "b": "x"}


def test_translate_flatten_nested_parens_and_loud_failures(spark):
    """ADVICE r9: FLATTEN input expressions containing parentheses must
    translate intact (the old [^)]+ regex truncated at the inner ')'),
    and untranslatable shapes must raise instead of silently emitting
    malformed Spark SQL."""
    import pytest as _pytest

    from awscommunityday_2025_iceberg_snowfalke_spark.dialect import translate

    # nested call in the input expression
    sql = translate(
        "SELECT f.value FROM t, LATERAL FLATTEN(input => split(x, ',')) f"
    )
    assert "LATERAL VIEW explode(split(x, ',')) f AS value" in sql
    assert "FLATTEN" not in sql.upper()

    # executes end-to-end, incl. a paren inside a string literal
    spark.sql("SELECT 'a,b,c' AS x").createOrReplaceTempView("t_flat")
    rows = spark.sql(
        translate(
            "SELECT f.value AS v FROM t_flat, "
            "LATERAL FLATTEN(input => split(concat(x, ',(d)'), ',')) f"
        )
    ).collect()
    assert [r["v"] for r in rows] == ["a", "b", "c", "(d)"]

    # AS-alias form
    sql2 = translate(
        "SELECT f.value FROM t, LATERAL FLATTEN(input => arr) AS f"
    )
    assert "explode(arr) f AS value" in sql2

    # named options → loud failure, not mistranslation
    with _pytest.raises(ValueError, match="named options"):
        translate(
            "SELECT * FROM t, LATERAL FLATTEN(input => arr, OUTER => TRUE) f"
        )
    # missing alias → loud failure
    with _pytest.raises(ValueError, match="alias"):
        translate(
            "SELECT * FROM t, LATERAL FLATTEN(input => arr) WHERE 1=1"
        )
    # non-input-arg form → loud failure
    with _pytest.raises(ValueError):
        translate("SELECT * FROM t, LATERAL FLATTEN(arr) f")
    # unsupported placement (TABLE(FLATTEN(...))) → loud failure
    with _pytest.raises(ValueError, match="cannot translate"):
        translate("SELECT * FROM TABLE(FLATTEN(input => arr)) f")
    # Spark's ordinary SCALAR flatten() is not a table function and must
    # pass through untouched (review-finding regression)
    assert "flatten(arr2d)" in translate("SELECT flatten(arr2d) FROM t")


def test_token_budget_mixture_plan_exact_apportionment(spark):
    """Largest-remainder apportionment: integer budgets must sum to the
    budget EXACTLY, each budget within 1 of its real-valued quota, and
    the +1 tokens must go to the largest fractional parts."""
    import math
    import os as _os

    from awscommunityday_2025_iceberg_snowfalke_spark.operators import pipeline

    sf_dir = _os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    rows = pipeline.token_budget_mixture_plan(spark, sf_dir).collect()
    assert sum(r["token_budget"] for r in rows) == pipeline.MIXTURE_BUDGET
    # python reference replay
    toks = {r["source"]: r["n_tokens"] for r in rows}
    w = {s: math.sqrt(n / sum(toks.values())) for s, n in toks.items()}
    # decimal(28,16) per-term rounding then exact sum, as both engines do
    from decimal import Decimal

    wq = {s: Decimal(v).quantize(Decimal("1e-16")) for s, v in w.items()}
    sw = float(sum(wq.values()))
    quota = {s: pipeline.MIXTURE_BUDGET * (float(wq[s]) / sw) for s in toks}
    base = {s: math.floor(q) for s, q in quota.items()}
    short = pipeline.MIXTURE_BUDGET - sum(base.values())
    order = sorted(toks, key=lambda s: (-(quota[s] - base[s]), s))
    expect = {
        s: base[s] + (1 if i < short else 0) for i, s in enumerate(order)
    }
    got = {r["source"]: r["token_budget"] for r in rows}
    assert got == expect
    for r in rows:
        assert abs(r["token_budget"] - quota[r["source"]]) < 1.0


def test_flatten_scanner_balanced_paren_property():
    """Property: for ANY nested function-call expression (random depth,
    string literals containing parens and doubled quotes), the FLATTEN
    scanner extracts the input expression verbatim and never truncates
    at an inner ')'."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from awscommunityday_2025_iceberg_snowfalke_spark.dialect import translate

    atom = st.sampled_from(["x", "y", "col1", "'a,b'", "'(lit)'", "'it''s'"])

    def call(children):
        return st.builds(
            lambda name, args: f"{name}({', '.join(args)})",
            st.sampled_from(["split", "concat", "coalesce", "substr"]),
            st.lists(children, min_size=1, max_size=3),
        )

    expr = st.recursive(atom, call, max_leaves=8)

    @settings(max_examples=60, deadline=None)
    @given(expr)
    def check(e):
        sql = translate(
            f"SELECT f.value FROM t, LATERAL FLATTEN(input => {e}) f"
        )
        assert f"LATERAL VIEW explode({e}) f AS value" in sql, (e, sql)
        assert "FLATTEN" not in sql.upper()

    check()


def test_largest_remainder_apportionment_property():
    """Property of the mixture-plan rounding (pure python replay of the
    engine arithmetic): for random positive count vectors, the integer
    budgets sum to the budget exactly and each sits within 1 of its
    real-valued quota."""
    import math
    from decimal import Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    BUDGET = 1_000_000

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(st.integers(min_value=1, max_value=10**9), min_size=1,
                 max_size=25)
    )
    def check(counts):
        total = sum(counts)
        wq = [
            Decimal(math.sqrt(c / total)).quantize(Decimal("1e-16"))
            for c in counts
        ]
        sw = float(sum(wq))
        quota = [BUDGET * (float(w) / sw) for w in wq]
        base = [math.floor(q) for q in quota]
        short = BUDGET - sum(base)
        assert 0 <= short <= len(counts)
        order = sorted(
            range(len(counts)), key=lambda i: (-(quota[i] - base[i]), i)
        )
        budget = list(base)
        for i in order[:short]:
            budget[i] += 1
        assert sum(budget) == BUDGET
        for b, q in zip(budget, quota):
            assert abs(b - q) < 1.0

    check()


def test_translate_iff_inside_string_literal_survives():
    """ADVICE r10: token rewrites (IFF/OBJECT_CONSTRUCT/CURRENT_DATE) must
    not fire inside single-quoted literals — only the FLATTEN scanner was
    quote-aware before."""
    sql = "SELECT 'IFF(x)' AS lit, IFF(a > 1, 'CURRENT_DATE', b) AS v FROM t"
    out = translate(sql)
    assert "'IFF(x)'" in out, "literal must survive untouched"
    assert "'CURRENT_DATE'" in out, "literal must survive untouched"
    assert "if(a > 1" in out, "real IFF call must still rewrite"
    # doubled-quote escape stays one literal
    sql2 = "SELECT 'it''s IFF(y)' AS lit, IFF(c, 1, 2) AS v FROM t"
    out2 = translate(sql2)
    assert "it''s IFF(y)" in out2
    assert "if(c, 1, 2)" in out2
    # OBJECT_CONSTRUCT in a literal survives too
    sql3 = "SELECT 'OBJECT_CONSTRUCT(*)' AS lit, OBJECT_CONSTRUCT(*) AS o FROM t"
    out3 = translate(sql3)
    assert "'OBJECT_CONSTRUCT(*)'" in out3
    assert "struct(*) AS o" in out3


def test_translate_colon_path_access():
    """Snowflake VARIANT path access `col:key` maps to get_json_object;
    the `::type` cast operator is untouched on both sides of the rewrite,
    string literals keep their colons, and plain SQL is left alone."""
    out = translate("SELECT properties:k::INT AS k FROM t WHERE x::INT > 2")
    assert "get_json_object(properties, '$.k')::INT" in out
    assert "x::INT > 2" in out  # cast suffixes pass through untouched
    # literals survive: the colon inside the string is not a path
    lit = translate("SELECT 'a:b' AS s, props:key AS v FROM t")
    assert "'a:b'" in lit
    assert "get_json_object(props, '$.key')" in lit
    # no colon, no rewrite
    plain = "SELECT a FROM t WHERE b > 1"
    assert translate(plain) == plain
    # time-format literals keep their colons (inside quotes)
    fmt = translate("SELECT TO_VARCHAR(ts, 'HH:mm:ss') FROM t")
    assert "'HH:mm:ss'" in fmt


def test_lex_bench_split_bounded_across_sfs(spark):
    """The r14-verdict scale fix: every LEXICAL contamination screen
    (8-gram, 50-token substring, pipeline stage 5, datasheet member)
    scores against a benchmark split FROZEN at doc ids <
    LEX_BENCH_ID_CAP. A real eval set is fixed-size; without the cap the
    %-slice was a corpus FRACTION and the broadcast bench n-gram set
    grew linearly with the corpus (the 100 TB driver-OOM hazard). Pin:
    the bench-side doc count is IDENTICAL at sf0.01 and sf0.1 (the
    corpus grows 10x, the eval split doesn't), and at the driver-gate SF
    the cap is a no-op (every doc id sits below it), so r8-vintage
    driver rows stay comparable."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        CONTAM_MOD,
        LEX_BENCH_ID_CAP,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    def bench_docs(sf_dir):
        return (
            load(spark, sf_dir, "documents")
            .filter(
                (F.col("doc_id") % CONTAM_MOD == 0)
                & (F.col("doc_id") < LEX_BENCH_ID_CAP)
            )
            .count()
        )

    small, large = (
        bench_docs("/root/testdata/sf0.01"),
        bench_docs("/root/testdata/sf0.1"),
    )
    assert small > 0
    assert small == large, (
        f"bench split must be constant-size across SFs: {small} vs {large}"
    )
    # gate-SF no-op: the cap excludes nothing at sf0.01
    uncapped = (
        load(spark, "/root/testdata/sf0.01", "documents")
        .filter(F.col("doc_id") % CONTAM_MOD == 0)
        .count()
    )
    assert uncapped == small


def test_lex_train_side_is_frozen_split_complement(spark):
    """The r15-ADVICE fix: the TRAINING side of every contamination
    screen is the frozen split's COMPLEMENT — ``NOT (id % CONTAM_MOD ==
    0 AND id < cap)`` — not ``id % CONTAM_MOD != 0``. Beyond the gate SF
    a doc with id % 11 == 0 AND id >= cap must be screened as TRAINING
    (the old filter left it in NEITHER split: undetectable contamination,
    silently dropped by pipeline stage 5). Pins: the predicate's truth
    table, Spark/DuckDB lockstep, and that sf0.1 really contains such
    above-cap docs (so the scenario is live, not vacuous)."""
    import duckdb
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        CONTAM_MOD,
        LEX_BENCH_ID_CAP,
        _lex_train_pred,
        _lex_train_sql,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    ids = [0, CONTAM_MOD, LEX_BENCH_ID_CAP - CONTAM_MOD * 2,
           506, 1100, 507, LEX_BENCH_ID_CAP + 1]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    spark_train = {
        r["doc_id"] for r in df.filter(_lex_train_pred()).collect()
    }
    duck_train = {
        r[0]
        for r in duckdb.sql(
            "SELECT doc_id FROM (SELECT unnest($ids) AS doc_id) "
            f"WHERE {_lex_train_sql()}",
            params={"ids": ids},
        ).fetchall()
    }
    expect = {
        i
        for i in ids
        if not (i % CONTAM_MOD == 0 and i < LEX_BENCH_ID_CAP)
    }
    assert spark_train == expect == duck_train
    # the fix's target class IS training now
    assert 506 in spark_train and 1100 in spark_train
    # sf0.1 genuinely contains above-cap id % CONTAM_MOD == 0 docs
    n_live = (
        load(spark, "/root/testdata/sf0.1", "documents")
        .filter(
            (F.col("doc_id") % CONTAM_MOD == 0)
            & (F.col("doc_id") >= LEX_BENCH_ID_CAP)
        )
        .count()
    )
    assert n_live > 0


def test_ccnet_pipeline_accounting(spark):
    """The end-to-end CCNet chain's release accounting must be
    internally consistent: buckets partition the scored population,
    kept = head + middle (the tercile keep-rule), tercile sizes obey
    the ceil(n/3) boundary ranks, and the cutpoints are ordered."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        ccnet_pipeline,
    )
    from conftest import SF_DIR

    rows = ccnet_pipeline(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        n = r["n_scored"]
        assert r["n_head"] + r["n_middle"] + r["n_tail"] == n
        assert r["n_kept"] == r["n_head"] + r["n_middle"]
        assert r["c1"] <= r["c2"]
        # value-compare bucketing puts ties in the lower bucket, so the
        # head/middle cumulative sizes are AT LEAST the boundary ranks
        assert r["n_head"] >= (n + 2) // 3
        assert r["n_head"] + r["n_middle"] >= (2 * n + 2) // 3


def test_contamination_span_removal_cleans_all_leaks(spark):
    """The decontamination surgery's guarantees: the affected-doc set
    equals the substring screen's flagged set, the token accounting
    balances, every cut is at least one full window wide, and — the
    point of the transform — recomputing the sliding windows over the
    REBUILT text finds zero benchmark-shared windows (the leak is gone,
    not just shortened)."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.dedup import (
        SUBSTR_WINDOW,
        _substr_windows,
        benchmark_contamination_substrings,
        contamination_span_removal,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats import (
        CONTAM_MOD,
        LEX_BENCH_ID_CAP,
    )
    from conftest import SF_DIR

    out = contamination_span_removal(spark, SF_DIR).collect()
    assert out, "testdata must contain at least one leaked run"
    flagged = {
        r["doc_id"]
        for r in benchmark_contamination_substrings(spark, SF_DIR).collect()
    }
    assert {r["doc_id"] for r in out} == flagged
    for r in out:
        assert r["n_spans_cut"] >= 1
        assert r["n_tokens_removed"] >= SUBSTR_WINDOW
        assert r["n_tokens_clean"] + r["n_tokens_removed"] == r["n_tokens"]

    bench = {
        r["wh"]
        for r in _substr_windows(spark, SF_DIR)
        .filter(
            (F.col("doc_id") % CONTAM_MOD == 0)
            & (F.col("doc_id") < LEX_BENCH_ID_CAP)
        )
        .select("wh")
        .distinct()
        .collect()
    }
    clean = spark.createDataFrame(
        [(r["doc_id"], r["text_clean"]) for r in out],
        "doc_id long, text string",
    )
    W = SUBSTR_WINDOW
    rewins = (
        clean.select(
            "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("t")
        )
        .filter(F.size("t") >= W)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {W}), i -> "
                    f"md5(array_join(slice(t, i + 1, {W}), ' ')))"
                )
            ).alias("wh"),
        )
    )
    leaked_after = [r for r in rewins.collect() if r["wh"] in bench]
    assert not leaked_after, leaked_after[:3]
