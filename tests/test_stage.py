"""Staging-root resolution: the cluster-real contract from the r7 verdict
— an explicitly configured shared-filesystem root must be honored (conf
over env over tempdir fallback), with per-session isolation under it.
And the session memo of shared intermediates: reused within a session,
rebuilt for a new session and after its input tables changed."""

import os

import duckdb
from pyspark.sql import functions as F

from awscommunityday_2025_iceberg_snowfalke_spark import stage as stage_mod
from awscommunityday_2025_iceberg_snowfalke_spark.operators import (
    all_oracle,
    all_queries,
    dedup,
    similarity,
)
from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load
from awscommunityday_2025_iceberg_snowfalke_spark.stage import stage

from conftest import SF_DIR, assert_matches_oracle, jobs_of


def _forget_session_root(spark):
    """Drop the cached root so the next stage() call re-resolves it."""
    with stage_mod._LOCK:
        stage_mod._DIRS.pop(spark, None)


def test_stage_honors_env_root(spark, tmp_path):
    shared = tmp_path / "shared-fs"
    shared.mkdir()
    _forget_session_root(spark)
    os.environ["SPARK_GRAFT_STAGE_DIR"] = str(shared)
    try:
        df = stage(spark.range(0, 10))
        assert df.count() == 10
        files = df.inputFiles()
        assert files and all(str(shared) in f for f in files), files
        # per-session subdir (concurrent sessions must not collide)
        sub = os.listdir(shared)
        assert len(sub) == 1 and sub[0].startswith("sparkgraft-stage-")
    finally:
        del os.environ["SPARK_GRAFT_STAGE_DIR"]
        _forget_session_root(spark)


def test_stage_conf_overrides_env(spark, tmp_path):
    conf_root = tmp_path / "conf-root"
    env_root = tmp_path / "env-root"
    conf_root.mkdir()
    env_root.mkdir()
    _forget_session_root(spark)
    os.environ["SPARK_GRAFT_STAGE_DIR"] = str(env_root)
    spark.conf.set("spark.graft.stageDir", str(conf_root))
    try:
        df = stage(spark.range(0, 5))
        files = df.inputFiles()
        assert files and all(str(conf_root) in f for f in files), files
        assert not os.listdir(env_root)
    finally:
        spark.conf.unset("spark.graft.stageDir")
        del os.environ["SPARK_GRAFT_STAGE_DIR"]
        _forget_session_root(spark)


def test_stage_default_falls_back_to_tempdir(spark):
    _forget_session_root(spark)
    df = stage(spark.range(0, 5))
    files = df.inputFiles()
    assert files and all("sparkgraft-stage-" in f for f in files), files
    _forget_session_root(spark)


def test_stage_is_one_job_and_keeps_the_schema(spark):
    """The barrier write is the only Spark job: the scan reads under the
    schema just written (no schema-inference job), which is the schema
    inference would give — every field nullable."""
    df = spark.range(1000).selectExpr("id", "id * 2 AS x", "CAST(id AS STRING) AS s")
    out = []
    assert jobs_of(spark, lambda: out.append(stage(df))) == 1
    inferred = spark.read.parquet(*out[0].inputFiles()).schema
    assert out[0].schema == inferred
    assert all(f.nullable for f in out[0].schema.fields)
    assert out[0].count() == 1000


# every memoized builder, called as fn(session, sf_dir)
MEMOIZED_BUILDERS = {
    "load(documents)": lambda s, d: load(s, d, "documents"),
    "load(embeddings)": lambda s, d: load(s, d, "embeddings"),
    "_shingle_sets": dedup._shingle_sets,
    "_lsh_candidates": dedup._lsh_candidates,
    "_cluster_labels": dedup._cluster_labels,
    "_staged_simhash(32)": lambda s, d: dedup._staged_simhash(s, d, 32),
    "_staged_simhash(64)": lambda s, d: dedup._staged_simhash(s, d, 64),
    "_ivf_store": similarity._ivf_store,
    "embedding_gram_matrix": similarity.embedding_gram_matrix,
}

# registry entries that consume a memoized intermediate
MEMO_CONSUMERS = (
    "minhash_lsh_pairs",
    "dedup_clusters",
    "embedding_gram_matrix",
    "simhash_hamming_pairs",
    "ann_ivf_partitioned_probe",
)


def test_memo_reuses_within_session_and_rebuilds_for_new_session(spark):
    """A second same-session call of each memoized builder returns the
    identical object and launches no Spark job; a new session rebuilds."""
    fresh = spark.newSession()
    for name, fn in MEMOIZED_BUILDERS.items():
        first = fn(spark, SF_DIR)
        jobs = jobs_of(spark, lambda: fn(spark, SF_DIR))
        assert jobs == 0, (name, jobs)
        assert fn(spark, SF_DIR) is first, name
        assert fn(fresh, SF_DIR) is not first, name


def _write_corpus(spark, out_dir, keep):
    """documents and embeddings of the reference corpus, rows passing
    ``keep(id column)`` only, (over)written as Spark tables under
    ``out_dir``."""
    for table, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        spark.read.parquet(f"{SF_DIR}/{table}.parquet").filter(
            keep(F.col(id_col))
        ).write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")


def _check_against_oracle(session, out_dir) -> dict:
    """Every memo consumer over ``out_dir`` vs the DuckDB oracle over the
    same files; returns the row count of each input table."""
    queries, oracle_sql = all_queries(), all_oracle()
    con = duckdb.connect()
    try:
        counts = {}
        for table in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet("
                f"'{out_dir}/{table}.parquet/*.parquet')"
            )
            (counts[table],) = con.execute(f"SELECT count(*) FROM {table}").fetchone()
            assert load(session, out_dir, table).count() == counts[table], table
        for name in MEMO_CONSUMERS:
            assert_matches_oracle(
                queries[name](session, out_dir), con, oracle_sql[name], name
            )
        return counts
    finally:
        con.close()


def test_memo_rebuilds_after_input_tables_change(spark, tmp_path):
    """Overwriting the input tables in place, in the same session, is
    never answered from the memo: every consumer matches the oracle over
    the new files, not the memoized intermediates of the old ones."""
    out = str(tmp_path)
    session = spark.newSession()
    _write_corpus(spark, out, lambda c: F.lit(True))
    full = _check_against_oracle(session, out)
    _write_corpus(spark, out, lambda c: c % 2 == 0)
    half = _check_against_oracle(session, out)
    assert all(half[t] < full[t] for t in full), (full, half)
