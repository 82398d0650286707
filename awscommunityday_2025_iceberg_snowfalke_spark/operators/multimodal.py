"""Multimodal column handling (north-star extension).

Pattern for image/audio/video at 100 TB: the payload is an opaque ``binary``
column with typed metadata alongside; decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` (one Python worker per partition, zero-copy
batches), never per-row UDFs. Real codecs (PIL/torchaudio/ffmpeg) are not in
this container, so the decode step is STUBBED (`NotImplementedError` for
real decoding; a deterministic fake for tests) — the Spark-side plumbing
(schema, batch iteration, partitioning) is real and oracle-checked where the
output is arithmetic.

The driver testdata has no binary column, so payloads are synthesized from
``documents.text`` (UTF-8 encode) inside the query — the plumbing is
identical to reading a real BLOB column.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import load
from ..stage import stage

FRAME_BYTES = 256  # fake "frame" granularity for the stub decoder


def decode_image(payload: bytes):
    """Real image decode — requires an image codec not present here."""
    raise NotImplementedError(
        "image decoding requires PIL/opencv; not available in this container. "
        "Use fake_decode_meta for deterministic tests."
    )


def decode_audio(payload: bytes):
    raise NotImplementedError("audio decoding requires soundfile/torchaudio")


def fake_decode_meta(payload: bytes) -> dict:
    """Deterministic stand-in for a decoder: derives metadata purely from
    the byte stream (stable across engines/runs)."""
    n = len(payload)
    return {
        "payload_len": n,
        "n_frames": n // FRAME_BYTES + 1,
        "fmt": "txtimg",
    }


def _make_decode_batches(frame_bytes: int):
    """Build the mapInPandas worker fn as a closure so cloudpickle ships it
    BY VALUE — Spark's Python workers must not need this package importable
    (the external driver runs from an arbitrary CWD)."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            lens = [len(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload_len": _pd.Series(lens, dtype="int64"),
                    "n_frames": _pd.Series(
                        [n // frame_bytes + 1 for n in lens], dtype="int64"
                    ),
                    "fmt": ["txtimg"] * len(lens),
                }
            )

    return decode_batches


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach the synthetic binary payload column (S1-style binary ingest)."""
    return docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))


# --- decode pipeline (mapInPandas, oracle-checked arithmetic) ---------------
def multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = with_payload(docs)
    return payloads.mapInPandas(
        _make_decode_batches(FRAME_BYTES),
        schema="doc_id long, payload_len long, n_frames long, fmt string",
    )


# --- frame sampling plan (pure-SQL twin of a frame extractor) ---------------
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode each payload into sampled 'frame' offsets (every 4th frame) —
    the partition-explosion shape of video frame sampling, kept JVM-side."""
    docs = load(spark, sf_dir, "documents")
    n_frames = (F.octet_length(F.encode("text", "UTF-8")) / FRAME_BYTES).cast(
        "bigint"
    ) + 1
    return (
        docs.select("doc_id", n_frames.alias("n_frames"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(4))
            ).alias("frame_idx"),
        )
        .withColumn("frame_offset", F.col("frame_idx") * FRAME_BYTES)
    )


# --- resize (payload transform, byte-bounded) --------------------------------
RESIZE_MAX_BYTES = 512


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize shape: a payload→payload transform inside mapInPandas
    (real image resize would swap the truncation for PIL.thumbnail — same
    batch plumbing, same schema contract). Output carries the resized
    payload's metadata so the transform is oracle-checkable."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            resized = [bytes(p[:RESIZE_MAX_BYTES]) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "orig_len": _pd.Series(
                        [len(p) for p in pdf["payload"]], dtype="int64"
                    ),
                    "resized_len": _pd.Series(
                        [len(r) for r in resized], dtype="int64"
                    ),
                    "was_resized": [len(p) > RESIZE_MAX_BYTES for p in pdf["payload"]],
                }
            )

    docs = load(spark, sf_dir, "documents")
    return with_payload(docs).mapInPandas(
        resize_batches,
        schema="doc_id long, orig_len long, resized_len long, was_resized boolean",
    )


# --- feature extraction (vectorized pandas UDF → array column) ---------------
N_BUCKETS = 8


def multimodal_byte_histogram_vectors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The feature-extract shape: payload → fixed-width feature vector via
    an Arrow-batched pandas UDF (numpy per batch, no per-row Python). A
    real extractor (CLIP embedding, mel spectrogram) replaces the
    histogram; the array<double> schema, batching, and downstream array
    math stay identical. Full-value SQL oracle: DuckDB re-derives the
    byte histogram from hex(payload) slices (see ORACLE); exact values
    are additionally unit-tested vs numpy in tests/test_corpus.py.

    This is the in-engine form (raw ``array<double>`` column) for
    downstream consumers; the registry/gated entry is
    :func:`multimodal_byte_histogram`, which serializes the vector to
    canonical decimal text because cross-engine comparators cannot
    sort/hash list cells."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def byte_hist(payload: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for p in payload:
            arr = np.frombuffer(p, dtype=np.uint8)
            if arr.size == 0:
                out.append([0.0] * N_BUCKETS)
                continue
            hist, _ = np.histogram(arr, bins=N_BUCKETS, range=(0, 256))
            out.append((hist / arr.size).tolist())
        return pd.Series(out)

    docs = load(spark, sf_dir, "documents")
    feats = with_payload(docs).select(
        "doc_id", byte_hist("payload").alias("features")
    )
    return feats.select(
        "doc_id",
        "features",
        F.round(
            F.aggregate(
                "features", F.lit(0.0).cast("double"), lambda a, x: a + x
            ),
            6,
        ).alias("feature_sum"),  # ≈1.0: mass-conservation sanity inline
    )


def _vec_text(col_name: str):
    """Canonical cross-engine text form of an array<double>: each element
    rounded to 6 decimals and rendered as DECIMAL(18,6) text, ','-joined.
    Decimal text is engine-agnostic (fixed scale, padded zeros) where raw
    double→string is not, and the pre-round makes the double→decimal cast
    exact on both engines — the events_object_agg / embedding_quantize_int8
    convention (relational.py, similarity.py)."""
    return F.array_join(
        F.transform(
            F.col(col_name),
            lambda x: F.round(x, 6).cast("decimal(18,6)").cast("string"),
        ),
        ",",
    )


def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated/registry form of :func:`multimodal_byte_histogram_vectors`:
    identical plan, with the feature vector serialized to canonical decimal
    text so the driver's canonicalizer (pandas sort/hash over cells) never
    sees an unhashable list."""
    feats = multimodal_byte_histogram_vectors(spark, sf_dir)
    return feats.select(
        "doc_id", _vec_text("features").alias("features"), "feature_sum"
    )


# --- audio chunking (fixed windows + overlap, the ASR pre-pass) --------------
CHUNK_BYTES = 1024
CHUNK_OVERLAP = 256


def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunk boundaries per payload — the shape every
    ASR/audio-embedding pipeline runs before the model (chunk = N samples,
    overlap so no utterance is cut at a boundary). Pure JVM exprs
    (sequence+explode); a real pipeline feeds each (start, end) range to a
    decoder UDF — the boundary math and row explosion stay identical."""
    stride = CHUNK_BYTES - CHUNK_OVERLAP
    docs = load(spark, sf_dir, "documents")
    olen = F.octet_length(F.encode("text", "UTF-8"))
    return (
        docs.select("doc_id", olen.alias("payload_len"))
        .select(
            "doc_id",
            "payload_len",
            F.explode(
                F.sequence(F.lit(0), F.col("payload_len") - 1, F.lit(stride))
            ).alias("chunk_start"),
        )
        .select(
            "doc_id",
            (F.col("chunk_start") / stride).cast("bigint").alias("chunk_idx"),
            "chunk_start",
            F.least(
                F.col("chunk_start") + CHUNK_BYTES, F.col("payload_len")
            ).alias("chunk_end"),
            (F.col("chunk_start") + CHUNK_BYTES >= F.col("payload_len")).alias(
                "is_last"
            ),
        )
    )

# --- batch "model inference" (embedding stub with real pipeline) -------------
EMBED_DIM = 8


def multimodal_embed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-inference shape of a multimodal pipeline: payloads stream
    through ``mapInPandas`` in Arrow batches and a "model" emits one
    fixed-width embedding per payload. The model here is an honest stub —
    md5-derived floats, deterministic and oracle-reproducible — because no
    inference runtime exists in this container; a real encoder (CLIP,
    audio encoder) replaces the per-batch scoring body with one batched
    forward pass and the schema, batching, partitioning, and downstream
    array math stay identical. Entirely map-side: no shuffle before any
    downstream consumer keyed on doc_id.

    In-engine form (raw ``array<double>``); the registry/gated entry is
    :func:`multimodal_embed`, which serializes the vector for the
    cross-engine comparator."""
    from pyspark.sql.functions import pandas_udf  # noqa: F401 (doc parity)

    docs = load(spark, sf_dir, "documents")
    payloads = with_payload(docs)

    def embed(batches):
        import hashlib

        for pdf in batches:
            vecs = []
            for p in pdf["payload"]:
                hx = bytes(p).hex().upper()
                vecs.append(
                    [
                        (
                            int(
                                hashlib.md5(
                                    f"{hx}_{i}".encode()
                                ).hexdigest()[:15],
                                16,
                            )
                            % 100000
                        )
                        / 100000.0
                        for i in range(EMBED_DIM)
                    ]
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "embedding": vecs})

    emb = payloads.mapInPandas(embed, "doc_id long, embedding array<double>")
    l2 = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )
    return emb.select(
        "doc_id", "embedding", F.round(l2, 6).alias("emb_norm")
    )


def multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated/registry form of :func:`multimodal_embed_vectors`: identical
    plan, embedding serialized to canonical decimal text (driver
    canonicalizer cannot hash list cells)."""
    emb = multimodal_embed_vectors(spark, sf_dir)
    return emb.select(
        "doc_id", _vec_text("embedding").alias("embedding"), "emb_norm"
    )


def multimodal_dedup_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level asset dedup — the multimodal analogue of
    ``dedup_exact_hash``: re-uploaded images / mirrored audio collapse on
    the sha-256 of their *binary payload*. Only 32-byte digests and byte
    counts cross the shuffle, never payloads — at 100 TB of media this is
    the difference between shuffling the corpus and shuffling ~tens of
    GB. Output: one row per distinct asset with the canonical keeper,
    copy count, and payload size (the storage-reclaim report)."""
    p = with_payload(load(spark, sf_dir, "documents"))
    return (
        p.select(
            "doc_id",
            F.sha2(F.col("payload"), 256).alias("content_hash"),
            F.octet_length("payload").alias("nbytes"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("copies"),
            F.min("nbytes").cast("long").alias("payload_bytes"),
        )
    )


# --- perceptual-hash near-dup (feature-space fingerprint grouping) -----------
def multimodal_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash asset grouping — the media near-dup layer ABOVE
    byte-exact sha-256 (:func:`multimodal_dedup_bytes`): re-encoded or
    lightly-edited assets share feature structure, not bytes. Fingerprint
    = dHash + aHash over the extracted feature vector (here the byte
    histogram; a real pipeline swaps in DCT/pHash over decoded pixels —
    same 15-bit-per-asset plumbing): bits 0-6 compare adjacent feature
    buckets (dHash), bits 7-14 threshold each bucket against the uniform
    mass 1/N_BUCKETS (aHash). Every comparison is per-element on the
    exact c/n doubles both engines already agree on — no order-dependent
    reduction anywhere, so the fingerprint is bit-portable. Grouping is
    one groupBy on the fingerprint (shuffles a 2-byte key per asset);
    Hamming-banded pairing at production fingerprint widths reuses the
    :mod:`dedup` SimHash band machinery unchanged."""
    feats = multimodal_byte_histogram_vectors(spark, sf_dir)
    return (
        feats.select("doc_id", _phash_expr().alias("phash"))
        .groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def _phash_expr(col: str = "features") -> F.Column:
    """The 15-bit dHash+aHash fingerprint over the feature vector — one
    definition shared by the grouping and pairing entries."""
    f = F.col(col)
    bits = []
    for b in range(N_BUCKETS - 1):
        bits.append(
            F.when(
                F.element_at(f, b + 1) > F.element_at(f, b + 2),
                F.lit(1 << b),
            ).otherwise(F.lit(0))
        )
    for b in range(N_BUCKETS):
        bits.append(
            F.when(
                F.element_at(f, b + 1) > F.lit(1.0 / N_BUCKETS),
                F.lit(1 << (N_BUCKETS - 1 + b)),
            ).otherwise(F.lit(0))
        )
    acc = bits[0]
    for bit in bits[1:]:
        acc = acc + bit
    return acc.cast("int")


PHASH_MAX_HAMMING = 2  # pair threshold; 3 bands → pigeonhole-lossless
PHASH_VARIANT_MOD = 20  # every 20th asset gets a simulated re-encode twin
PHASH_VARIANT_OFFSET = 1_000_000  # variant asset_id = doc_id + offset
PHASH_PERTURB = "ab"  # appended bytes — flips exactly the a/b parity bits


def multimodal_phash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup asset PAIRS by perceptual-hash Hamming distance — the
    production form of :func:`multimodal_phash_groups` (exact-fingerprint
    grouping misses assets whose hashes differ in a few bits, exactly the
    re-encode/resize perturbations pHash exists to absorb). Because the
    corpus has no real re-encoded assets, the operator deterministically
    INJECTS one for every ``PHASH_VARIANT_MOD``-th payload (the
    `text_redact_pii`/`props_malformed_rescue` doctored-input precedent)
    and must recover every planted original↔variant pair at distance ≤2
    — measured: 25 planted + 5 background near-collisions at sf0.01,
    524 distinct fingerprints over 525 assets.

    Fingerprint: the 26 PARITY bits of per-letter byte counts — the
    stub-level analogue of pHash's perturbation-boundedness (each
    inserted byte flips at most ONE bit, while distinct payloads get
    pseudo-random parities ≈13 bits apart); a real pipeline swaps in DCT
    pHash over decoded pixels, same width, same plumbing. Pairing splits
    the 26 bits into 9/9/8-bit bands: ≤2 flips cannot damage all three
    bands (pigeonhole), so recall at the threshold is LOSSLESS —
    test-pinned by brute-force enumeration. Same banding physics as the
    SimHash text path (dedup.py), applied to the media layer.

    Scale: the fingerprint table (4 bytes/asset) is staged and
    band-exploded ×3; the self-join is keyed on (band, value) — shuffles
    band keys, never payloads; the xor/popcount verify is codegen."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("t")
    )
    variants = docs.filter(F.col("doc_id") % PHASH_VARIANT_MOD == 0).select(
        (F.col("doc_id") + PHASH_VARIANT_OFFSET).alias("asset_id"),
        F.concat(F.col("t"), F.lit(PHASH_PERTURB)).alias("t"),
    )
    assets = docs.select(F.col("doc_id").alias("asset_id"), "t").unionByName(
        variants
    )
    parity = None
    for j in range(26):
        ch = chr(97 + j)
        cnt = F.length("t") - F.length(F.translate("t", ch, ""))
        term = (cnt % 2) * F.lit(1 << j)
        parity = term if parity is None else parity + term
    ph = stage(assets.select("asset_id", parity.cast("bigint").alias("phash")))
    bands = ph.select(
        "asset_id",
        "phash",
        F.explode(
            F.expr(
                "array(named_struct('band', 0, 'v', phash % 512),"
                " named_struct('band', 1, 'v', (phash DIV 512) % 512),"
                " named_struct('band', 2, 'v', phash DIV 262144))"
            )
        ).alias("b"),
    ).select(
        "asset_id", "phash", F.col("b.band").alias("band"), F.col("b.v").alias("v")
    )
    a = bands.select(
        F.col("asset_id").alias("doc_a"), F.col("phash").alias("pa"), "band", "v"
    )
    b = bands.select(
        F.col("asset_id").alias("doc_b"), F.col("phash").alias("pb"), "band", "v"
    )
    cand = (
        a.join(b, ["band", "v"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", "pb")
        .distinct()
    )
    ham = F.expr("bit_count(pa ^ pb)")
    return cand.filter(ham <= PHASH_MAX_HAMMING).select(
        "doc_a",
        "doc_b",
        ham.cast("int").alias("hamming"),
        (F.col("doc_b") - F.col("doc_a") == PHASH_VARIANT_OFFSET)
        .cast("int")
        .alias("is_planted"),
    )


def multimodal_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup asset CLUSTERS — the step after
    :func:`multimodal_phash_hamming_pairs` that an asset-dedup pass
    actually acts on (pairs alone don't dedup: original↔variant and
    variant↔background-collision edges must collapse into one component
    with one canonical survivor — the text side's
    ``dedup_clusters`` argument, applied to the media layer). Connected
    components over the verified pHash pair graph via the same
    ``connected_components`` the text clusters use; output is
    one row per ASSET (originals and planted re-encode variants alike):
    component id = min reachable asset_id, component size, the
    canonical-survivor flag, and an ``is_variant`` marker so the row set
    certifies that every planted variant clusters WITH its original
    (its cluster_id is the original's id — never its own).

    Scale: the pair graph is already sub-corpus (banded, verified); the
    component pass is a driver union-find, or O(log n) star-contraction
    rounds past the driver bound; the report window partitions by
    cluster id. Same budgets as the text cluster family."""
    from .dedup import connected_components

    docs = load(spark, sf_dir, "documents").select("doc_id")
    nodes = docs.select(F.col("doc_id").alias("id")).unionByName(
        docs.filter(F.col("doc_id") % PHASH_VARIANT_MOD == 0).select(
            (F.col("doc_id") + PHASH_VARIANT_OFFSET).alias("id")
        )
    )
    pairs = multimodal_phash_hamming_pairs(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    labels = connected_components(nodes, pairs)
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(
            F.col("id").alias("asset_id"),
            F.col("label").alias("cluster_id"),
            (F.col("id") == F.col("label")).alias("is_canonical"),
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .select(
            "asset_id",
            "cluster_id",
            "cluster_size",
            "is_canonical",
            (F.col("asset_id") >= PHASH_VARIANT_OFFSET)
            .cast("int")
            .alias("is_variant"),
        )
    )


QUERIES = {
    "multimodal_ingest": multimodal_ingest,
    "multimodal_phash_groups": multimodal_phash_groups,
    "multimodal_phash_hamming_pairs": multimodal_phash_hamming_pairs,
    "multimodal_phash_clusters": multimodal_phash_clusters,
    "multimodal_dedup_bytes": multimodal_dedup_bytes,
    "multimodal_audio_chunks": multimodal_audio_chunks,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_resize": multimodal_resize,
    "multimodal_byte_histogram": multimodal_byte_histogram,
    "multimodal_embed": multimodal_embed,
}

ORACLE = {
    "multimodal_audio_chunks": f"""
        SELECT doc_id,
               CAST(chunk_start // {CHUNK_BYTES - CHUNK_OVERLAP} AS BIGINT)
                   AS chunk_idx,
               chunk_start,
               LEAST(chunk_start + {CHUNK_BYTES}, payload_len) AS chunk_end,
               chunk_start + {CHUNK_BYTES} >= payload_len AS is_last
        FROM (
            SELECT doc_id, octet_length(encode(text)) AS payload_len,
                   UNNEST(range(0, octet_length(encode(text)),
                                {CHUNK_BYTES - CHUNK_OVERLAP})) AS chunk_start
            FROM documents
        )
    """,
    # documents.text is ASCII in the testdata, but use octet semantics anyway
    "multimodal_ingest": f"""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
               CAST(octet_length(encode(text)) // {FRAME_BYTES} + 1 AS BIGINT)
                   AS n_frames,
               'txtimg' AS fmt
        FROM documents
    """,
    "multimodal_frame_sample": f"""
        WITH nf AS (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) // {FRAME_BYTES} + 1 AS BIGINT)
                       AS n_frames
            FROM documents
        )
        SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
               CAST(i * {FRAME_BYTES} AS BIGINT) AS frame_offset
        FROM nf, UNNEST(range(0, n_frames, 4)) AS u(i)
    """,
    "multimodal_resize": f"""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS orig_len,
               CAST(least(octet_length(encode(text)), {RESIZE_MAX_BYTES}) AS BIGINT)
                   AS resized_len,
               octet_length(encode(text)) > {RESIZE_MAX_BYTES} AS was_resized
        FROM documents
    """,
    # Full-value oracle for the feature extractor: DuckDB re-derives the
    # per-byte histogram from hex(blob) slices (no blob substring in this
    # DuckDB build, so the whole payload is hexed once and sliced as
    # varchar). count/n division is the identical IEEE op on both sides →
    # bitwise-equal doubles (verified over the whole sf0.001 corpus vs
    # numpy before landing).
    "multimodal_byte_histogram": f"""
        WITH b AS (
          SELECT doc_id, hex(encode(text)) AS h,
                 octet_length(encode(text)) AS n
          FROM documents
        ), ex AS (
          SELECT doc_id, n, unnest(range(1, n + 1)) AS i, h FROM b
        ), vals AS (
          SELECT doc_id, n,
                 (strpos('0123456789ABCDEF',
                         substr(h, CAST(2*i-1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF',
                         substr(h, CAST(2*i AS INT), 1)) - 1) AS v
          FROM ex
        ), counts AS (
          SELECT doc_id, n, v // {256 // N_BUCKETS} AS bucket, COUNT(*) AS c
          FROM vals GROUP BY 1, 2, 3
        ), spine AS (
          SELECT doc_id, n, unnest(range({N_BUCKETS})) AS bucket FROM b
        ), filled AS (
          SELECT s.doc_id, s.n, s.bucket, COALESCE(c.c, 0) AS c
          FROM spine s
          LEFT JOIN counts c ON s.doc_id = c.doc_id AND s.bucket = c.bucket
        )
        SELECT doc_id,
               array_to_string(
                   list(CAST(CAST(ROUND(
                            CASE WHEN n = 0 THEN 0.0
                                 ELSE CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                            END, 6) AS DECIMAL(18,6)) AS VARCHAR)
                        ORDER BY bucket),
                   ',') AS features,
               ROUND(CAST(SUM(CASE WHEN n = 0 THEN 0.0
                                   ELSE CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                              END) AS DOUBLE), 6) AS feature_sum
        FROM filled GROUP BY doc_id, n
    """,
}


# stub-model embedding: md5-derived floats are exactly reproducible in SQL
# (same hex(payload) string, same md5-prefix→int trick as the hash family)
_EMB_ELEM = (
    "(CAST(concat('0x', substr(md5(concat(hex(encode(text)), '_', i)), 1, 15))"
    " AS BIGINT) % 100000) / 100000.0"
)
ORACLE["multimodal_embed"] = f"""
    WITH emb AS (
        SELECT doc_id,
               list_transform(range(0, {EMBED_DIM}), i -> {_EMB_ELEM})
                   AS embedding
        FROM documents
    )
    SELECT doc_id,
           array_to_string(
               list_transform(
                   embedding,
                   x -> CAST(CAST(ROUND(x, 6) AS DECIMAL(18,6)) AS VARCHAR)),
               ',') AS embedding,
           ROUND(sqrt(list_dot_product(embedding, embedding)), 6) AS emb_norm
    FROM emb
"""

# shared fingerprint CTE chain (ends at `hashed(doc_id, phash)`) — one
# definition for the grouping and Hamming-pair oracles
_DUCK_PHASH_CTE = f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    ), ex AS (
      SELECT doc_id, n, unnest(range(1, n + 1)) AS i, h FROM b
    ), vals AS (
      SELECT doc_id, n,
             (strpos('0123456789ABCDEF',
                     substr(h, CAST(2*i-1 AS INT), 1)) - 1) * 16
           + (strpos('0123456789ABCDEF',
                     substr(h, CAST(2*i AS INT), 1)) - 1) AS v
      FROM ex
    ), counts AS (
      SELECT doc_id, n, v // {256 // N_BUCKETS} AS bucket, COUNT(*) AS c
      FROM vals GROUP BY 1, 2, 3
    ), spine AS (
      SELECT doc_id, n, unnest(range({N_BUCKETS})) AS bucket FROM b
    ), filled AS (
      SELECT s.doc_id, s.n, s.bucket, COALESCE(c.c, 0) AS c
      FROM spine s
      LEFT JOIN counts c ON s.doc_id = c.doc_id AND s.bucket = c.bucket
    ), fvec AS (
      SELECT doc_id,
             list(CASE WHEN n = 0 THEN 0.0
                       ELSE CAST(c AS DOUBLE) / CAST(n AS DOUBLE) END
                  ORDER BY bucket) AS f
      FROM filled GROUP BY doc_id
    ), hashed AS (
      SELECT doc_id,
             CAST((CASE WHEN f[1] > f[2] THEN 1 ELSE 0 END) + (CASE WHEN f[2] > f[3] THEN 2 ELSE 0 END) + (CASE WHEN f[3] > f[4] THEN 4 ELSE 0 END) + (CASE WHEN f[4] > f[5] THEN 8 ELSE 0 END) + (CASE WHEN f[5] > f[6] THEN 16 ELSE 0 END) + (CASE WHEN f[6] > f[7] THEN 32 ELSE 0 END) + (CASE WHEN f[7] > f[8] THEN 64 ELSE 0 END)
                + (CASE WHEN f[1] > 1.0/8 THEN 128 ELSE 0 END) + (CASE WHEN f[2] > 1.0/8 THEN 256 ELSE 0 END) + (CASE WHEN f[3] > 1.0/8 THEN 512 ELSE 0 END) + (CASE WHEN f[4] > 1.0/8 THEN 1024 ELSE 0 END) + (CASE WHEN f[5] > 1.0/8 THEN 2048 ELSE 0 END) + (CASE WHEN f[6] > 1.0/8 THEN 4096 ELSE 0 END) + (CASE WHEN f[7] > 1.0/8 THEN 8192 ELSE 0 END) + (CASE WHEN f[8] > 1.0/8 THEN 16384 ELSE 0 END) AS INT) AS phash
      FROM fvec
    )
"""

ORACLE["multimodal_phash_groups"] = f"""
    {_DUCK_PHASH_CTE}
    SELECT phash, COUNT(*) AS n_assets, MIN(doc_id) AS keep_doc_id
    FROM hashed GROUP BY phash
"""

# the pHash candidate-pair pipeline as a shared WITH body — consumed by
# the pairs oracle and (under WITH RECURSIVE) the clusters oracle
_DUCK_PHASH_CTES = f"""
    assets AS (
        SELECT doc_id AS asset_id, lower(text) AS t FROM documents
        UNION ALL
        SELECT doc_id + {PHASH_VARIANT_OFFSET},
               lower(text) || '{PHASH_PERTURB}'
        FROM documents WHERE doc_id % {PHASH_VARIANT_MOD} = 0
    ),
    h AS (
        SELECT asset_id,
               CAST(list_sum(list_transform(range(26), j ->
                   ((length(t) - length(replace(t,
                        chr(CAST(97 + j AS INT)), ''))) % 2)
                   * (1 << CAST(j AS INT)))) AS BIGINT) AS ph
        FROM assets
    ),
    bands AS (
        SELECT asset_id, ph, 0 AS band, ph % 512 AS v FROM h
        UNION ALL
        SELECT asset_id, ph, 1, (ph // 512) % 512 FROM h
        UNION ALL
        SELECT asset_id, ph, 2, ph // 262144 FROM h
    ),
    cand AS (
        SELECT DISTINCT a.asset_id AS doc_a, b.asset_id AS doc_b,
               a.ph AS pa, b.ph AS pb
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.v = b.v
                    AND a.asset_id < b.asset_id
    )"""

ORACLE["multimodal_phash_hamming_pairs"] = f"""
    WITH {_DUCK_PHASH_CTES}
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(pa, pb)) AS INT) AS hamming,
           CASE WHEN doc_b - doc_a = {PHASH_VARIANT_OFFSET}
                THEN 1 ELSE 0 END AS is_planted
    FROM cand WHERE bit_count(xor(pa, pb)) <= {PHASH_MAX_HAMMING}
"""

ORACLE["multimodal_phash_clusters"] = f"""
    WITH RECURSIVE
    {_DUCK_PHASH_CTES},
    mh AS (
        SELECT doc_a, doc_b FROM cand
        WHERE bit_count(xor(pa, pb)) <= {PHASH_MAX_HAMMING}
    ),
    bi AS (
        SELECT doc_a AS a, doc_b AS b FROM mh
        UNION
        SELECT doc_b AS a, doc_a AS b FROM mh
    ),
    reach(src, dst) AS (
        SELECT asset_id, asset_id FROM assets
        UNION
        SELECT r.src, e.b FROM reach r JOIN bi e ON r.dst = e.a
    ),
    lab AS (
        SELECT src AS asset_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
    )
    SELECT asset_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           asset_id = cluster_id AS is_canonical,
           CASE WHEN asset_id >= {PHASH_VARIANT_OFFSET}
                THEN 1 ELSE 0 END AS is_variant
    FROM lab
"""

ORACLE["multimodal_dedup_bytes"] = """
    SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS copies,
           CAST(MIN(octet_length(encode(text))) AS BIGINT) AS payload_bytes
    FROM documents GROUP BY sha256(text)
"""
