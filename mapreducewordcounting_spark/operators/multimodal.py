"""Multimodal column operators (SURVEY.md §2.3 — M6 extension).

Images/audio/video ride through the engine as opaque ``binary``
columns with a typed metadata struct — the pattern that keeps Spark's
planner useful (metadata prunes/filters/joins JVM-side) while payload
bytes flow through Arrow to Python only where a decoder must run.

The fixture has no real media, so the *asset* is built deterministically
from ``documents.text`` (utf-8 bytes) with synthesized metadata. The
decode stage is the honest stub the container mandates: real
image/audio libs are absent, so ``decode_asset_features`` computes
deterministic byte-level features via ``mapInPandas`` (the exact
plumbing — schema, Arrow batches, partition mapping — a real decoder
drops into; swap `_fake_decode` for PIL/ffmpeg and nothing else moves).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.registry import register


def assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → multimodal asset table:
    (asset_id, payload binary, meta struct<kind,n_bytes,n_frames>)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        payload.alias("payload"),
        F.struct(
            kind.alias("kind"),
            F.octet_length(payload).alias("n_bytes"),
            (F.col("n_chars") % 30 + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
        F.col("source"),
    )


@register(
    "mm_metadata_stats",
    oracle="""
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               source,
               count(*) AS n_assets,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               max(octet_length(encode(text))) AS max_bytes
        FROM documents
        GROUP BY 1, 2
    """,
    tags=("multimodal", "metadata"),
)
def mm_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage planning stats over asset metadata — runs entirely on
    the struct column; payload bytes are never shuffled (column pruning
    drops them at the scan)."""
    a = assets(spark, sf_dir)
    return a.groupBy(F.col("meta.kind").alias("kind"), "source").agg(
        F.count("*").alias("n_assets"),
        F.sum("meta.n_bytes").alias("total_bytes"),
        F.max("meta.n_bytes").alias("max_bytes"),
    )


@register(
    "mm_frame_sample",
    oracle="""
        SELECT doc_id AS asset_id,
               unnest(range(0, (n_chars % 30 + 1), 5)) AS frame_idx,
               (n_chars % 30 + 1) AS n_frames
        FROM documents
        WHERE doc_id < 100
    """,
    tags=("multimodal", "frames"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plan: explode every-5th frame index from the
    metadata — the row-multiplying step that fans one video row out to
    N decode tasks (the decode itself is decode_asset_features)."""
    a = assets(spark, sf_dir).filter(F.col("asset_id") < 100)
    return a.select(
        "asset_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(5))
        ).alias("frame_idx"),
        F.col("meta.n_frames").alias("n_frames"),
    )


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for an image/audio decoder (the real
    libraries are not in this container — SURVEY spec). Swap this
    function for PIL/torchaudio/ffmpeg; the Spark plumbing is real.
    md5 (not crc32) so the oracle can reproduce it (DuckDB md5)."""
    import hashlib

    return {
        "n_bytes": len(payload),
        "first_byte": payload[0] if payload else None,
        "digest": hashlib.md5(payload).hexdigest(),
    }


def decode_asset_features(a: DataFrame) -> DataFrame:
    """mapInPandas decode stage: Arrow-batched payload → feature rows.

    This is the UDF shape for real multimodal work: per-batch pandas
    in, per-batch pandas out, payload column read once, features only
    downstream (never re-shuffle the binary)."""
    import pandas as pd

    schema = ("asset_id LONG, kind STRING, n_bytes LONG, "
              "first_byte INT, digest STRING")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fake_decode(p) for p in pdf["payload"]]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"].values,
                "kind": pdf["kind"].values,
                "n_bytes": [f["n_bytes"] for f in feats],
                "first_byte": [f["first_byte"] for f in feats],
                "digest": [f["digest"] for f in feats],
            })

    # Only the metadata field the decoder needs crosses the Arrow
    # boundary, and as a FLAT column: a struct column arrives in pandas
    # as a dict per row (no Arrow vectorization, per-row unpacking on
    # the worker), while a flat string column stays a zero-copy Arrow
    # array end to end.
    return (a.select("asset_id", F.col("meta.kind").alias("kind"), "payload")
            .mapInPandas(decode, schema))


@register(
    "mm_decode_features",
    oracle="""
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               count(*) AS n_assets,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               count(DISTINCT md5(text)) AS n_distinct_payloads
        FROM documents
        GROUP BY 1
    """,  # md5-of-payload is reproducible in DuckDB, so even the
    # Python decode stage is oracle-checked end-to-end.
    tags=("multimodal", "decode", "pandas-udf"),
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode stage end-to-end: asset table → mapInPandas features →
    per-kind aggregate. At 100 TB the decode partition count follows
    the asset table's file splits; no shuffle precedes the decode."""
    feats = decode_asset_features(assets(spark, sf_dir))
    return feats.groupBy("kind").agg(
        F.count("*").alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.count_distinct("digest").alias("n_distinct_payloads"),
    )


def _fake_resize(n_bytes: int) -> dict:
    """Deterministic stand-in for an image resize (target 64×64,
    aspect-preserving). Source geometry derives from payload size so
    the DuckDB oracle can reproduce it; swap for PIL's
    ``Image.resize`` and the surrounding plumbing is unchanged.
    All arithmetic is IEEE-double, identical in any engine."""
    import math

    src_w = 16 + n_bytes % 97
    src_h = 16 + (n_bytes * 7) % 89
    scale = 64.0 / max(src_w, src_h)
    out_w = math.floor(src_w * scale)
    out_h = math.floor(src_h * scale)
    return {"src_w": src_w, "src_h": src_h, "scale": scale,
            "out_bytes": out_w * out_h * 3}


@register(
    "mm_resize_stub",
    oracle="""
        WITH img AS (
            SELECT doc_id AS asset_id,
                   octet_length(encode(text)) AS n_bytes
            FROM documents WHERE doc_id % 3 = 0),
        g AS (
            SELECT asset_id,
                   16 + n_bytes % 97 AS src_w,
                   16 + (n_bytes * 7) % 89 AS src_h
            FROM img)
        SELECT asset_id, src_w, src_h,
               64.0 / greatest(src_w, src_h) AS scale,
               CAST(floor(src_w * (64.0 / greatest(src_w, src_h)))
                    * floor(src_h * (64.0 / greatest(src_w, src_h)))
                    * 3 AS BIGINT) AS out_bytes
        FROM g
    """,
    tags=("multimodal", "resize", "pandas-udf"),
)
def mm_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize stage over the image-kind assets: mapInPandas
    batch transform producing target geometry + output byte estimate
    per asset. The kind filter runs on metadata BEFORE any payload
    reaches Python (audio/video rows never cross the Arrow boundary),
    and the stage is a pure map — partition-parallel at any scale.
    The resize itself is the documented deterministic stub
    (_fake_resize); the Spark surface — pushdown-able kind filter,
    Arrow batching, output schema — is the real thing."""
    import pandas as pd

    a = assets(spark, sf_dir).filter(F.col("meta.kind") == "image")
    schema = ("asset_id LONG, src_w INT, src_h INT, "
              "scale DOUBLE, out_bytes LONG")

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            geo = [_fake_resize(len(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"].values,
                "src_w": [g["src_w"] for g in geo],
                "src_h": [g["src_h"] for g in geo],
                "scale": [g["scale"] for g in geo],
                "out_bytes": [g["out_bytes"] for g in geo],
            })

    return a.select("asset_id", "payload").mapInPandas(resize, schema)


@register(
    "mm_decode_arrow",
    oracle="""
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               count(*) AS n_assets,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               count(DISTINCT md5(text)) AS n_distinct_payloads
        FROM documents
        GROUP BY 1
    """,
    tags=("multimodal", "decode", "arrow"),
)
def mm_decode_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode stage on ``mapInArrow``: pyarrow RecordBatches in and
    out, skipping the Arrow→pandas→Arrow conversion that mapInPandas
    pays per batch. For a decode stage whose Python side only touches
    the payload bytes (every other column passes through), that
    conversion is pure overhead — this is the engine's preferred shape
    for binary-heavy stages. Same oracle as mm_decode_features, so the
    two UDF transports are pinned to identical results."""
    import hashlib

    import pyarrow as pa

    a = assets(spark, sf_dir).select(
        "asset_id", F.col("meta.kind").alias("kind"), "payload")
    schema = "asset_id LONG, kind STRING, n_bytes LONG, digest STRING"

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            payloads = batch.column("payload").to_pylist()
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("asset_id"),
                    batch.column("kind"),
                    pa.array([len(p) for p in payloads], pa.int64()),
                    pa.array([hashlib.md5(p).hexdigest() for p in payloads],
                             pa.string()),
                ],
                names=["asset_id", "kind", "n_bytes", "digest"],
            )

    feats = a.mapInArrow(decode, schema)
    return feats.groupBy("kind").agg(
        F.count("*").alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.count_distinct("digest").alias("n_distinct_payloads"),
    )


@register(
    "mm_chunk_dedup_ratio",
    oracle="""
        WITH chunks AS (
            SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   md5(substring(text, i.i * 64 + 1, 64)) AS chunk_digest
            FROM documents,
                 (SELECT unnest(range(0, 512)) AS i) i
            WHERE i.i * 64 < length(text)
        )
        SELECT kind,
               count(*) AS n_chunks,
               count(DISTINCT chunk_digest) AS n_distinct,
               round(1.0 - CAST(count(DISTINCT chunk_digest) AS DOUBLE)
                     / count(*), 6) AS dedup_ratio
        FROM chunks
        GROUP BY kind
    """,
    tags=("multimodal", "chunking", "dedup", "storage"),
)
def mm_chunk_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level content-addressed dedup economics — the STORAGE
    dedup primitive (restic/borg/VAST-style): split each payload into
    fixed 64-char chunks, digest each, and measure per-kind how much
    of the chunk space is redundant (dedup_ratio = 1 − distinct/total).
    This is the planning query run BEFORE adopting content-addressed
    storage for a multimodal corpus: the ratio IS the storage savings.

    Scale structure: chunk index explodes from a bounded ``sequence``
    (here ≤64 chunks/doc — a real store keys chunk size off
    ``octet_length`` the same way), the digest is map-side, and the
    rollup shuffles (kind, digest) pairs ONCE for the distinct — at
    petabyte scale the distinct goes through HLL
    (`approx_count_distinct`) with zero structural change. Chunks are
    char-based here because the engines must agree byte-for-byte on
    slicing (the fixture payload is utf-8 text); a binary store chunks
    bytes, same plumbing."""
    docs = load_table(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    n_chunks = F.ceil(F.length("text") / F.lit(64)).cast("int")
    # empty docs contribute zero chunks; without the guard,
    # sequence(0, -1) would INFER step -1 and yield [0, -1] — two
    # phantom chunks of "" per empty doc (the oracle's
    # `i*64 < length(text)` predicate excludes them)
    chunks = docs.filter(F.length("text") > 0).select(
        kind.alias("kind"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
        "text",
    ).select(
        "kind",
        F.md5(F.expr("substring(text, i * 64 + 1, 64)"))
        .alias("chunk_digest"),
    )
    return chunks.groupBy("kind").agg(
        F.count("*").alias("n_chunks"),
        F.count_distinct("chunk_digest").alias("n_distinct"),
        F.round(F.lit(1.0) - F.count_distinct("chunk_digest")
                .cast("double") / F.count("*"), 6).alias("dedup_ratio"),
    )


from functools import lru_cache


@lru_cache(maxsize=65536)
def _block_inten(blk: str) -> int:
    """md5-fold block intensity (first 8 hex chars as uint32). Cached:
    the 2-char block domain over the canonical alphabet is ~1k values,
    so the per-frame/per-asset md5 cost collapses to dictionary hits
    (measured 2.5 -> ~0.8 s on mm_video_scene_cuts at sf0.1)."""
    import hashlib

    return int(hashlib.md5(blk.encode("utf-8")).hexdigest()[:8], 16)


def _fake_phash(text: str) -> tuple[int, int, int]:
    """Deterministic stand-in for a perceptual image hash (pHash /
    dHash — the real pipeline is PIL: grayscale → resize 9×8 →
    64 gradient bits; those libs are absent per SURVEY env rules).
    The stand-in keeps dHash's exact STRUCTURE on the payload bytes:
    the "image" is the first 130 chars split into 65 two-char blocks
    ("pixels"), block intensity is an md5-fold (first 8 hex chars as
    uint32 — reproducible in DuckDB, the reason md5 and not crc32),
    and bit i of the 64-bit signature compares adjacent intensities
    (I[i] < I[i+1]), exactly dHash's gradient predicate. Locality is
    real: an edit confined to one block flips at most 2 bits, so
    near-identical payloads land within small hamming distance.

    Returns (sig_hi, sig_lo, n_blocks): two 32-bit signature halves
    and the number of NON-EMPTY blocks, ceil(len/2) capped at 65 —
    the band-eligibility gate (see phash_neardup_pairs).
    """
    inten = [_block_inten(text[i * 2:i * 2 + 2]) for i in range(65)]
    sig_lo = sum(1 << i for i in range(32) if inten[i] < inten[i + 1])
    sig_hi = sum(1 << (i - 32) for i in range(32, 64)
                 if inten[i] < inten[i + 1])
    return sig_hi, sig_lo, min((len(text) + 1) // 2, 65)


def phash_signatures(a: DataFrame) -> DataFrame:
    """mapInPandas decode stage: binary payload → 64-bit perceptual
    signature. Same Arrow-batched shape as decode_asset_features — a
    real deployment swaps _fake_phash for PIL+DCT and nothing else
    moves. Only (asset_id, payload) crosses the Arrow boundary; the
    payload never shuffles (signatures are 3 longs/asset)."""
    import pandas as pd

    def sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = [_fake_phash(bytes(p).decode("utf-8"))
                    for p in pdf["payload"]]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"].values,
                "sig_hi": [s[0] for s in sigs],
                "sig_lo": [s[1] for s in sigs],
                "n_blocks": [s[2] for s in sigs],
            })

    return a.select("asset_id", "payload").mapInPandas(
        sign, "asset_id LONG, sig_hi LONG, sig_lo LONG, n_blocks LONG")


def phash_neardup_pairs(sigs: DataFrame) -> DataFrame:
    """Banded near-dup join over perceptual signatures: four 16-bit
    bands, candidates = band-key collisions, verify = two popcounts,
    emit hamming <= 3 (dedup_simhash_det's exact tail, dedup.py:769).

    The one structural difference from simhash: BAND ELIGIBILITY.
    Blocks past the payload's end are empty, their gradient bits are
    identically 0 for EVERY short asset, and a band made only of such
    bits would be a degenerate key colliding all short assets with
    each other — an O(n²) candidate blowup keyed on nothing. Band k
    (bits 16k..16k+15) is therefore emitted only when the asset has a
    real block inside it (16k < n_blocks); a pair must share an
    emitted band to become a candidate. Recall consequence, measured
    on the fixture (sf0.1): 240/247 planted near-dup pairs found; the
    7 misses are hamming-4 tail edits straddling two block boundaries
    — the verify threshold, not the banding, excludes them.

    100 TB dataflow: signatures are 3 longs/asset regardless of
    payload size, computed in the decode pass (no shuffle before it);
    the only shuffle is the ≤4-rows/asset band self-join whose
    candidate volume is bounded by 16-bit-key collisions among
    same-eligibility assets. Verification is O(1) bit math — payload
    bytes are never compared."""
    band_arr = F.array(*[
        F.struct(
            F.lit(k).alias("band"),
            [F.col("sig_lo").bitwiseAND(F.lit(65535)),
             F.shiftright("sig_lo", 16),
             F.col("sig_hi").bitwiseAND(F.lit(65535)),
             F.shiftright("sig_hi", 16)][k].alias("key"),
        ) for k in range(4)
    ])
    # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut, both
    # aliases re-scan and re-decode: scans 1 → 2, sf0.1 wall 0.9 → 1.4 s.
    bands = (sigs.select("asset_id", "sig_hi", "sig_lo",
                         F.explode(band_arr).alias("bs"),
                         F.col("n_blocks"))
             .filter(F.lit(16) * F.col("bs.band") < F.col("n_blocks"))
             .select("asset_id", "sig_hi", "sig_lo",
                     F.col("bs.band").alias("band"),
                     F.col("bs.key").alias("key"))
             .localCheckpoint(eager=True))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.asset_id") < F.col("b.asset_id")))
        .select(F.col("a.asset_id").alias("id_a"),
                F.col("b.asset_id").alias("id_b"),
                (F.bit_count(F.col("a.sig_hi").bitwiseXOR(F.col("b.sig_hi")))
                 + F.bit_count(F.col("a.sig_lo")
                               .bitwiseXOR(F.col("b.sig_lo"))))
                .cast("long").alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


@register(
    "mm_phash_neardup",
    # Mirrored oracle (tools/oracle_classes.py): DuckDB re-derives the
    # signature from documents.text (= the asset payload bytes) with
    # the same md5-fold blocks / gradient bits / eligibility-gated
    # bands; the structure-free differential is
    # tests/test_bruteforce_dedup_text.py::test_phash_neardup_matches_python.
    oracle="""
        WITH blocks AS (
            SELECT doc_id, i.i AS i,
                   CAST(CAST(('0x' || substr(md5(substring(text, i.i*2+1, 2)),
                                             1, 8))
                        AS UBIGINT) AS BIGINT) AS inten,
                   length(text) AS L
            FROM documents, (SELECT unnest(range(0, 65)) AS i) i
        ),
        bits AS (
            SELECT doc_id, i, L,
                   CASE WHEN inten < lead(inten)
                             OVER (PARTITION BY doc_id ORDER BY i)
                        THEN 1 ELSE 0 END AS bit
            FROM blocks
        ),
        sig AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN i < 32 THEN bit * (1::BIGINT << i)
                                 ELSE 0 END) AS BIGINT) AS sig_lo,
                   CAST(sum(CASE WHEN i >= 32 AND i < 64
                                 THEN bit * (1::BIGINT << (i - 32))
                                 ELSE 0 END) AS BIGINT) AS sig_hi,
                   least(CAST(ceil(max(L) / 2.0) AS BIGINT), 65) AS n_blocks
            FROM bits GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, sig_hi, sig_lo, b.b AS band,
                   CASE b.b WHEN 0 THEN sig_lo & 65535
                            WHEN 1 THEN sig_lo >> 16
                            WHEN 2 THEN sig_hi & 65535
                            ELSE sig_hi >> 16 END AS key
            FROM sig, (SELECT unnest(range(0, 4)) AS b) b
            WHERE 16 * b.b < n_blocks
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sig_hi, b.sig_hi))
                        + bit_count(xor(a.sig_lo, b.sig_lo)) AS BIGINT)
                       AS hamming
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key
             AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
    """,
    tags=("multimodal", "dedup", "neardup", "phash"),
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over multimodal
    payloads — the image-dedup tier of an LLM training pipeline
    (VERDICT r7 item 6): CC-scale corpora carry the same image under
    thousands of URLs with re-encodes and trivial crops; exact
    content-hash dedup (mm_chunk_dedup_ratio's economics) misses every
    one of them, and this operator is the standard fix — a compact
    perceptual signature per asset, LSH banding for candidates, and a
    hamming verify, i.e. dedup_simhash_det's dataflow with the
    signature computed by a DECODER (mapInPandas over binary payloads)
    instead of a token aggregate.

    Pipeline: assets() (binary payload) → phash_signatures (Arrow
    decode stage, 3 longs out per asset) → phash_neardup_pairs
    (eligibility-gated 4×16-bit banding + popcount verify).
    Oracle-verified identical at sf0.001/0.01/0.1 (28 / 25 / 249
    pairs — the planted tail-edit near-dups keep hamming ≤ 3
    non-vacuous; 8 exact-payload dups at sf0.1 land at hamming 0)."""
    return phash_neardup_pairs(phash_signatures(assets(spark, sf_dir)))


#: scene-cut model: frames sample the payload in SCENE_LEN-frame
#: shots, each shot reading one CUT_WINDOW-char slice; adjacent
#: signatures differing by more than CUT_HAMMING bits mark a cut
SCENE_LEN = 4
CUT_WINDOW = 130
CUT_HAMMING = 8


@register(
    "mm_video_scene_cuts",
    # Mirrored oracle: DuckDB re-derives the per-frame dHash-structured
    # signature from the same md5-fold blocks over the same
    # shot-windowed payload slices, then lag + popcount. Differential:
    # tests/test_bruteforce_dedup_text.py::test_scene_cuts_match_python.
    oracle=f"""
        WITH v AS (
            SELECT doc_id, text, (n_chars % 30 + 1) AS n_frames
            FROM documents WHERE doc_id % 3 = 2),
        frames AS (
            SELECT doc_id, f.f AS frame_idx,
                   substring(text, (f.f // {SCENE_LEN}) * {CUT_WINDOW} + 1,
                             {CUT_WINDOW}) AS ftext
            FROM v, (SELECT unnest(range(0, 30)) AS f) f
            WHERE f.f < n_frames),
        blocks AS (
            SELECT doc_id, frame_idx, i.i AS i,
                   CAST(CAST(('0x' || substr(md5(substring(ftext,
                                                           i.i*2+1, 2)),
                                             1, 8))
                        AS UBIGINT) AS BIGINT) AS inten
            FROM frames, (SELECT unnest(range(0, 65)) AS i) i
        ),
        bits AS (
            SELECT doc_id, frame_idx, i,
                   CASE WHEN inten < lead(inten)
                             OVER (PARTITION BY doc_id, frame_idx
                                   ORDER BY i)
                        THEN 1 ELSE 0 END AS bit
            FROM blocks
        ),
        sig AS (
            SELECT doc_id, frame_idx,
                   CAST(sum(CASE WHEN i < 32 THEN bit * (1::BIGINT << i)
                                 ELSE 0 END) AS BIGINT) AS sig_lo,
                   CAST(sum(CASE WHEN i >= 32 AND i < 64
                                 THEN bit * (1::BIGINT << (i - 32))
                                 ELSE 0 END) AS BIGINT) AS sig_hi
            FROM bits GROUP BY doc_id, frame_idx
        ),
        dist AS (
            SELECT doc_id AS asset_id, frame_idx,
                   CAST(bit_count(xor(sig_hi,
                            lag(sig_hi) OVER w))
                        + bit_count(xor(sig_lo,
                            lag(sig_lo) OVER w)) AS BIGINT) AS hamming
            FROM sig
            WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
        )
        SELECT asset_id, frame_idx, hamming
        FROM dist WHERE hamming > {CUT_HAMMING}
    """,
    tags=("multimodal", "video", "scene-cut", "frames"),
)
def mm_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over video assets — the multimodal
    pipeline's standard frame-level dedup/segmentation primitive: a
    perceptual signature per SAMPLED frame, a cut wherever adjacent
    signatures differ by more than CUT_HAMMING (8) bits. The decode is
    the repo's deterministic stand-in (SURVEY env rules): frame f
    reads the payload slice of its SCENE_LEN (4)-frame shot
    (piecewise-constant, so intra-shot hamming is exactly 0 and shot
    boundaries land far above the threshold unless the payload ran
    out — both outcomes live in the fixture), signatures are
    _fake_phash's md5-fold dHash structure; a real deployment swaps
    the slice+fold for an actual decoder and DCT, and nothing else
    moves.

    Scale shape: the decode stage is mapInPandas over (asset_id,
    payload, n_frames) — payload bytes never shuffle, signatures are
    2 longs × ≤30 frames per asset; the cut detector is one lag
    window over (asset_id, frame_idx), i.e. one exchange on asset_id
    of signature-sized rows; popcount verify is codegen'd bit math."""
    import pandas as pd

    vids = assets(spark, sf_dir).filter(F.col("meta.kind") == "video") \
        .select("asset_id", "payload", F.col("meta.n_frames").alias("nf"))

    def sign_frames(batches):
        for pdf in batches:
            out = {"asset_id": [], "frame_idx": [],
                   "sig_hi": [], "sig_lo": []}
            for aid, payload, nf in zip(pdf["asset_id"], pdf["payload"],
                                        pdf["nf"]):
                text = bytes(payload).decode("utf-8")
                nf = int(nf)
                # frames within a shot are identical by construction:
                # sign each SHOT once, emit per-frame rows from it
                shot_sigs = [
                    _fake_phash(text[s * CUT_WINDOW:(s + 1) * CUT_WINDOW])
                    for s in range((nf + SCENE_LEN - 1) // SCENE_LEN)
                ]
                for f in range(nf):
                    hi, lo, _ = shot_sigs[f // SCENE_LEN]
                    out["asset_id"].append(int(aid))
                    out["frame_idx"].append(f)
                    out["sig_hi"].append(hi)
                    out["sig_lo"].append(lo)
            yield pd.DataFrame(out)

    sigs = vids.mapInPandas(
        sign_frames,
        "asset_id LONG, frame_idx LONG, sig_hi LONG, sig_lo LONG")
    w = Window.partitionBy("asset_id").orderBy("frame_idx")
    hamming = (
        F.bit_count(F.col("sig_hi").bitwiseXOR(F.lag("sig_hi").over(w)))
        + F.bit_count(F.col("sig_lo").bitwiseXOR(F.lag("sig_lo").over(w)))
    ).cast("long")
    return (
        sigs.select("asset_id", "frame_idx", hamming.alias("hamming"))
        .filter(F.col("hamming") > CUT_HAMMING)
    )


#: VAD model: the audio payload decodes to VAD_WIN-char hop windows
#: ("20 ms frames"); window energy is the md5-fold of the slice
#: modulo 1000 (a deterministic stand-in for RMS energy — ~uniform,
#: so the threshold splits voiced/unvoiced around the median and both
#: classes are exercised at every SF); adjacent voiced windows merge
#: into speech segments.
VAD_WIN = 16
VAD_THRESHOLD = 500


@register(
    "mm_audio_vad_segments",
    # Mirrored oracle: DuckDB re-derives the per-window md5-fold
    # energy from the same payload slices, then the same
    # gaps-islands merge. Differential:
    # tests/test_bruteforce_dedup_text.py::test_audio_vad_matches_python.
    oracle=f"""
        WITH a AS (
            SELECT doc_id AS asset_id, text, (n_chars % 30 + 1) AS nw
            FROM documents WHERE doc_id % 3 = 1),
        wins AS (
            SELECT asset_id, w.w AS win_idx,
                   CAST(CAST(('0x' || substr(md5(substring(text,
                                  w.w * {VAD_WIN} + 1, {VAD_WIN})),
                              1, 8)) AS UBIGINT) % 1000 AS BIGINT)
                       AS energy
            FROM a, (SELECT unnest(range(0, 30)) AS w) w
            WHERE w.w < nw),
        voiced AS (
            SELECT asset_id, win_idx,
                   win_idx - row_number() OVER (PARTITION BY asset_id
                                                ORDER BY win_idx)
                       AS grp
            FROM wins WHERE energy >= {VAD_THRESHOLD}),
        segs AS (
            SELECT asset_id, grp, count(*) AS seg_len
            FROM voiced GROUP BY asset_id, grp),
        seg_stats AS (
            SELECT asset_id, count(*) AS n_segments,
                   max(seg_len) AS longest_seg
            FROM segs GROUP BY asset_id),
        tot AS (
            SELECT asset_id, count(*) AS n_windows,
                   sum(CASE WHEN energy >= {VAD_THRESHOLD}
                            THEN 1 ELSE 0 END) AS n_voiced
            FROM wins GROUP BY asset_id)
        SELECT t.asset_id,
               CAST(t.n_windows AS BIGINT) AS n_windows,
               CAST(t.n_voiced AS BIGINT) AS n_voiced,
               CAST(coalesce(s.n_segments, 0) AS BIGINT) AS n_segments,
               CAST(coalesce(s.longest_seg, 0) AS BIGINT) AS longest_seg,
               round(CAST(t.n_voiced AS DOUBLE) / t.n_windows, 6)
                   AS voiced_ratio
        FROM tot t LEFT JOIN seg_stats s USING (asset_id)
    """,
    tags=("multimodal", "audio", "vad", "frames"),
)
def mm_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation over audio assets — the audio
    modality's dedicated operator beside the image tier (pHash
    near-dup) and the video tier (scene cuts): hop-window energies
    from the decode stage, a threshold gate, and adjacent voiced
    windows merged into speech segments (the standard first step of
    any speech-data pipeline — ASR pre-filtering, silence trimming,
    speech/music routing — here reported as per-asset segment
    accounting: window count, voiced count, segment count, longest
    segment, voiced ratio).

    The decode is the repo's deterministic stand-in (SURVEY env
    rules): window w reads the payload slice [w*VAD_WIN,
    (w+1)*VAD_WIN) and "RMS energy" is the md5-fold of the slice
    mod 1000; a real deployment swaps the slice+fold for
    torchaudio/ffmpeg frame RMS inside the SAME mapInPandas stage
    and nothing else moves. The segment merge is the gaps-islands
    pattern (fn_gaps_islands) on the voiced window index.

    Scale shape: payload bytes never shuffle — only (asset_id,
    win_idx, energy) rows (≤30 per asset) leave the decode stage;
    the merge is one asset-keyed exchange shared by the island
    window, both rollups, and the final join (AQE coalesces the
    dimension-sized sides)."""
    import hashlib

    import numpy as np
    import pandas as pd

    auds = (assets(spark, sf_dir)
            .filter(F.col("meta.kind") == "audio")
            .select("asset_id", "payload",
                    F.col("meta.n_frames").alias("nw")))

    def energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized explode (VERDICT r10 item 6): the batch's
        # (asset, window) grid is assembled with NumPy repeat/arange —
        # no per-asset Python row appends — and only the md5 fold
        # itself stays per-slice (it is the deterministic stand-in; a
        # real torchaudio/ffmpeg frame-RMS swap is a single vectorized
        # call over the same flat slice vector, nothing else moves).
        for pdf in batches:
            nw = pdf["nw"].to_numpy(dtype=np.int64)
            n = int(nw.sum())
            aid = pdf["asset_id"].to_numpy(dtype=np.int64).repeat(nw)
            win = (np.arange(n, dtype=np.int64)
                   - np.repeat(np.cumsum(nw) - nw, nw))
            texts = [bytes(p).decode("utf-8") for p in pdf["payload"]]
            ti = np.arange(len(nw)).repeat(nw)
            energy = np.fromiter(
                (int.from_bytes(
                    hashlib.md5(
                        texts[t][w * VAD_WIN:(w + 1) * VAD_WIN]
                        .encode()).digest()[:4], "big") % 1000
                 for t, w in zip(ti, win)),
                dtype=np.int64, count=n)
            yield pd.DataFrame({"asset_id": aid, "win_idx": win,
                                "energy": energy})

    wins = auds.mapInPandas(
        energies, "asset_id LONG, win_idx LONG, energy LONG")
    # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut, both
    # branches re-scan and re-decode: scans 1 → 2.
    wins = wins.localCheckpoint(eager=True)
    w_rn = Window.partitionBy("asset_id").orderBy("win_idx")
    voiced = (wins.filter(F.col("energy") >= VAD_THRESHOLD)
              .withColumn("grp", F.col("win_idx")
                          - F.row_number().over(w_rn)))
    segs = voiced.groupBy("asset_id", "grp").agg(
        F.count("*").alias("seg_len"))
    seg_stats = segs.groupBy("asset_id").agg(
        F.count("*").alias("n_segments"),
        F.max("seg_len").alias("longest_seg"))
    tot = wins.groupBy("asset_id").agg(
        F.count("*").alias("n_windows"),
        F.sum(F.when(F.col("energy") >= VAD_THRESHOLD, 1).otherwise(0))
        .alias("n_voiced"))
    return (
        tot.join(seg_stats, "asset_id", "left")
        .select("asset_id",
                F.col("n_windows").cast("bigint").alias("n_windows"),
                F.col("n_voiced").cast("bigint").alias("n_voiced"),
                F.coalesce("n_segments", F.lit(0)).cast("bigint")
                .alias("n_segments"),
                F.coalesce("longest_seg", F.lit(0)).cast("bigint")
                .alias("longest_seg"),
                F.round(F.col("n_voiced").cast("double")
                        / F.col("n_windows"), 6).alias("voiced_ratio"))
    )
