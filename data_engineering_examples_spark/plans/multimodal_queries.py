"""L4 — multimodal-column queries over the ``media`` fixture (builder
brief "Multimodal columns"; operators in ``operators/media.py``).

* **q42** — typed-metadata accounting: size/dimension stats by
  (kind, format). Pure columnar — the payload bytes are touched only by
  ``octet_length``, which parquet answers without materializing the blob
  in the JVM heap beyond the page read. Oracle-checked.
* **q43** — media↔caption pairing: binary table joined to the text
  corpus on ``doc_id`` — the multimodal training-pair shape (image +
  caption). Slim projections only; payloads never enter the join.
  Oracle-checked.
* **q44** — the Arrow-batched featurizer stage (``mapInPandas``) with
  the deterministic stand-in encoder; oracle-checked (the byte-histogram
  is recomputed in SQL via the hex high-nibble trick below).
* **q74** — video frame sampling: the 1-row→k-rows ``mapInPandas``
  fan-out, oracle-checked through hex-offset slicing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.media import extract_features
from ..scratch import materialize, memo_substrate
from ..sources.fhir import FIXTURES_DIR
from ..sources.tables import load_tables, read_immutable_parquet
from .registry import register

FX = FIXTURES_DIR


def _media(spark: SparkSession) -> DataFrame:
    return read_immutable_parquet(spark, f"{FX}/media.parquet")


@register(
    "q42_media_stats",
    oracle=f"""
    SELECT kind, format,
           count(*) AS n,
           CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
           min(octet_length(payload)) AS min_bytes,
           max(octet_length(payload)) AS max_bytes,
           max(width) AS max_width,
           max(duration_ms) AS max_duration_ms
    FROM read_parquet('{FX}/media.parquet')
    GROUP BY kind, format
    """,
    doc="typed-metadata media accounting by (kind, format); payload stays opaque",
    tags=("multimodal", "llm"),
)
def q42_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media(spark)
    return m.groupBy("kind", "format").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
        F.min(F.octet_length("payload")).cast("long").alias("min_bytes"),
        F.max(F.octet_length("payload")).cast("long").alias("max_bytes"),
        F.max("width").alias("max_width"),
        F.max("duration_ms").alias("max_duration_ms"),
    )


@register(
    "q43_media_caption_pairs",
    oracle=f"""
    SELECT m.media_id, m.kind, d.doc_id, d.lang,
           len(string_split(d.text, ' ')) AS caption_tokens,
           octet_length(m.payload) AS media_bytes
    FROM read_parquet('{FX}/media.parquet') m
    JOIN documents d ON d.doc_id = m.doc_id
    """,
    doc="media-caption training pairs: binary table ⋈ text corpus on doc_id",
    tags=("multimodal", "llm"),
)
def q43_media_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media(spark)
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        m.select("media_id", "kind", "doc_id", F.octet_length("payload").cast("long").alias("media_bytes"))
        .join(docs, "doc_id")
        .select(
            "media_id",
            "kind",
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).cast("long").alias("caption_tokens"),
            "media_bytes",
        )
    )


# The featurizer itself runs as a real mapInPandas stage (the model-encoder
# plumbing); its stand-in byte-histogram IS SQL-expressible, so the oracle
# recomputes it independently: hex() renders each payload byte as two hex
# chars, the regexp keeps every odd-position char (= the high nibble, b>>4),
# and per-digit character counts over that string are exactly the 16 buckets.
# The registered query posexplodes the feature vector to (dim, value) rows —
# the driver's canonicalizer hashes scalar cells only, so no array<> column
# may reach it (r9 verdict: the array output crashed its pandas sort path).
_HEX_DIGITS = "0123456789ABCDEF"


@register(
    "q44_media_features",
    oracle=f"""
    WITH m AS (
      SELECT media_id, kind, CAST(octet_length(payload) AS INT) AS n_bytes,
             regexp_replace(hex(payload), '(.).', '\\1', 'g') AS hi
      FROM read_parquet('{FX}/media.parquet')
    ),
    d AS (SELECT CAST(unnest(range(16)) AS INT) AS dim)
    SELECT m.media_id, m.kind, m.n_bytes, d.dim,
           CASE WHEN m.n_bytes = 0 THEN 0.0
                ELSE CAST(length(hi) - length(replace(hi,
                          substring('{_HEX_DIGITS}', d.dim + 1, 1), '')) AS DOUBLE)
                     / m.n_bytes END AS value
    FROM m, d
    """,
    doc="Arrow-batched byte-histogram featurizer (stand-in encoder stage), "
    "exploded to (dim, value) rows for scalar-only output",
    tags=("multimodal", "llm", "mapInPandas"),
)
def q44_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = extract_features(_media(spark))
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.posexplode("features").alias("dim", "value"),
    )


# ---------------------------------------------------------------------------
# q74 — video frame sampling (1 row → k rows, the fan-out shape of a real
# frame extractor). The Spark side runs the REAL mapInPandas stage
# (operators/media.py:sample_frames — byte-window slicing standing in for
# frame decode) and hex-encodes the emitted frames for the compare;
# the oracle recomputes every offset and slices the hex rendering of the
# payload directly (DuckDB 1.0 has no BLOB substring, but hex doubles
# offsets losslessly: byte [o, o+64) == hex chars [2o+1, 2o+128]).

_FRAME_N, _FRAME_BYTES = 4, 64


@register(
    "q74_frame_samples",
    oracle=f"""
    WITH v AS (
      SELECT media_id, hex(payload) AS hx, octet_length(payload) AS n
      FROM read_parquet('{FX}/media.parquet')
      WHERE kind = 'video' AND octet_length(payload) > 0
    ),
    idx AS (SELECT unnest(range(0, {_FRAME_N})) AS i),
    f AS (
      SELECT v.media_id, CAST(idx.i AS INT) AS frame_idx,
             least(idx.i * greatest(1, n // {_FRAME_N}), greatest(0, n - 1)) AS off,
             v.hx
      FROM v, idx
    )
    SELECT media_id, frame_idx,
           substring(hx, CAST(off * 2 + 1 AS BIGINT), {_FRAME_BYTES * 2}) AS frame_hex
    FROM f
    """,
    doc="video frame sampling fan-out (mapInPandas, 1 row -> k frames)",
    tags=("multimodal", "llm", "mapInPandas"),
)
def q74_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.media import sample_frames

    frames = sample_frames(_media(spark), n_frames=_FRAME_N, frame_bytes=_FRAME_BYTES)
    return frames.select(
        "media_id", "frame_idx", F.hex("frame_bytes").alias("frame_hex")
    )


# ---------------------------------------------------------------------------
# q148 — aspect-ratio bucketing for image batches: the multimodal
# counterpart of q118's sequence-length buckets. Vision trainers batch
# images of like aspect ratio to a shared canvas (resize within a
# bucket, never across), so the bucketing decision — nearest canonical
# ratio, integer arithmetic only — is a first-order throughput knob.
# Map-only scoring + a bounded-domain aggregate (|canonical ratios|
# rows); the nearest-bucket argmin is unrolled as a CASE chain over the
# fixed ratio list in both engines (integer |Δ| comparisons,
# deterministic smaller-ratio tie-break), so no float ever appears.

ASPECT_BUCKETS = (500, 750, 1000, 1333, 2000)  # ratio * 1000: 1:2 .. 2:1


def _nearest_bucket_spark(r):
    expr = None
    best = F.lit(ASPECT_BUCKETS[0])
    bestd = F.abs(r - ASPECT_BUCKETS[0])
    for b in ASPECT_BUCKETS[1:]:
        d = F.abs(r - b)
        better = d < bestd
        best = F.when(better, F.lit(b)).otherwise(best)
        bestd = F.when(better, d).otherwise(bestd)
    return best


def _nearest_bucket_duck(r: str) -> str:
    best, bestd = str(ASPECT_BUCKETS[0]), f"abs({r} - {ASPECT_BUCKETS[0]})"
    for b in ASPECT_BUCKETS[1:]:
        d = f"abs({r} - {b})"
        best = f"CASE WHEN {d} < {bestd} THEN {b} ELSE {best} END"
        bestd = f"CASE WHEN {d} < {bestd} THEN {d} ELSE {bestd} END"
    return best


@register(
    "q148_aspect_ratio_buckets",
    oracle=f"""
    WITH img AS (
      SELECT media_id, width, height,
             (1000 * width) // height AS ratio_millis
      FROM read_parquet('{FX}/media.parquet')
      WHERE kind = 'image' AND height > 0
    ),
    b AS (
      SELECT media_id, width, height, ratio_millis,
             {_nearest_bucket_duck('ratio_millis')} AS bucket
      FROM img
    )
    SELECT CAST(bucket AS BIGINT) AS bucket_ratio_millis,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(sum(width * height) AS BIGINT) AS total_px,
           CAST(min(ratio_millis) AS BIGINT) AS min_ratio,
           CAST(max(ratio_millis) AS BIGINT) AS max_ratio,
           CAST(sum(abs(ratio_millis - bucket)) AS BIGINT) AS distortion_millis
    FROM b GROUP BY bucket
    """,
    doc="aspect-ratio bucketing for image batching: integer nearest-"
    "canonical-ratio assignment (CASE-chain argmin, no floats), "
    "map-only + bounded-domain aggregate; distortion = resize stretch",
    tags=("multimodal", "llm", "A4"),
)
def q148_aspect_ratio_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media(spark).filter((F.col("kind") == "image") & (F.col("height") > 0))
    r = F.expr("(1000 * width) div height")
    img = m.select(
        "media_id", "width", "height", r.alias("ratio_millis")
    ).withColumn("bucket", _nearest_bucket_spark(F.col("ratio_millis")))
    return img.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_images"),
        F.sum(F.col("width").cast("bigint") * F.col("height")).alias("total_px"),
        F.min("ratio_millis").cast("bigint").alias("min_ratio"),
        F.max("ratio_millis").cast("bigint").alias("max_ratio"),
        F.sum(F.abs(F.col("ratio_millis") - F.col("bucket"))).cast("bigint").alias(
            "distortion_millis"
        ),
    ).select(
        F.col("bucket").cast("bigint").alias("bucket_ratio_millis"),
        "n_images", "total_px", "min_ratio", "max_ratio", "distortion_millis",
    )


# ---------------------------------------------------------------------------
# q160 — exact media dedup by payload digest: the multimodal counterpart
# of q22 (byte-identical images/audio re-crawled under different ids —
# the single highest-volume waste in scraped media corpora). sha256 over
# the binary column's hex encoding (DuckDB's sha256 is VARCHAR-only;
# hex() is uppercase in both engines) + one hash-groupBy; the digest keys are uniform so
# the shuffle self-balances at any scale, and payload bytes stream
# through the hash without ever being collected. Keeper = lowest
# media_id; per-group byte savings ride along for the storage report.

@register(
    "q160_media_exact_dedup",
    oracle=f"""
    SELECT sha256(hex(payload)) AS digest,
           CAST(min(media_id) AS BIGINT) AS keeper_media_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(max(octet_length(payload)) AS BIGINT) AS payload_bytes,
           CAST((count(*) - 1) * max(octet_length(payload)) AS BIGINT)
             AS reclaimable_bytes
    FROM read_parquet('{FX}/media.parquet')
    GROUP BY 1
    """,
    doc="exact media dedup: sha256(payload) hash-groupBy keep-first, "
    "uniform digest shuffle, byte-savings accounting",
    tags=("multimodal", "llm", "dedup"),
)
def q160_media_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media(spark)
    return (
        m.select(F.sha2(F.hex("payload"), 256).alias("digest"), "media_id",
                 F.octet_length("payload").alias("nb"))
        .groupBy("digest")
        .agg(
            F.min("media_id").cast("bigint").alias("keeper_media_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.max("nb").cast("bigint").alias("payload_bytes"),
            ((F.count(F.lit(1)) - 1) * F.max("nb")).cast("bigint").alias(
                "reclaimable_bytes"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q222/q223 — decode-from-bytes vs declared-metadata cross-checks. The
# fixture payloads are REAL encodings (tools/media_encoders) whose
# width/height/duration_ms columns were written from the same pixels/
# frames, so the two sides of the compare travel genuinely independent
# paths: Spark DECODES the binary column (operators/media.py stdlib
# decoders — BMP/PPM/PNG/baseline-JPEG, 16-bit WAV) inside an
# Arrow-batched mapInPandas stage, while the oracle only reads the
# declared metadata columns. Any decoder regression, schema drift, or
# corrupt payload breaks the match. Scale notes: the payload column is
# column-pruned into the Python stage and never shuffled (map-only; no
# exchange in the plan); at 100 TB the same stage runs with an injected
# native codec — the plumbing, batch shape, and audit contract are
# identical.


@register(
    "q222_image_decode_audit",
    oracle=f"""
    SELECT media_id, format,
           format <> 'webp' AS decode_ok,
           CASE WHEN format <> 'webp'
                THEN CAST(width AS INT) END AS decoded_width,
           CASE WHEN format <> 'webp'
                THEN CAST(height AS INT) END AS decoded_height
    FROM read_parquet('{FX}/media.parquet')
    WHERE kind = 'image'
    """,
    doc="image decode audit: stdlib decode of every BMP/PPM/PNG (incl. "
    "Adam7, r10)/JPEG/lossless-WebP (VP8L, r11) payload in mapInPandas; "
    "dimensions must match declared metadata; unsupported-but-valid "
    "formats (lossy-VP8 WebP) surface as decode_ok=false rows, never a "
    "crash",
    tags=("multimodal", "llm", "mapInPandas"),
)
def q222_image_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.media import decode_image

    m = (
        _media(spark)
        .filter(F.col("kind") == "image")
        .select("media_id", "format", "payload")
    )

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for mid, fmt, payload in zip(
                pdf["media_id"], pdf["format"], pdf["payload"]
            ):
                # NotImplementedError = recognized-but-unsupported
                # format: an audit row, not a pipeline crash.
                # ValueError (corrupt stream) still raises — silent
                # tolerance of corruption is how wrong pixels ship.
                try:
                    img = decode_image(bytes(payload))
                except NotImplementedError:
                    out.append((mid, fmt, False, None, None))
                else:
                    out.append((mid, fmt, True, img.width, img.height))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "format", "decode_ok",
                    "decoded_width", "decoded_height",
                ],
            )

    return m.mapInPandas(
        decode,
        "media_id bigint, format string, decode_ok boolean, "
        "decoded_width int, decoded_height int",
    )


@register(
    "q223_audio_decode_audit",
    oracle=f"""
    SELECT media_id,
           CAST(duration_ms AS BIGINT) AS decoded_duration_ms
    FROM read_parquet('{FX}/media.parquet')
    WHERE kind = 'audio'
    """,
    doc="audio decode audit: stdlib 16-bit PCM WAV decode in mapInPandas; "
    "frame-count duration must match declared metadata",
    tags=("multimodal", "llm", "mapInPandas"),
)
def q223_audio_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.media import decode_audio

    m = (
        _media(spark)
        .filter(F.col("kind") == "audio")
        .select("media_id", "payload")
    )

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                au = decode_audio(bytes(payload))
                n_frames = len(au.samples) // au.n_channels
                out.append((mid, n_frames * 1000 // au.sample_rate))
            yield pd.DataFrame(
                out, columns=["media_id", "decoded_duration_ms"]
            )

    return m.mapInPandas(decode, "media_id bigint, decoded_duration_ms bigint")


# ---------------------------------------------------------------------------
# q224 — perceptual image near-dup. Exact media dedup (q160) hashes the
# BYTES, so a photo re-saved as PNG, a JPEG round-trip, or a brightness
# tweak all slip through — and those are precisely the duplicates a
# multimodal training corpus actually contains. dHash closes the gap:
# decode → 64-bit difference hash (operators/media.py dhash, exact
# integer box filter) inside the same Arrow-batched mapInPandas stage
# the decode audits use, then find pairs within Hamming ≤ 7 WITHOUT an
# all-pairs compare: split each hash into 8 bands of 8 bits and
# equi-join on (band, value) — pigeonhole guarantees any pair ≤ 7 bits
# apart collides on at least one intact band, so band-join recall is
# exactly 1 and the Spark result equals the oracle's quadratic
# self-join. Scale notes: payloads are column-pruned into the Python
# stage and never shuffled (the hash projection is 16 bytes/row); the
# band join is a hash-partitioned equi-join whose fan-out is bounded by
# bucket occupancy, the MinHash-LSH shape (dedup_queries.py q24) applied
# to pixels. The fixture's dhash column is generation-time metadata
# (written from the same decoded pixels, asserted in
# tools/gen_fixtures.py) — the QUERY derives everything from the binary
# payload.


@register(
    "q224_image_phash_neardup",
    oracle=f"""
    WITH img AS (
        SELECT media_id, format, dhash
        FROM read_parquet('{FX}/media.parquet')
        WHERE kind = 'image'
    )
    SELECT a.media_id AS a_id,
           b.media_id AS b_id,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming,
           a.format AS a_format,
           b.format AS b_format
    FROM img a
    JOIN img b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 7
    """,
    doc="perceptual image near-dup: decode + dHash in mapInPandas, "
    "8x8-bit Hamming band join (recall 1 for T<=7 by pigeonhole); "
    "catches cross-format re-encodes exact dedup misses",
    tags=("multimodal", "dedup", "llm", "mapInPandas"),
)
def q224_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _phash_pairs(spark)


def _image_dhash(spark: SparkSession) -> DataFrame:
    """The (media_id, format, dhash) substrate: decode + perceptual hash
    of every image, memoized per (session, fixtures dir).  Factored out
    of :func:`_phash_pairs` so the bench can time the build as its own
    named entry (r13 verdict ask #1 — substrate costs must be visible,
    not folded into whichever consumer runs first)."""
    from ..operators.media import decode_image, dhash

    imgs = (
        _media(spark)
        .filter(F.col("kind") == "image")
        .select("media_id", "format", "payload")
    )

    def hash_batch(batches):
        import pandas as pd

        def safe_dhash(p):
            # unsupported-but-valid formats (the WebP seam fixture)
            # carry no perceptual hash and simply can't near-dup;
            # corrupt streams (ValueError) still raise
            try:
                return dhash(decode_image(bytes(p)))
            except NotImplementedError:
                return None

        for pdf in batches:
            hashes = [safe_dhash(p) for p in pdf["payload"]]
            keep = [h is not None for h in hashes]
            # build from filtered lists, NOT a notna() mask on a mixed
            # column: None would coerce the int64 hashes to float64 and
            # corrupt any value above 2^53
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"][keep].to_numpy(),
                    "format": pdf["format"][keep].to_numpy(),
                    "dhash": pd.Series(
                        [h for h in hashes if h is not None], dtype="int64"
                    ),
                }
            )

    # memoize the hash substrate per (session, fixtures dir): the band
    # table feeds BOTH sides of the self-join (without a cut point Spark
    # re-runs the decode stage per branch), and THREE queries consume it
    # (q224 pairs, q226 canonical clusters, q264 pair-dedup verdict) —
    # one decode pass per session instead of one per consumer, the same
    # materialize-once treatment as the text-side shingle/pair tables.
    def build() -> DataFrame:
        return imgs.mapInPandas(
            hash_batch, "media_id bigint, format string, dhash bigint"
        )

    return memo_substrate(spark, "image_dhash", FX, build)


def _phash_pairs(spark: SparkSession) -> DataFrame:
    """Shared dHash-band-join pair finder (q224's body; q226 composes it
    with connected components, q264 joins it to caption Jaccard)."""
    hashed = _image_dhash(spark)

    bands = hashed.select(
        "media_id",
        "format",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        (
                            F.shiftrightunsigned(F.col("dhash"), 8 * i)
                            .bitwiseAND(F.lit(255))
                        ).alias("band_val"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("band"),
    ).select(
        "media_id", "format", "dhash",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_val").alias("band_val"),
    )

    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.media_id") < F.col("b.media_id"),
            ],
        )
        .select(
            F.col("a.media_id").alias("a_id"),
            F.col("b.media_id").alias("b_id"),
            F.bit_count(
                F.col("a.dhash").bitwiseXOR(F.col("b.dhash"))
            ).cast("bigint").alias("hamming"),
            F.col("a.format").alias("a_format"),
            F.col("b.format").alias("b_format"),
        )
        .filter(F.col("hamming") <= 7)
        .distinct()
    )
    return pairs


@register(
    "q225_audio_envelope_neardup",
    oracle=f"""
    WITH aud AS (
        SELECT media_id, ahash
        FROM read_parquet('{FX}/media.parquet')
        WHERE kind = 'audio'
    )
    SELECT a.media_id AS a_id,
           b.media_id AS b_id,
           CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
    FROM aud a
    JOIN aud b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
    """,
    doc="perceptual audio near-dup: PCM decode + 32-bit energy-envelope "
    "hash in mapInPandas, 4x8-bit Hamming band join (recall 1 for T<=3 "
    "by pigeonhole); catches re-gained/stereo-upmixed copies exact "
    "dedup misses",
    tags=("multimodal", "dedup", "llm", "mapInPandas"),
)
def q225_audio_envelope_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio analog of q224 (same band-join scale shape, see the q224
    module comment): the envelope hash (operators/media.py
    envelope_hash — exact-integer loudness staircase over 33 windows)
    is invariant to uniform gain and channel upmix, so half-volume or
    mono→stereo copies whose bytes and digests differ all land at
    Hamming 0-3; the 4-band equi-join finds every such pair without an
    all-pairs compare and matches the oracle's quadratic self-join
    bit-for-bit. Payloads never cross a shuffle — the Python stage
    projects to (media_id, ahash) before the join."""
    from ..operators.media import decode_audio, envelope_hash

    auds = (
        _media(spark)
        .filter(F.col("kind") == "audio")
        .select("media_id", "payload")
    )

    def hash_batch(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ahash": [
                        envelope_hash(decode_audio(bytes(p)))
                        for p in pdf["payload"]
                    ],
                }
            )

    # single decode pass for both self-join branches (see q224)
    hashed = materialize(
        auds.mapInPandas(hash_batch, "media_id bigint, ahash bigint"),
        "q225_ahash",
    )

    bands = hashed.select(
        "media_id",
        "ahash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        (
                            F.shiftrightunsigned(F.col("ahash"), 8 * i)
                            .bitwiseAND(F.lit(255))
                        ).alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select(
        "media_id", "ahash",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_val").alias("band_val"),
    )

    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.media_id") < F.col("b.media_id"),
            ],
        )
        .select(
            F.col("a.media_id").alias("a_id"),
            F.col("b.media_id").alias("b_id"),
            F.bit_count(
                F.col("a.ahash").bitwiseXOR(F.col("b.ahash"))
            ).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


# ---------------------------------------------------------------------------
# q226 — canonical media catalog: the actionable end of perceptual
# dedup. q224 emits near-dup PAIRS; a curation pipeline needs the
# KEEP-LIST — one canonical image per perceptual cluster plus how many
# bytes deduplication reclaims (the multimodal analog of q146's
# canonical documents). Clusters come from pointer-doubling connected
# components over the pair edges (operators/graph.py — rounds run to
# the probed fixpoint, durable per-round substrates); the oracle
# recomputes the FULL transitive closure with a recursive CTE, so a
# wrongly split cluster fails loudly. Scale
# shape: edges are bounded by band-bucket occupancy (q224), components
# by family size; the per-cluster aggregate shuffles 16-byte rows, and
# payload bytes enter only as octet_length computed inside the scan
# projection.


@register(
    "q226_canonical_media",
    oracle=f"""
    WITH RECURSIVE img AS (
        SELECT media_id, format, dhash, octet_length(payload) AS nb
        FROM read_parquet('{FX}/media.parquet')
        WHERE kind = 'image'
    ),
    pairs AS (
        SELECT a.media_id AS u, b.media_id AS v
        FROM img a JOIN img b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.dhash, b.dhash)) <= 7
    ),
    edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
    walk(src, dst) AS (
        SELECT media_id, media_id FROM img
        UNION
        SELECT w.src, e.v FROM walk w JOIN edges e ON w.dst = e.u
    ),
    labels AS (
        SELECT src AS media_id, min(dst) AS cluster_id FROM walk GROUP BY src
    ),
    agg AS (
        SELECT l.cluster_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(count(DISTINCT i.format) AS BIGINT) AS n_formats,
               CAST(sum(i.nb) AS BIGINT) AS total_bytes
        FROM labels l JOIN img i USING (media_id)
        GROUP BY l.cluster_id
    )
    SELECT a.cluster_id, a.n_members, a.n_formats, a.total_bytes,
           CAST(a.total_bytes - k.nb AS BIGINT) AS reclaimable_bytes
    FROM agg a JOIN img k ON k.media_id = a.cluster_id
    """,
    doc="canonical image per perceptual cluster (CC over dHash pairs) "
    "with member/format counts and reclaimable bytes — the multimodal "
    "dedup keep-list",
    tags=("multimodal", "dedup", "llm", "graph"),
)
def q226_canonical_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    meta = (
        _media(spark)
        .filter(F.col("kind") == "image")
        .select("media_id", "format", F.octet_length("payload").alias("nb"))
    )
    pairs = _phash_pairs(spark)
    cc = connected_components(
        meta.select(F.col("media_id").alias("id")),
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")),
        scratch_prefix="q226cc",
    )
    agg = (
        cc.join(meta, cc.id == meta.media_id)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.countDistinct("format").cast("bigint").alias("n_formats"),
            F.sum("nb").cast("bigint").alias("total_bytes"),
        )
    )
    keeper = meta.select(
        F.col("media_id").alias("cluster_id"), F.col("nb").alias("keeper_nb")
    )
    return (
        agg.join(keeper, "cluster_id")
        .select(
            "cluster_id",
            "n_members",
            "n_formats",
            "total_bytes",
            (F.col("total_bytes") - F.col("keeper_nb"))
            .cast("bigint")
            .alias("reclaimable_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# q254 — media shard packing: lay multimodal payloads out into byte-
# budgeted training shards (the webdataset/tfrecord shard-building
# step: a trainer streams ~fixed-size shard files, so the layout
# planner must assign every blob a (shard, offset) before any byte
# moves).  Placement is deterministic: blobs hash into N_PACK_BUCKETS
# independent pack streams (bucket = writer parallelism — production
# uses one bucket per output writer), are ordered inside the bucket by
# the same hash (a reproducible shuffle, q115's convention), and the
# running byte offset assigns shard = floor(cum_before / SHARD_BYTES),
# offset = cum_before % SHARD_BYTES.  Byte-offset splitting (a blob may
# straddle a boundary, carried by the index) is the tar-stream/indexed-
# shard model; budget-respecting first-fit would need a sequential scan
# that cannot be a prefix sum.
#
# Scale shape: one exchange on the bucket key; the running sum is a
# window WITHIN a bucket — the bucket count is the parallelism knob
# (at 100 TB: tens of thousands of buckets, one per writer, each
# window writer-stream-sized).  Everything else is map-side; the
# payload bytes themselves never shuffle (plan-asserted for this
# module: binary columns stay out of exchanges — only octet lengths
# travel).

N_PACK_BUCKETS = 8
SHARD_BYTES = 32768

from .dedup_queries import _duck_md5_int as _q254_duck_md5  # noqa: E402

_DUCK_SHARD_HV = _q254_duck_md5("'shard:' || CAST(media_id AS VARCHAR)")


@register(
    "q254_media_shard_pack",
    oracle=f"""
    WITH h AS (
      SELECT media_id, octet_length(payload) AS n_bytes,
             {{hv}} AS hv
      FROM read_parquet('{{FX}}/media.parquet')
    ),
    b AS (
      SELECT media_id, n_bytes, hv, hv % {N_PACK_BUCKETS} AS bucket FROM h
    ),
    packed AS (
      SELECT media_id, bucket, n_bytes,
             coalesce(sum(n_bytes) OVER (
               PARTITION BY bucket ORDER BY hv, media_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM b
    )
    SELECT media_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(cum_before // {SHARD_BYTES} AS BIGINT) AS shard_idx,
           CAST(cum_before % {SHARD_BYTES} AS BIGINT) AS offset_bytes
    FROM packed
    """.format(
        hv=_DUCK_SHARD_HV, FX=FX
    ),
    doc="webdataset-style shard layout for media blobs: hash-bucketed "
    "pack streams, reproducible in-bucket order, byte-offset shard/"
    "offset assignment; payload bytes never shuffle",
    tags=("multimodal", "llm", "layout"),
)
def q254_media_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup_queries import _md5_int

    m = _media(spark).select(
        "media_id", F.length("payload").cast("bigint").alias("n_bytes")
    )
    hv = _md5_int(F.concat(F.lit("shard:"), F.col("media_id").cast("string")))
    b = m.select(
        "media_id", "n_bytes", hv.alias("hv"), (hv % N_PACK_BUCKETS).alias("bucket")
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("hv", "media_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = b.withColumn(
        "cum_before", F.coalesce(F.sum("n_bytes").over(w), F.lit(0))
    )
    return packed.select(
        "media_id",
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_bytes",
        F.expr(f"cum_before div {SHARD_BYTES}").alias("shard_idx"),
        (F.col("cum_before") % SHARD_BYTES).cast("bigint").alias("offset_bytes"),
    )


# ---------------------------------------------------------------------------
# q261/q262 — the resize/resample legs of the builder brief's multimodal
# surface (decode ✓ q222/q223, feature-extract ✓ q44/q224/q225,
# frame-sample ✓ q74 — resize/resample close the list).  Both run the
# REAL pixel/PCM math: an exact-integer area-average box filter
# (operators/media.py thumbnail / resample_audio) over the decoded
# payload inside the same Arrow-batched mapInPandas stage as the decode
# audits, reduced to a position-weighted checksum so the output schema
# stays scalar.  The fixture's thumb_*/rs4k_* columns are stamped at
# generation time from the same all-integer derivation
# (tools/gen_fixtures.py _stamp_media_dhash), so the oracle reads
# metadata while Spark re-derives everything from the binary column —
# any decoder, kernel, or rounding regression breaks the match.  Scale
# notes: payloads are column-pruned into the Python stage and never
# shuffled (map-only, no exchange); at 100 TB the box filter is the
# per-core work a GPU/native preprocessing stage replaces, with the
# same schema, batch shape, and partitioning.


@register(
    "q261_image_thumbnail_audit",
    oracle=f"""
    SELECT media_id, format,
           format <> 'webp' AS decode_ok,
           CAST(thumb_w AS INT) AS thumb_w,
           CAST(thumb_h AS INT) AS thumb_h,
           CAST(thumb_checksum AS BIGINT) AS thumb_checksum
    FROM read_parquet('{FX}/media.parquet')
    WHERE kind = 'image'
    """,
    doc="image thumbnail audit: decode + exact-integer area-average "
    "16-box resize (aspect preserved) in mapInPandas, reduced to a "
    "position-weighted pixel checksum; the resize leg of the multimodal "
    "preprocessing surface — lossy-VP8 WebP reports decode_ok=false, "
    "never a crash",
    tags=("multimodal", "llm", "mapInPandas"),
)
def q261_image_thumbnail_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.media import decode_image, pixel_checksum, thumbnail

    m = (
        _media(spark)
        .filter(F.col("kind") == "image")
        .select("media_id", "format", "payload")
    )

    def resize(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for mid, fmt, payload in zip(
                pdf["media_id"], pdf["format"], pdf["payload"]
            ):
                # NotImplementedError = recognized-but-unsupported
                # format (audit row); ValueError (corruption) raises.
                try:
                    img = decode_image(bytes(payload))
                except NotImplementedError:
                    out.append((mid, fmt, False, None, None, None))
                else:
                    th = thumbnail(img, 16)
                    out.append(
                        (mid, fmt, True, th.width, th.height,
                         pixel_checksum(th))
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "format", "decode_ok",
                    "thumb_w", "thumb_h", "thumb_checksum",
                ],
            )

    return m.mapInPandas(
        resize,
        "media_id bigint, format string, decode_ok boolean, "
        "thumb_w int, thumb_h int, thumb_checksum bigint",
    )


@register(
    "q262_audio_resample_audit",
    oracle=f"""
    SELECT media_id,
           CAST(rs4k_frames AS BIGINT) AS rs4k_frames,
           CAST(rs4k_checksum AS BIGINT) AS rs4k_checksum
    FROM read_parquet('{FX}/media.parquet')
    WHERE kind = 'audio'
    """,
    doc="audio resample audit: PCM decode + exact-integer area-average "
    "resample to 4 kHz (channels preserved) in mapInPandas, reduced to "
    "a position-weighted sample checksum; the rate-normalization leg of "
    "the multimodal preprocessing surface",
    tags=("multimodal", "llm", "mapInPandas"),
)
def q262_audio_resample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.media import decode_audio, pcm_checksum, resample_audio

    m = (
        _media(spark)
        .filter(F.col("kind") == "audio")
        .select("media_id", "payload")
    )

    def resample(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rs = resample_audio(decode_audio(bytes(payload)), 4000)
                out.append(
                    (mid, len(rs.samples) // rs.n_channels, pcm_checksum(rs))
                )
            yield pd.DataFrame(
                out, columns=["media_id", "rs4k_frames", "rs4k_checksum"]
            )

    return m.mapInPandas(
        resample, "media_id bigint, rs4k_frames bigint, rs4k_checksum bigint"
    )


# ---------------------------------------------------------------------------
# q263 — video container parsing, the modality leg that was still opaque
# bytes.  Fixture videos now carry a REAL ISO BMFF box tree
# (tools/media_encoders.py mp4_encode: ftyp + moov{mvhd, trak{tkhd,
# mdia{mdhd, hdlr}}} + mdat) whose mvhd duration equals the declared
# duration_ms column by construction; the codec bitstream inside mdat
# stays the injected-decoder seam, exactly like compressed audio.  The
# Spark side WALKS THE BOX TREE from the binary column
# (operators/media.py parse_mp4) in the same Arrow-batched mapInPandas
# stage as the other decode audits; the oracle recomputes every output
# from metadata + octet_length — every pre-mdat box has a fixed size, so
# mdat_bytes is octet_length(payload) - MP4_OVERHEAD exactly, with no
# generation-time stamp needed.  A parsed duration that disagrees with
# the metadata column, a wrong track count, or a mis-walked box tree all
# break the hash.  Scale notes: map-only, payload column-pruned into the
# Python stage, never shuffled; container parsing touches ~300 header
# bytes per blob regardless of payload size, so the stage is scan-bound
# at any corpus scale.

#: fixed pre-``mdat`` byte count of the fixture encoder's box tree
#: (ftyp 24 + moov header 8 + mvhd 108 + trak{tkhd 92, mdia{mdhd 32,
#: hdlr 41} + headers} + mdat header 8); pinned here rather than
#: imported from the fixture tooling so the engine package has no
#: dependency on ``tools/`` — tests/test_multimodal.py asserts it
#: equals ``len(mp4_encode(b"", d))`` for the shipped encoder.
_MP4_OVERHEAD = 329


@register(
    "q263_video_container_audit",
    oracle=f"""
    SELECT media_id,
           CAST(duration_ms AS BIGINT) AS parsed_duration_ms,
           CAST(1 AS BIGINT) AS n_tracks,
           CAST('vide' AS VARCHAR) AS handlers,
           CAST(octet_length(payload) - {{ovh}} AS BIGINT) AS mdat_bytes
    FROM read_parquet('{FX}/media.parquet')
    WHERE kind = 'video'
    """.format(ovh=_MP4_OVERHEAD, FX=FX),
    doc="video container audit: ISO BMFF box-tree walk (ftyp/moov/mvhd/"
    "trak/mdia/hdlr/mdat) from the binary payload in mapInPandas; "
    "parsed mvhd duration must equal declared metadata, mdat size "
    "reconciles against octet_length minus the fixed header overhead — "
    "codec bitstream decode stays the injected-decoder seam",
    tags=("multimodal", "llm", "mapInPandas"),
)
def q263_video_container_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.media import parse_mp4

    m = (
        _media(spark)
        .filter(F.col("kind") == "video")
        .select("media_id", "payload")
    )

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                info = parse_mp4(bytes(payload))
                out.append(
                    (mid, info.duration_ms, info.n_tracks,
                     ",".join(info.handlers), info.mdat_bytes)
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "parsed_duration_ms", "n_tracks",
                    "handlers", "mdat_bytes",
                ],
            )

    return m.mapInPandas(
        parse,
        "media_id bigint, parsed_duration_ms bigint, n_tracks bigint, "
        "handlers string, mdat_bytes bigint",
    )


# ---------------------------------------------------------------------------
# q264 — image-TEXT PAIR dedup, the verdict a paired multimodal corpus
# (image+caption training pairs, q43's shape) actually needs: two pairs
# are duplicates when the images are perceptual near-dups AND the
# captions are lexical near-dups — a re-encoded image under a rewritten
# caption is a fresh training signal, and an identical caption on an
# unrelated image is ordinary boilerplate, so each modality alone
# over-flags.  Composition: the q224 dHash band-join supplies the image
# pair candidates (pigeonhole recall 1 at T<=7, never O(n^2)); caption
# word-trigram Jaccard is then computed ONLY for those pairs — the
# caption-side work is candidate-OUTPUT-sized, with doc shingle sets
# semi-join-restricted to the docs the pairs touch.  Exact integer
# cross-multiplied threshold (jaccard >= 1/2 iff 3*shared >= na+nb), no
# division.  The oracle recomputes both modalities quadratically
# (dhash metadata self-join x unrestricted trigram sets) — collapsing
# either side of the composition breaks the hash.  Scale notes: the
# image side is the q224 band join; the caption side touches
# |pairs| x doc-shingles rows, both bounded by candidate output, and
# payload bytes never cross a shuffle (the dHash projection is 16
# bytes/row).


@register(
    "q264_pair_dedup_verdict",
    oracle=f"""
    WITH img AS (
        SELECT media_id, doc_id, dhash
        FROM read_parquet('{FX}/media.parquet')
        WHERE kind = 'image' AND dhash IS NOT NULL
    ),
    prs AS (
        SELECT a.media_id AS a_id, b.media_id AS b_id,
               a.doc_id AS a_doc, b.doc_id AS b_doc,
               CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        FROM img a
        JOIN img b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.dhash, b.dhash)) <= 7
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        FROM tok
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT p.a_id, p.b_id, count(*) AS shared
        FROM prs p
        JOIN sh sa ON sa.doc_id = p.a_doc
        JOIN sh sb ON sb.doc_id = p.b_doc AND sb.sh = sa.sh
        GROUP BY 1, 2
    )
    SELECT p.a_id, p.b_id,
           CAST(p.a_doc AS BIGINT) AS a_doc,
           CAST(p.b_doc AS BIGINT) AS b_doc,
           p.hamming,
           CAST(coalesce(i.shared, 0) AS BIGINT) AS shared_trigrams,
           CAST(coalesce(sa.n, 0) + coalesce(sb.n, 0) - coalesce(i.shared, 0)
                AS BIGINT) AS union_trigrams,
           CAST(CASE WHEN coalesce(sa.n, 0) + coalesce(sb.n, 0) > 0
                      AND 3 * coalesce(i.shared, 0)
                          >= coalesce(sa.n, 0) + coalesce(sb.n, 0)
                     THEN 'pair' ELSE 'image_only' END AS VARCHAR)
             AS dup_class
    FROM prs p
    LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
    LEFT JOIN sizes sa ON sa.doc_id = p.a_doc
    LEFT JOIN sizes sb ON sb.doc_id = p.b_doc
    """,
    doc="image-text PAIR dedup verdict: q224's dHash band-join pairs x "
    "caption word-trigram Jaccard computed only for those pairs "
    "(semi-join-restricted shingle sets, exact cross-multiplied "
    "jaccard >= 1/2); 'pair' = duplicate in BOTH modalities — the "
    "LAION-style paired-corpus dedup rule, candidate-output-sized "
    "caption work",
    tags=("multimodal", "dedup", "llm", "mapInPandas"),
)
def q264_pair_dedup_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import materialize
    from .dedup_queries import _word_trigrams

    pairs = _phash_pairs(spark)
    meta = _media(spark).select("media_id", "doc_id")
    # materialize the doc-annotated pair table ONCE: it feeds three
    # branches (involved-doc semi-join, the trigram-intersection join,
    # the final projection), and without a cut point each branch re-runs
    # the dHash band self-join — the r13 plan audit counted 20 Exchange
    # + 34 BroadcastExchange nodes from the duplication.  The table is
    # candidate-output-sized (never corpus-sized) by the band-join bound.
    p = materialize(
        pairs.select("a_id", "b_id", "hamming")
        .join(
            meta.select(
                F.col("media_id").alias("a_id"), F.col("doc_id").alias("a_doc")
            ),
            "a_id",
        )
        .join(
            meta.select(
                F.col("media_id").alias("b_id"), F.col("doc_id").alias("b_doc")
            ),
            "b_id",
        ),
        "q264_pairs",
    )
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    involved = (
        p.select(F.col("a_doc").alias("doc_id"))
        .union(p.select(F.col("b_doc").alias("doc_id")))
        .distinct()
    )
    # <3-token docs must be dropped BEFORE sequence() (descending-range
    # hazard, dedup_queries.py:115); they contribute n=0 like the oracle
    toks = (
        docs.join(involved, "doc_id", "left_semi")
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 3)
    )
    # one cut point for the shingle set too: it feeds both sides of the
    # intersection join plus the size table (three tokenization passes
    # otherwise); bounded by the docs the candidate pairs touch
    sh = materialize(
        toks.select(
            "doc_id", F.explode(_word_trigrams(F.col("t"))).alias("sh")
        ).distinct(),
        "q264_shingles",
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        p.select("a_id", "b_id", "a_doc", "b_doc")
        .join(
            sh.select(F.col("doc_id").alias("a_doc"), F.col("sh").alias("sh")),
            "a_doc",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("b_doc"), F.col("sh").alias("sh2")
            ).withColumnRenamed("sh2", "sh"),
            ["b_doc", "sh"],
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = F.coalesce(F.col("na"), F.lit(0))
    nb = F.coalesce(F.col("nb"), F.lit(0))
    shared = F.coalesce(F.col("shared"), F.lit(0))
    return (
        p.join(inter, ["a_id", "b_id"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("a_doc"), F.col("n").alias("na")),
            "a_doc",
            "left",
        )
        .join(
            sizes.select(F.col("doc_id").alias("b_doc"), F.col("n").alias("nb")),
            "b_doc",
            "left",
        )
        .select(
            "a_id",
            "b_id",
            F.col("a_doc").cast("bigint").alias("a_doc"),
            F.col("b_doc").cast("bigint").alias("b_doc"),
            "hamming",
            shared.cast("bigint").alias("shared_trigrams"),
            (na + nb - shared).cast("bigint").alias("union_trigrams"),
            F.when(
                ((na + nb) > 0) & (F.lit(3) * shared >= na + nb), F.lit("pair")
            )
            .otherwise(F.lit("image_only"))
            .alias("dup_class"),
        )
    )
