"""Multimodal columns (SURVEY.md brief): image/audio/video as opaque
``binary`` payloads + typed metadata, with decode / feature-extract /
frame-sample as Arrow-batched Python stages.

The payloads are REAL container formats, synthesized deterministically
from documents with SQL-expressible byte math (so the metadata query
keeps a full DuckDB oracle):

- ``image``: binary PPM (P6), 8x6 RGB — 11-byte header + 144 pixel
  bytes derived from md5(text).
- ``audio``: RIFF/WAVE, PCM16 mono 8 kHz, 64 samples — standard
  44-byte header (constant, since the sample count is fixed) + 128
  data bytes derived from md5(text).
- ``video``: headerless stream of 16-byte frames (the md5 digest
  repeated), consumed by the frame sampler.

``mm_decode_features`` decodes pixels/samples with pure NumPy (header
parse, reshape, channel stats, RMS) — no byte-stats fake; PIL/librosa
are simply not needed for these uncompressed formats.  The decode is
checked pixel/sample-level against an independent Python reference in
tests/test_multimodal.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psvm_spark.catalog import load_table
from psvm_spark.registry import query
from psvm_spark.queries._util import scratch_dir

_KINDS = ("image", "audio", "video")

# "P6\n8 6\n255\n" — PPM header for a fixed 8x6 thumbnail.
_PPM_W, _PPM_H = 8, 6
_PPM_HEADER_HEX = b"P6\n8 6\n255\n".hex()
# RIFF/WAVE PCM16 mono 8kHz, 64 samples (128 data bytes): the header is
# a 44-byte constant because every size field is fixed.
_WAV_SR, _WAV_N = 8000, 64
_WAV_HEADER_HEX = (
    b"RIFF"
    + (36 + 2 * _WAV_N).to_bytes(4, "little")
    + b"WAVEfmt "
    + (16).to_bytes(4, "little")
    + (1).to_bytes(2, "little")  # PCM
    + (1).to_bytes(2, "little")  # mono
    + _WAV_SR.to_bytes(4, "little")
    + (2 * _WAV_SR).to_bytes(4, "little")  # byte rate
    + (2).to_bytes(2, "little")  # block align
    + (16).to_bytes(2, "little")  # bits/sample
    + b"data"
    + (2 * _WAV_N).to_bytes(4, "little")
).hex()


def media_codecs():
    """The pure-NumPy decoders ``(decode_ppm, decode_wav)``.

    Call this on the driver and let the executor closure capture the
    result: cloudpickle ships nested functions by value, while a
    module-level function would pickle as a reference to this module,
    which Spark Python workers cannot import (the repo is not on their
    sys.path when the driver runs from another cwd)."""

    def decode_ppm(buf: bytes):
        """Binary PPM (P6, maxval 255) -> (h, w, 3) uint8 array."""
        if buf[:2] != b"P6":
            raise ValueError("not a P6 PPM")
        # header = magic, width, height, maxval — whitespace-separated
        parts, idx = [], 2
        while len(parts) < 3:
            while buf[idx] in b" \t\r\n":
                idx += 1
            start = idx
            while buf[idx] not in b" \t\r\n":
                idx += 1
            parts.append(int(buf[start:idx]))
        idx += 1  # single whitespace after maxval
        w, h, maxval = parts
        if maxval != 255:
            raise ValueError("only maxval=255 supported")
        px = np.frombuffer(buf, dtype=np.uint8, count=w * h * 3, offset=idx)
        return px.reshape(h, w, 3)

    def decode_wav(buf: bytes):
        """RIFF/WAVE PCM16 mono payload -> (sample_rate, int16[n])."""
        if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE payload")
        sr = int.from_bytes(buf[24:28], "little")
        data_size = int.from_bytes(buf[40:44], "little")
        return sr, np.frombuffer(buf, dtype="<i2", count=data_size // 2, offset=44)

    return decode_ppm, decode_wav


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the media fixture: one row per document, kind by
    doc_id%3, payload a real PPM/WAV/frame-stream (see module doc),
    typed metadata struct."""
    d = load_table(spark, sf_dir, "documents")
    kind = F.element_at(F.array(*[F.lit(k) for k in _KINDS]), (F.col("doc_id") % 3 + 1).cast("int"))
    digest = F.md5("text")  # 32 hex chars = 16 payload bytes per repeat
    img = F.concat(
        F.to_binary(F.lit(_PPM_HEADER_HEX), F.lit("hex")),
        F.to_binary(F.repeat(digest, _PPM_W * _PPM_H * 3 // 16), F.lit("hex")),
    )
    wav = F.concat(
        F.to_binary(F.lit(_WAV_HEADER_HEX), F.lit("hex")),
        F.to_binary(F.repeat(digest, 2 * _WAV_N // 16), F.lit("hex")),
    )
    vid = F.to_binary(F.repeat(digest, 12), F.lit("hex"))  # 12 x 16-byte frames
    payload = (
        F.when(kind == "image", img).when(kind == "audio", wav).otherwise(vid)
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            ((F.col("doc_id") % 5 + 1) * 64).cast("int").alias("width"),
            ((F.col("doc_id") % 4 + 1) * 64).cast("int").alias("height"),
            ((F.col("n_chars") * 10).cast("long")).alias("duration_ms"),
        ).alias("meta"),
    )


# --------------------------------------------------------------------------
# Metadata/layout query — fully SQL-oracle'd: the binary synthesis and
# struct metadata round-trip through both engines identically.


@query(
    "mm_metadata_stats",
    oracle=f"""
WITH media AS (
  SELECT doc_id AS media_id,
         ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN from_hex('{_PPM_HEADER_HEX}') || from_hex(repeat(md5(text), {_PPM_W * _PPM_H * 3 // 16}))
           WHEN 1 THEN from_hex('{_WAV_HEADER_HEX}') || from_hex(repeat(md5(text), {2 * _WAV_N // 16}))
           ELSE from_hex(repeat(md5(text), 12))
         END AS payload,
         CAST((doc_id % 5 + 1) * 64 AS INT) AS width,
         n_chars * 10 AS duration_ms
  FROM documents
)
SELECT kind,
       COUNT(*) AS n,
       CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
       CAST(SUM(width) AS DOUBLE) / COUNT(*) AS avg_width,
       CAST(SUM(duration_ms) AS BIGINT) AS total_duration_ms
FROM media
GROUP BY kind
""",
)
def mm_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir)
    return m.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
        (F.sum(F.col("meta.width")).cast("double") / F.count(F.lit(1))).alias("avg_width"),
        F.sum("meta.duration_ms").alias("total_duration_ms"),
    )


def _by(expr: str) -> str:
    """DuckDB: payload byte at data-offset ``expr`` — the synthesized
    payloads repeat the 16-byte md5(text) digest, so byte j is the hex
    pair at position j % 16 of the digest string ``h``."""
    return f"('0x' || substr(h, 2*(({expr})%16)+1, 2))::BIGINT"


def _decode_features_oracle() -> str:
    # Exactness ledger (why round-6 holds cross-engine):
    # - integer byte/channel sums and dyadic PCM16 sums (x = s/2^15,
    #   x*x = s^2/2^30) are EXACT in float64 on both engines, in any
    #   summation order;
    # - only the two std computations (image luma, video bytes) mix
    #   rounded products with order-dependent sums — drift is ~1e-12 on
    #   O(100) values, absorbed by round-6 on pseudo-random digest bytes.
    b3p0, b3p1, b3p2 = _by("3*p+0"), _by("3*p+1"), _by("3*p+2")
    samp = f"{_by('2*i')} + 256*{_by('2*i+1')}"
    n_px = _PPM_W * _PPM_H  # 48
    return f"""
WITH d AS (SELECT doc_id, md5(text) AS h, CAST(doc_id % 3 AS INT) AS k FROM documents),
imgL AS (
  SELECT doc_id AS media_id,
         [{b3p0} FOR p IN generate_series(0, {n_px - 1})] AS c0,
         [{b3p1} FOR p IN generate_series(0, {n_px - 1})] AS c1,
         [{b3p2} FOR p IN generate_series(0, {n_px - 1})] AS c2,
         [2.99e-1*{b3p0} + 5.87e-1*{b3p1} + 1.14e-1*{b3p2}
          FOR p IN generate_series(0, {n_px - 1})] AS luma
  FROM d WHERE k = 0),
imgS AS (
  SELECT media_id, luma,
         CAST(list_sum(c0) AS DOUBLE)/{n_px}e0 AS f0,
         CAST(list_sum(c1) AS DOUBLE)/{n_px}e0 AS f1,
         CAST(list_sum(c2) AS DOUBLE)/{n_px}e0 AS f2,
         list_sum(luma)/{n_px}e0 AS lm
  FROM imgL),
img AS (
  SELECT media_id, 'image' AS kind, round(f0, 6) AS f0, round(f1, 6) AS f1,
         round(f2, 6) AS f2,
         round(sqrt(list_sum([(x - lm)*(x - lm) FOR x IN luma])/{n_px}e0), 6) AS f3
  FROM imgS),
audL AS (
  SELECT doc_id AS media_id,
         [(CASE WHEN {samp} >= 32768 THEN {samp} - 65536 ELSE {samp} END) / 32768e0
          FOR i IN generate_series(0, {_WAV_N - 1})] AS xs
  FROM d WHERE k = 1),
aud AS (
  SELECT media_id, 'audio' AS kind,
         round(list_sum(xs)/{_WAV_N}e0, 6) AS f0,
         round(sqrt(list_sum([x*x FOR x IN xs])/{_WAV_N}e0), 6) AS f1,
         round(list_max([abs(x) FOR x IN xs]), 6) AS f2,
         round({_WAV_SR}e0, 6) AS f3
  FROM audL),
vidL AS (
  SELECT doc_id AS media_id,
         [{_by('j')} FOR j IN generate_series(0, 191)] AS bs
  FROM d WHERE k = 2),
vidS AS (SELECT media_id, bs, CAST(list_sum(bs) AS DOUBLE)/192e0 AS m FROM vidL),
vid AS (
  SELECT media_id, 'video' AS kind,
         round(m, 6) AS f0,
         round(sqrt(list_sum([(b - m)*(b - m) FOR b IN bs])/192e0), 6) AS f1,
         round(CAST(list_min(bs) AS DOUBLE), 6) AS f2,
         round(CAST(list_max(bs) AS DOUBLE), 6) AS f3
  FROM vidS)
SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid
"""


@query("mm_decode_features", oracle=_decode_features_oracle())
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode every payload and emit modality-appropriate features:
    image -> per-channel means + luma std; audio -> sample mean/RMS/peak
    (normalized) + sample rate; video -> byte stats (no codec: the
    stream is already raw frames).  Oracle-EXACT (round 6): DuckDB
    recomputes every feature from the digest hex characters alone (see
    _decode_features_oracle) — a full differential test across the
    binary decode boundary; pixel/sample-level NumPy reference checks
    stay in tests/test_multimodal.py."""
    m = media_table(spark, sf_dir)
    decode_ppm, decode_wav = media_codecs()

    def extract(batches):
        for pdf in batches:
            rows = []
            for mid, kind, buf in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                buf = bytes(buf)
                if kind == "image":
                    px = decode_ppm(buf).astype(np.float64)
                    luma = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
                    feats = [
                        float(px[:, :, 0].mean()),
                        float(px[:, :, 1].mean()),
                        float(px[:, :, 2].mean()),
                        float(luma.std()),
                    ]
                elif kind == "audio":
                    sr, smp = decode_wav(buf)
                    x = smp.astype(np.float64) / 32768.0
                    feats = [
                        float(x.mean()),
                        float(np.sqrt((x * x).mean())),
                        float(np.abs(x).max()),
                        float(sr),
                    ]
                else:
                    a = np.frombuffer(buf, dtype=np.uint8).astype(np.float64)
                    feats = [float(a.mean()), float(a.std()), float(a.min()), float(a.max())]
                rows.append((mid, kind, feats))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "features"])

    out = m.mapInPandas(extract, "media_id long, kind string, features array<double>")
    return out.select(
        "media_id",
        "kind",
        F.round(F.col("features")[0], 6).alias("f0"),
        F.round(F.col("features")[1], 6).alias("f1"),
        F.round(F.col("features")[2], 6).alias("f2"),
        F.round(F.col("features")[3], 6).alias("f3"),
    )


# --------------------------------------------------------------------------
# Frame sampling for "video" payloads: every 16-byte frame, keep each
# k-th, fingerprint per frame.  Oracle-EXACT (round 6): the fixture's
# video payload is the 16-byte md5 digest repeated 12 times, so the
# sampler must see exactly ceil(12/3) = 4 frames, all identical (one
# distinct fingerprint), and the first frame's hex content must equal
# md5(text) — the oracle checks the frame SLICING and the raw CONTENT
# across the binary boundary, while per-frame digest behavior on
# non-repeating streams stays covered in tests/test_multimodal.py.


@query(
    "mm_frame_sample",
    oracle="""
SELECT doc_id AS media_id,
       CAST(4 AS BIGINT) AS n_frames_sampled,
       CAST(1 AS BIGINT) AS n_distinct_frames,
       md5(text) AS first_frame_hex
FROM documents WHERE doc_id % 3 = 2
""",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).filter(F.col("kind") == "video")

    def sample_frames(batches):
        import hashlib

        for pdf in batches:
            out_ids, out_frames, out_digests, out_hex = [], [], [], []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(buf)
                frames = [buf[i : i + 16] for i in range(0, len(buf), 16)]
                for fi in range(0, len(frames), 3):  # every 3rd frame
                    out_ids.append(mid)
                    out_frames.append(fi)
                    out_digests.append(hashlib.md5(frames[fi]).hexdigest())
                    out_hex.append(frames[fi].hex())
            yield pd.DataFrame(
                {
                    "media_id": out_ids,
                    "frame_idx": out_frames,
                    "frame_digest": out_digests,
                    "frame_hex": out_hex,
                }
            )

    out = m.mapInPandas(
        sample_frames,
        "media_id long, frame_idx int, frame_digest string, frame_hex string",
    )
    return out.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames_sampled"),
        F.countDistinct("frame_digest").alias("n_distinct_frames"),
        # min_by, not min: "first frame" = the frame at the smallest
        # sampled index, which on non-repeating streams differs from the
        # lexicographic minimum (ADVICE r6).
        F.expr("min_by(frame_hex, frame_idx)").alias("first_frame_hex"),
    )


# --------------------------------------------------------------------------
# B102 (round 4) — perceptual-hash near-dup detection over DECODED
# image content: the multimodal-to-dedup bridge.  The Spark side runs
# the real pipeline a 100 TB media lake would: Arrow-batched NumPy PPM
# decode -> 48-bit average-hash (integer gray vs integer mean — no
# float anywhere) -> 4x12-bit banded self-join (pigeonhole: any pair
# with hamming <= 3 shares at least one exact band, so recall is
# guaranteed) -> exact popcount verify on candidates only.  Because
# the payload bytes are SQL-expressible md5 byte math, DuckDB can
# recompute the same aHash from hex characters alone — a FULL oracle
# across a binary decode boundary.  At scale the hash relation (8
# bytes/image) would be persisted before the band join; everything
# downstream shuffles 20-byte rows, never pixels.


@query(
    "mm_phash_dedup",
    oracle="""
WITH img AS (
  SELECT doc_id AS media_id, md5(text) AS h
  FROM documents WHERE doc_id % 3 = 0),
gr AS (
  SELECT media_id,
         [('0x' || substr(h, 2*((3*p+0)%16)+1, 2))::BIGINT
          + ('0x' || substr(h, 2*((3*p+1)%16)+1, 2))::BIGINT
          + ('0x' || substr(h, 2*((3*p+2)%16)+1, 2))::BIGINT
          FOR p IN generate_series(0, 47)] AS grays
  FROM img),
st AS (SELECT media_id, grays, list_sum(grays) AS tot FROM gr),
ah AS (
  SELECT media_id,
         CAST(list_sum([CASE WHEN grays[p+1]*48 > tot
                             THEN (CAST(1 AS BIGINT) << p) ELSE 0 END
                        FOR p IN generate_series(0, 47)]) AS BIGINT) AS ahash
  FROM st),
bands AS (
  SELECT media_id, ahash, g.b,
         (ahash >> CAST(12 * g.b AS INT)) & 4095 AS bk
  FROM ah CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) g),
cand AS (
  SELECT DISTINCT x.media_id AS ia, x.ahash AS ha,
                  y.media_id AS ib, y.ahash AS hb
  FROM bands x JOIN bands y
    ON x.b = y.b AND x.bk = y.bk AND x.media_id < y.media_id),
ham AS (SELECT ia, ib, bit_count(xor(ha, hb)) AS hd FROM cand),
pair_stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
         CAST(COALESCE(SUM(CASE WHEN hd <= 3 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_dup_pairs,
         CAST(COALESCE(MIN(hd), -1) AS INT) AS min_hamming
  FROM ham)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ah) AS n_images,
       n_candidate_pairs, n_dup_pairs, min_hamming
FROM pair_stats
""",
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).filter(F.col("kind") == "image").select(
        "media_id", "payload"
    )

    decode_ppm, _ = media_codecs()

    def ahash(batches):
        for pdf in batches:
            ids, hashes = [], []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                try:
                    px = decode_ppm(bytes(buf)).astype(np.int64)
                except (ValueError, IndexError):
                    # Undecodable payload: SKIP the row rather than fail
                    # the whole job — a fixture drift (non-P6 header,
                    # maxval != 255, truncated pixels) then surfaces as
                    # an n_images count discrepancy against the oracle,
                    # a counted diagnosis instead of a job-level crash.
                    continue
                gray = px.sum(axis=2).ravel()  # r+g+b per pixel, exact int
                tot = int(gray.sum())
                bits = 0
                for p, g in enumerate(gray.tolist()):
                    if g * 48 > tot:
                        bits |= 1 << p
                ids.append(int(mid))
                hashes.append(bits)
            yield pd.DataFrame({"media_id": ids, "ahash": hashes})

    h = m.mapInPandas(ahash, "media_id long, ahash long")
    bands = h.select(
        "media_id", "ahash", F.explode(F.expr("sequence(0, 3)")).alias("b")
    ).withColumn("bk", F.expr("(ahash >> cast(12 * b as int)) & 4095"))
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.bk") == F.col("y.bk"))
            & (F.col("x.media_id") < F.col("y.media_id")),
        )
        .select(
            F.col("x.media_id").alias("ia"),
            F.col("x.ahash").alias("ha"),
            F.col("y.media_id").alias("ib"),
            F.col("y.ahash").alias("hb"),
        )
        .distinct()
    )
    ham = cand.select("ia", "ib", F.bit_count(F.expr("ha ^ hb")).alias("hd"))
    pair_stats = ham.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("hd") <= 3, 1).otherwise(0)), F.lit(0)
        ).cast("bigint").alias("n_dup_pairs"),
        F.coalesce(F.min("hd"), F.lit(-1)).cast("int").alias("min_hamming"),
    )
    n_img = h.agg(F.count(F.lit(1)).cast("bigint").alias("n_images"))
    return n_img.crossJoin(pair_stats)


# --------------------------------------------------------------------------
# B193 (round 6) — image RESIZE as Arrow-batched NumPy 2x2 average
# pooling (8x6 -> 4x3 RGB): the downscale step of a thumbnail/feature
# pipeline, on REAL decoded pixels.  Each output channel value is the
# mean of a 2x2 uint8 block — an integer sum divided by 4, exact in
# float64 — so DuckDB reproduces every output pixel from the digest hex
# characters alone and the whole decode -> pool -> flatten path is
# hash-checked.  At scale this runs where the decode runs: mapInPandas
# over the payload column, output is 36 (media_id, pos, px_val) rows per
# image regardless of source resolution.  Output is FLAT scalar rows —
# the round-6 driver sample proved the harness canonicalizer cannot sort
# a top-level array<double> column (VERDICT r6 item 1), so one row per
# output pixel replaces the former px array.


def _resize_oracle() -> str:
    # resized pixel (r, c, ch) = mean of source block rows 2r..2r+1,
    # cols 2c..2c+1; source byte index (y*W + x)*3 + ch cycles the
    # 16-byte digest.  Parallel unnests in one SELECT zip positionally in
    # DuckDB, so pos aligns with the flattened (r, c, ch) term order —
    # the same row-major order NumPy .ravel() emits on the Spark side.
    w = _PPM_W
    terms = []
    for r in range(_PPM_H // 2):
        for c in range(_PPM_W // 2):
            for ch in range(3):
                idx = [
                    ((y * w + x) * 3 + ch) % 16
                    for y in (2 * r, 2 * r + 1)
                    for x in (2 * c, 2 * c + 1)
                ]
                s = " + ".join(
                    f"('0x' || substr(h, {2 * i + 1}, 2))::BIGINT" for i in idx
                )
                terms.append(f"({s}) / 4e0")
    n = len(terms)
    px_list = ",\n    ".join(terms)
    return f"""
SELECT doc_id AS media_id,
       CAST(unnest(range({n})) AS INTEGER) AS pos,
       unnest([{px_list}]) AS px_val
FROM (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 0)
"""


@query("mm_resize_avgpool", oracle=_resize_oracle())
def mm_resize_avgpool(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).filter(F.col("kind") == "image").select(
        "media_id", "payload"
    )

    decode_ppm, _ = media_codecs()

    def pool(batches):
        for pdf in batches:
            ids, poss, vals = [], [], []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                try:
                    px = decode_ppm(bytes(buf)).astype(np.float64)
                except (ValueError, IndexError):
                    continue  # skip-and-count convention (see mm_phash_dedup)
                h, w, _ = px.shape
                pooled = px.reshape(h // 2, 2, w // 2, 2, 3).sum(axis=(1, 3)) / 4.0
                flat = pooled.ravel()
                ids.extend([int(mid)] * flat.size)
                poss.extend(range(flat.size))
                vals.extend(float(v) for v in flat)
            yield pd.DataFrame({"media_id": ids, "pos": poss, "px_val": vals})

    return m.mapInPandas(pool, "media_id long, pos int, px_val double")


# --------------------------------------------------------------------------
# B224 (round 7) — WebDataset shard export: the tar-shard layout
# (Aizman et al., webdataset) that large-scale multimodal training
# loaders stream — members grouped by sample key, payload + a .json
# metadata sidecar per sample, fixed shard count for deterministic
# routing.  Each shard group writes ONE tar via applyInPandas (the
# write lands where the group's rows live — on a cluster this path
# would be a shared/object store, exactly like the repo's other
# tempfile sinks), then REOPENS its own tar and derives the output
# from the read-back members, so the query result proves the
# round-trip.  The oracle reconstructs every member's name and payload
# digest from the documents table with the established payload byte
# math (digests go over lowercase hex strings because DuckDB's md5 is
# VARCHAR-only), aggregated in media_id order — so member naming,
# routing, payload bytes, and ordering are all differentially checked.

_WDS_SHARDS = 8
_WDS_EXT = {"image": "ppm", "audio": "wav", "video": "bin"}


@query(
    "export_webdataset_shards",
    oracle=f"""
WITH media AS (
  SELECT doc_id AS media_id,
         CAST(doc_id % {_WDS_SHARDS} AS INT) AS shard_id,
         ['ppm','wav','bin'][CAST(doc_id % 3 + 1 AS INT)] AS ext,
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN '{_PPM_HEADER_HEX}' || repeat(md5(text), {_PPM_W * _PPM_H * 3 // 16})
           WHEN 1 THEN '{_WAV_HEADER_HEX}' || repeat(md5(text), {2 * _WAV_N // 16})
           ELSE repeat(md5(text), 12)
         END AS phex
  FROM documents)
SELECT shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(length(phex) // 2) AS BIGINT) AS payload_bytes,
       md5(string_agg(CAST(media_id AS VARCHAR) || '.' || ext || ':' || md5(phex),
                      '' ORDER BY media_id)) AS members_digest
FROM media GROUP BY shard_id
""",
)
def export_webdataset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import io
    import json
    import os
    import tarfile

    out_dir = scratch_dir("psvm_wds_")
    m = media_table(spark, sf_dir).select(
        "media_id",
        (F.col("media_id") % _WDS_SHARDS).cast("int").alias("shard_id"),
        "kind",
        "payload",
    )

    def write_and_verify(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard_id"].iloc[0])
        path = os.path.join(out_dir, f"shard-{shard:05d}.tar")
        pdf = pdf.sort_values("media_id")
        with tarfile.open(path, "w") as tf:
            for r in pdf.itertuples():
                payload = bytes(r.payload)
                name = f"{r.media_id}.{_WDS_EXT[r.kind]}"
                ti = tarfile.TarInfo(name)
                ti.size = len(payload)
                ti.mtime = 0
                tf.addfile(ti, io.BytesIO(payload))
                meta = json.dumps(
                    {"media_id": int(r.media_id), "kind": r.kind}, sort_keys=True
                ).encode()
                tj = tarfile.TarInfo(f"{r.media_id}.json")
                tj.size = len(meta)
                tj.mtime = 0
                tf.addfile(tj, io.BytesIO(meta))
        # read back OUR OWN tar; the result derives from re-read members
        n, total, parts = 0, 0, []
        with tarfile.open(path, "r") as tf:
            for mem in tf.getmembers():
                if mem.name.endswith(".json"):
                    continue
                data = tf.extractfile(mem).read()
                n += 1
                total += len(data)
                parts.append(
                    (int(mem.name.split(".")[0]),
                     f"{mem.name}:{hashlib.md5(data.hex().encode()).hexdigest()}")
                )
        parts.sort()
        digest = hashlib.md5("".join(p for _, p in parts).encode()).hexdigest()
        return pd.DataFrame(
            [(shard, n, total, digest)],
            columns=["shard_id", "n_members", "payload_bytes", "members_digest"],
        )

    return m.groupBy("shard_id").applyInPandas(
        write_and_verify,
        "shard_id int, n_members bigint, payload_bytes bigint, members_digest string",
    )


# --------------------------------------------------------------------------
# B225 (round 7) — WebDataset tar-shard SCAN via a custom Python
# DataSource (sources/webdataset_tar.py): the read half of B224's
# export, with one InputPartition per shard so N shards scan N-wide —
# the streaming access pattern multimodal training loaders rely on.
# The query writes fresh shards (payload + .json sidecar members),
# reads them back through `spark.read.format("webdataset_tar")`, and
# aggregates per extension; the oracle reconstructs counts, byte
# totals, and the media_id-ordered payload-digest chain from the
# documents byte math — so the DataSource's member filtering (sidecars
# skipped), name parsing, and payload fidelity are all differentially
# tested.


@query(
    "scan_webdataset_pyds",
    oracle=f"""
WITH media AS (
  SELECT doc_id AS media_id,
         ['ppm','wav','bin'][CAST(doc_id % 3 + 1 AS INT)] AS ext,
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN '{_PPM_HEADER_HEX}' || repeat(md5(text), {_PPM_W * _PPM_H * 3 // 16})
           WHEN 1 THEN '{_WAV_HEADER_HEX}' || repeat(md5(text), {2 * _WAV_N // 16})
           ELSE repeat(md5(text), 12)
         END AS phex
  FROM documents)
SELECT ext,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(length(phex) // 2) AS BIGINT) AS total_bytes,
       md5(string_agg(md5(phex), '' ORDER BY media_id)) AS payload_chain
FROM media GROUP BY ext
""",
)
def scan_webdataset_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:

    from psvm_spark.sources.webdataset_tar import register

    register(spark)
    out_dir = scratch_dir("psvm_wds_scan_")
    m = media_table(spark, sf_dir).select(
        "media_id",
        (F.col("media_id") % _WDS_SHARDS).cast("int").alias("shard_id"),
        "kind",
        "payload",
    )

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        import io
        import json
        import os
        import tarfile

        ext_map = {"image": "ppm", "audio": "wav", "video": "bin"}
        shard = int(pdf["shard_id"].iloc[0])
        path = os.path.join(out_dir, f"shard-{shard:05d}.tar")
        pdf = pdf.sort_values("media_id")
        with tarfile.open(path, "w") as tf:
            for r in pdf.itertuples():
                payload = bytes(r.payload)
                ti = tarfile.TarInfo(f"{r.media_id}.{ext_map[r.kind]}")
                ti.size = len(payload)
                ti.mtime = 0
                tf.addfile(ti, io.BytesIO(payload))
                meta = json.dumps(
                    {"media_id": int(r.media_id), "kind": r.kind}, sort_keys=True
                ).encode()
                tj = tarfile.TarInfo(f"{r.media_id}.json")
                tj.size = len(meta)
                tj.mtime = 0
                tf.addfile(tj, io.BytesIO(meta))
        return pd.DataFrame([(shard, len(pdf))], columns=["shard_id", "n"])

    written = m.groupBy("shard_id").applyInPandas(
        write_shard, "shard_id int, n bigint"
    )
    assert written.count() > 0  # materialize the writes before reading
    back = (
        spark.read.format("webdataset_tar").option("path", out_dir).load()
    )
    dig = F.md5(F.lower(F.hex("payload")))
    return (
        back.select("media_id", "ext", "n_bytes", dig.alias("dig"))
        .groupBy("ext")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.md5(
                F.array_join(
                    F.expr(
                        "transform(array_sort(collect_list(struct(media_id, dig))),"
                        " x -> x.dig)"
                    ),
                    "",
                )
            ).alias("payload_chain"),
        )
    )


# --------------------------------------------------------------------------
# Round 7 — windowed audio energy / voice-activity detection: the
# standard first stage of any speech-data curation pipeline (frame the
# PCM stream, per-frame RMS, threshold into active/silent).  The decode
# + framing runs as an Arrow-batched mapInPandas where the payload
# lives — at 100 TB the WAV bytes never cross a shuffle; the output is
# 4 tiny rows per clip.  Oracle-EXACT across the binary boundary: the
# fixture WAV repeats the 16-byte md5(text) digest, so DuckDB recomputes
# every frame's RMS from the digest hex alone.  Exactness: x = s/2^15
# gives x*x = s^2/2^30 (dyadic, exact in float64 in any order), /16 is
# exact, sqrt+round6 are deterministic IEEE on both engines; `active`
# compares the ROUNDED value so the threshold decision is shared too.

_VAD_FRAME = 16  # samples per frame -> 4 frames per 64-sample clip
_VAD_THRESH = 0.55


def _vad_oracle() -> str:
    samp = f"{_by('2*i')} + 256*{_by('2*i+1')}"
    sq = (
        f"(CASE WHEN {samp} >= 32768 THEN {samp} - 65536 ELSE {samp} END)"
        f" * (CASE WHEN {samp} >= 32768 THEN {samp} - 65536 ELSE {samp} END)"
        " / 1073741824e0"
    )
    return f"""
WITH d AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 1),
fr AS (
  SELECT doc_id AS media_id, CAST(t.f AS INT) AS frame_idx,
         round(sqrt(list_sum([{sq}
             FOR i IN generate_series({_VAD_FRAME}*t.f,
                                      {_VAD_FRAME}*t.f + {_VAD_FRAME - 1})])
             / {_VAD_FRAME}e0), 6) AS rms
  FROM d, generate_series(0, {_WAV_N // _VAD_FRAME - 1}) t(f))
SELECT media_id, frame_idx, rms, rms >= {_VAD_THRESH} AS active FROM fr
"""


@query("mm_audio_vad_frames", oracle=_vad_oracle())
def mm_audio_vad_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).filter(F.col("kind") == "audio")

    _, decode_wav = media_codecs()

    def frames(batches):
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                x = decode_wav(bytes(buf))[1].astype(np.float64) / 32768.0
                for f in range(len(x) // _VAD_FRAME):
                    w = x[_VAD_FRAME * f : _VAD_FRAME * (f + 1)]
                    rows.append((int(mid), f, float(np.sqrt((w * w).mean()))))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "rms"])

    out = m.mapInPandas(frames, "media_id long, frame_idx int, rms double")
    return out.select(
        "media_id",
        "frame_idx",
        F.round("rms", 6).alias("rms"),
        (F.round("rms", 6) >= _VAD_THRESH).alias("active"),
    )


# --------------------------------------------------------------------------
# B237 (round 8) — video shot-boundary detection: frame the byte
# stream, compute the mean absolute byte difference between consecutive
# frames, and cut where the difference clears a threshold — the
# standard first pass of any video curation pipeline (PySceneDetect's
# content detector in grayscale-free form).  The fixture's repeated-
# digest video payload has no shots, so this key synthesizes a RICHER
# deterministic stream per video doc: 12 frames of 16 bytes, frame f's
# content = md5(text # shot_id(f)) where shot boundaries fire at
# frames whose base-digest byte is < 64 (~25%).  The DETECTOR knows
# nothing of the generator — it just thresholds frame deltas — while
# the oracle replays generation AND detection from the digest hex.
# Exactness: every frame delta is an integer sum / 16 (dyadic, <= 4
# decimal digits — round6 is the identity), so the checksum and the
# boundary decisions are bit-identical.  Shape at 100 TB: synthesis +
# decode run in one mapInPandas where the payload lives (the video
# bytes never shuffle); output is one row per clip.

_SHOT_FRAMES = 12
_SHOT_BYTES = 16
_SHOT_T = 8.0  # mean-abs-delta threshold (identical frames -> 0)


def _shot_oracle() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, text, md5(text) AS h FROM documents WHERE doc_id % 3 = 2),
fl AS (
  SELECT doc_id, text,
         [CASE WHEN g >= 1
                AND ('0x' || substr(h, 2*g+1, 2))::BIGINT < 64
               THEN 1 ELSE 0 END
          FOR g IN generate_series(0, {_SHOT_FRAMES - 1})] AS flags
  FROM d),
fr AS (
  SELECT doc_id, t.f AS f,
         md5(text || '#' || CAST(list_sum(flags[1:t.f+1]) AS VARCHAR)) AS hf
  FROM fl, generate_series(0, {_SHOT_FRAMES - 1}) t(f)),
fb AS (
  SELECT doc_id, f,
         [('0x' || substr(hf, 2*j+1, 2))::BIGINT
          FOR j IN generate_series(0, {_SHOT_BYTES - 1})] AS bs
  FROM fr),
dist AS (
  SELECT a.doc_id, a.f,
         list_sum([abs(a.bs[j] - b.bs[j])
                   FOR j IN generate_series(1, {_SHOT_BYTES})]) / {_SHOT_BYTES}e0
           AS dl
  FROM fb a JOIN fb b ON a.doc_id = b.doc_id AND b.f = a.f - 1)
SELECT doc_id AS media_id,
       CAST({_SHOT_FRAMES} AS INT) AS n_frames,
       CAST(COUNT(*) FILTER (WHERE dl > {_SHOT_T}) AS BIGINT) AS n_boundaries,
       CAST(COUNT(*) FILTER (WHERE dl > {_SHOT_T}) + 1 AS BIGINT) AS n_shots,
       round(SUM(dl), 6) AS dist_checksum
FROM dist GROUP BY doc_id
"""


@query("mm_shot_boundary", oracle=_shot_oracle())
def mm_shot_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 2)
    h = F.md5("text")

    def byte(i: int):
        return F.conv(F.substring(h, 2 * i + 1, 2), 16, 10).cast("int")

    flags = [F.lit(0)] + [
        (byte(g) < 64).cast("int") for g in range(1, _SHOT_FRAMES)
    ]
    frames = []
    sid = flags[0]
    for f in range(_SHOT_FRAMES):
        if f > 0:
            sid = sid + flags[f]
        frames.append(
            F.to_binary(
                F.md5(F.concat(F.col("text"), F.lit("#"), sid.cast("string"))),
                F.lit("hex"),
            )
        )
    src = d.select(
        F.col("doc_id").alias("media_id"), F.concat(*frames).alias("payload")
    )

    def detect(batches):
        for pdf in batches:
            out = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                a = (
                    np.frombuffer(bytes(buf), dtype=np.uint8)
                    .reshape(_SHOT_FRAMES, _SHOT_BYTES)
                    .astype(np.int64)
                )
                dl = np.abs(a[1:] - a[:-1]).mean(axis=1)
                nb = int((dl > _SHOT_T).sum())
                # deltas are integer-sums/16 (dyadic, <= 4 decimal
                # digits): round6 is the identity on both engines
                out.append(
                    (int(mid), _SHOT_FRAMES, nb, nb + 1, round(float(dl.sum()), 6))
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id",
                    "n_frames",
                    "n_boundaries",
                    "n_shots",
                    "dist_checksum",
                ],
            )

    return src.mapInPandas(
        detect,
        "media_id long, n_frames int, n_boundaries long, n_shots long,"
        " dist_checksum double",
    )


# --------------------------------------------------------------------------
# B256 (round 8) — ViT-style patch embedding across the binary decode
# boundary: every image is decoded (pure-NumPy PPM), split into 2x2
# patches on the 8x6 grid (12 patches), and each patch embeds as its
# exact per-channel integer pixel sums — the patchify + linear-proj
# front half of every vision-transformer feature pipeline, minus the
# learned weights (a deterministic identity "projection" keeps the
# oracle exact; the real projection is one broadcast matmul away and
# changes nothing about the Spark plumbing being tested: binary
# column in, Arrow batch decode, (media, patch) rows out).  The
# oracle recomputes every patch sum from the digest hex alone, so the
# whole decode -> patchify -> embed path is hash-checked.  At 100 TB
# decode runs where the data lives (mapInPandas), one task per input
# split, no shuffle at all.

_PATCH = 2  # 2x2 patches on the 8x6 PPM grid -> 4 cols x 3 rows


def _patch_embed_oracle() -> str:
    n_cols, n_rows = _PPM_W // _PATCH, _PPM_H // _PATCH
    sums = {
        c: " + ".join(
            _by(f"3*((2*pr + {dy})*{_PPM_W} + (2*pc + {dx}))+{c}")
            for dy in range(_PATCH)
            for dx in range(_PATCH)
        )
        for c in range(3)
    }
    return f"""
WITH d AS (SELECT doc_id, md5(text) AS h FROM documents
           WHERE CAST(doc_id % 3 AS INT) = 0),
g AS (
  SELECT doc_id AS media_id, h, pr.r AS pr, pc.c AS pc
  FROM d,
       LATERAL (SELECT unnest(generate_series(0, {n_rows - 1})) AS r) pr,
       LATERAL (SELECT unnest(generate_series(0, {n_cols - 1})) AS c) pc)
SELECT media_id, CAST(pr AS INT) AS pr, CAST(pc AS INT) AS pc,
       CAST({sums[0]} AS BIGINT) AS sum_r,
       CAST({sums[1]} AS BIGINT) AS sum_g,
       CAST({sums[2]} AS BIGINT) AS sum_b
FROM g
"""


@query("mm_image_patch_embed", oracle=_patch_embed_oracle())
def mm_image_patch_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).filter(F.col("kind") == "image").select(
        "media_id", "payload"
    )

    decode_ppm, _ = media_codecs()

    def patchify(batches):
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                px = decode_ppm(bytes(buf)).astype(np.int64)
                for pr in range(_PPM_H // _PATCH):
                    for pc in range(_PPM_W // _PATCH):
                        patch = px[
                            2 * pr : 2 * pr + _PATCH, 2 * pc : 2 * pc + _PATCH, :
                        ]
                        s = patch.sum(axis=(0, 1))
                        rows.append(
                            (int(mid), pr, pc, int(s[0]), int(s[1]), int(s[2]))
                        )
            yield pd.DataFrame(
                rows, columns=["media_id", "pr", "pc", "sum_r", "sum_g", "sum_b"]
            )

    return m.mapInPandas(
        patchify,
        "media_id long, pr int, pc int, sum_r bigint, sum_g bigint, sum_b bigint",
    )


# --------------------------------------------------------------------------
# B271 (round 8) — audio downsampling (8 kHz -> 4 kHz) across the
# binary decode boundary: decimation-by-2 with a 2-tap boxcar anti-
# alias average — the resample step every speech pipeline runs before
# feature extraction (the audio analogue of mm_resize_avgpool).  The
# pairwise average uses the positivity-bias floor ((a + b + BIG*2)
# div 2 - BIG) because PCM16 samples are signed and engine `div`/`>>`
# semantics on negatives differ; every output sample is therefore an
# exact integer, and the per-doc weighted checksum (sum out[i]*(i+1))
# and peak replay bitwise from the digest hex in the oracle.  Decode
# runs where the data lives (mapInPandas), zero shuffle.

_ADS_BIG = 1 << 20


def _audio_downsample_oracle() -> str:
    samp = f"{_by('2*i')} + 256*{_by('2*i+1')}"
    signed = f"(CASE WHEN {samp} >= 32768 THEN {samp} - 65536 ELSE {samp} END)"
    s_even = signed.replace("2*i", "4*j")
    s_odd = signed.replace("2*i", "4*j+2")
    out = f"(({s_even} + {s_odd} + {2 * _ADS_BIG}) // 2 - {_ADS_BIG})"
    return f"""
WITH d AS (SELECT doc_id, md5(text) AS h FROM documents
           WHERE CAST(doc_id % 3 AS INT) = 1),
o AS (
  SELECT doc_id AS media_id,
         [{out} FOR j IN generate_series(0, {_WAV_N // 2 - 1})] AS ys
  FROM d)
SELECT media_id,
       CAST({_WAV_N} AS INT) AS n_in,
       CAST({_WAV_N // 2} AS INT) AS n_out,
       CAST(list_sum([ys[j + 1] * (j + 1) FOR j IN generate_series(0, {_WAV_N // 2 - 1})])
            AS BIGINT) AS checksum,
       CAST(list_max([abs(y) FOR y IN ys]) AS BIGINT) AS peak
FROM o
"""


@query("mm_audio_downsample", oracle=_audio_downsample_oracle())
def mm_audio_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).filter(F.col("kind") == "audio").select(
        "media_id", "payload"
    )

    _, decode_wav = media_codecs()

    def downsample(batches):
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                smp = decode_wav(bytes(buf))[1].astype(np.int64)
                n = len(smp)
                ys = [
                    (int(smp[2 * j]) + int(smp[2 * j + 1]) + 2 * _ADS_BIG) // 2
                    - _ADS_BIG
                    for j in range(n // 2)
                ]
                rows.append(
                    (
                        int(mid),
                        n,
                        n // 2,
                        sum(y * (j + 1) for j, y in enumerate(ys)),
                        max(abs(y) for y in ys),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "n_in", "n_out", "checksum", "peak"]
            )

    return m.mapInPandas(
        downsample,
        "media_id long, n_in int, n_out int, checksum bigint, peak bigint",
    )


# --------------------------------------------------------------------------
# B289 (round 9) — per-channel color histogram across the binary
# decode boundary: every image decodes (pure-NumPy PPM) into 4
# brightness bins per RGB channel (bin = pixel div 64) — the cheap
# color-statistics feature every vision-data QC pass extracts (over-
# dark / blown-out / single-hue detection before training).  The
# oracle replays every bin count from the digest hex alone, so the
# decode -> bincount path is hash-checked end to end.  Zero-count
# bins are omitted on BOTH sides (GROUP BY semantics).  At 100 TB
# decode runs where the data lives (mapInPandas, Arrow batches), one
# task per split, no shuffle before the skinny (media, channel, bin)
# rollup.

_CH_BINS = 4  # pixel div 64


def _channel_hist_oracle() -> str:
    byte = _by("3*p + c")
    return f"""
WITH d AS (SELECT doc_id, md5(text) AS h FROM documents
           WHERE CAST(doc_id % 3 AS INT) = 0),
px AS (
  SELECT doc_id AS media_id, c.c AS channel,
         CAST({byte} // 64 AS INT) AS bin
  FROM d,
       LATERAL (SELECT unnest(generate_series(0, {_PPM_W * _PPM_H - 1})) AS p) pp,
       LATERAL (SELECT unnest(generate_series(0, 2)) AS c) c)
SELECT media_id, CAST(channel AS INT) AS channel, bin,
       CAST(COUNT(*) AS BIGINT) AS n_px
FROM px GROUP BY media_id, channel, bin
"""


@query("mm_image_channel_hist", oracle=_channel_hist_oracle())
def mm_image_channel_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).filter(F.col("kind") == "image").select(
        "media_id", "payload"
    )

    decode_ppm, _ = media_codecs()

    def hist(batches):
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                px = decode_ppm(bytes(buf))
                for c in range(3):
                    counts = np.bincount(
                        px[:, :, c].ravel() >> 6, minlength=_CH_BINS
                    )
                    for b, n in enumerate(counts):
                        if n:
                            rows.append((int(mid), c, b, int(n)))
            yield pd.DataFrame(
                rows, columns=["media_id", "channel", "bin", "n_px"]
            )

    return m.mapInPandas(
        hist, "media_id long, channel int, bin int, n_px bigint"
    )
