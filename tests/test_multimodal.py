"""Multimodal plumbing tests: binary payload synthesis, mapInPandas
batch shapes, pixel/sample-level decode vs an independent reference.

The reference implementations here deliberately do NOT call the
decoders of psvm_spark.queries.multimodal.media_codecs — they re-derive
the payload from the document text with hashlib/struct/NumPy so a bug
in the shared decoder cannot self-validate.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from psvm_spark import registry
from psvm_spark.catalog import load_table
from psvm_spark.queries.multimodal import media_codecs, media_table

registry.load_all()

PPM_HEADER = b"P6\n8 6\n255\n"
WAV_HEADER = (
    b"RIFF" + struct.pack("<I", 36 + 128) + b"WAVEfmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    + b"data" + struct.pack("<I", 128)
)


def _ref_payload(doc_id: int, text: str) -> bytes:
    digest = hashlib.md5(text.encode()).digest()
    kind = doc_id % 3
    if kind == 0:  # image: PPM header + 144 pixel bytes
        return PPM_HEADER + digest * 9
    if kind == 1:  # audio: WAV header + 128 PCM16 bytes
        return WAV_HEADER + digest * 8
    return digest * 12  # video: 12 x 16-byte frames


class TestMediaCodecs:
    def test_decoders_round_trip_reference_payloads(self):
        decode_ppm, decode_wav = media_codecs()
        px = decode_ppm(_ref_payload(0, "x"))
        assert px.shape == (6, 8, 3) and px.dtype == np.uint8
        sr, smp = decode_wav(_ref_payload(1, "x"))
        assert sr == 8000 and smp.shape == (64,)

    def test_ppm_rejects_ascii_and_16_bit_payloads(self):
        decode_ppm, _ = media_codecs()
        ascii_p3 = b"P3\n8 6\n255\n" + b"0 " * 144
        wide = b"P6\n8 6\n65535\n" + bytes(288)
        for buf in (ascii_p3, wide):
            with pytest.raises(ValueError):
                decode_ppm(buf)

    def test_wav_rejects_non_riff_payloads(self):
        _, decode_wav = media_codecs()
        with pytest.raises(ValueError):
            decode_wav(PPM_HEADER + bytes(144))


class TestMediaTable:
    def test_payload_sizes_by_kind(self, spark, sf_dir):
        rows = media_table(spark, sf_dir).collect()
        sizes = {"image": 11 + 144, "audio": 44 + 128, "video": 192}
        for r in rows:
            assert len(r.payload) == sizes[r.kind], (r.media_id, r.kind)
            assert r.meta.width % 64 == 0 and r.meta.duration_ms > 0

    def test_payload_matches_reference_bytes(self, spark, sf_dir):
        docs = {r.doc_id: r.text for r in load_table(spark, sf_dir, "documents").collect()}
        for r in media_table(spark, sf_dir).limit(30).collect():
            assert bytes(r.payload) == _ref_payload(r.media_id, docs[r.media_id])


class TestDecodeFeatures:
    def test_matches_independent_reference(self, spark, sf_dir):
        """Pixel/sample-level check: features recomputed from the raw
        document text (not from the query's own decoder)."""
        feats = {
            r.media_id: (r.kind, r.f0, r.f1, r.f2, r.f3)
            for r in registry.QUERIES["mm_decode_features"](spark, sf_dir).collect()
        }
        docs = {r.doc_id: r.text for r in load_table(spark, sf_dir, "documents").collect()}
        checked = {"image": 0, "audio": 0, "video": 0}
        for doc_id in sorted(docs)[:30]:
            payload = _ref_payload(doc_id, docs[doc_id])
            kind, f0, f1, f2, f3 = feats[doc_id]
            if kind == "image":
                px = (
                    np.frombuffer(payload[len(PPM_HEADER):], dtype=np.uint8)
                    .astype(np.float64)
                    .reshape(6, 8, 3)
                )
                luma = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
                exp = [px[:, :, 0].mean(), px[:, :, 1].mean(), px[:, :, 2].mean(), luma.std()]
            elif kind == "audio":
                x = np.frombuffer(payload[44:], dtype="<i2").astype(np.float64) / 32768.0
                exp = [x.mean(), np.sqrt((x * x).mean()), np.abs(x).max(), 8000.0]
            else:
                a = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
                exp = [a.mean(), a.std(), a.min(), a.max()]
            for got, want in zip((f0, f1, f2, f3), exp):
                assert abs(got - round(float(want), 6)) < 1e-9, (doc_id, kind)
            checked[kind] += 1
        assert all(v > 0 for v in checked.values())

    def test_frame_sampling_counts(self, spark, sf_dir):
        rows = registry.QUERIES["mm_frame_sample"](spark, sf_dir).collect()
        # video payload = 192 bytes = 12 frames of 16 ; every 3rd -> 4 samples
        assert all(r.n_frames_sampled == 4 for r in rows)
        # md5 repeats every 16 bytes -> all sampled frames identical
        assert all(r.n_distinct_frames == 1 for r in rows)


class TestUdfSurface:
    def test_map_in_pandas_token_totals(self, spark, sf_dir):
        from pyspark.sql import functions as F

        row = registry.QUERIES["map_in_pandas_tokens"](spark, sf_dir).collect()[0]
        d = load_table(spark, sf_dir, "documents")
        exp = d.select(F.size(F.split("text", " ")).alias("n")).agg(
            F.sum("n").alias("s"), F.count(F.lit(1)).alias("c")
        ).collect()[0]
        assert row.n_docs == exp.c and row.total_tokens == exp.s


class TestResizeAvgPool:
    def test_pooling_matches_reference(self, spark, sf_dir):
        """Pooled pixels must equal an independent Python mean over the
        decoded 2x2 blocks, with the right output shape.  Output is flat
        (media_id, pos, px_val) rows — pos in NumPy ravel (row-major)
        order — because the driver canonicalizer cannot sort array
        cells (r6 fix)."""
        import hashlib

        import numpy as np

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES

        out: dict[int, list[float]] = {}
        for r in QUERIES["mm_resize_avgpool"](spark, sf_dir).collect():
            out.setdefault(r.media_id, [0.0] * 36)[r.pos] = r.px_val
        docs = {
            r.doc_id: r.text
            for r in load_table(spark, sf_dir, "documents")
            .filter("doc_id % 3 = 0")
            .select("doc_id", "text")
            .collect()
        }
        assert set(out) == set(docs)
        for did, text in list(docs.items())[:25]:
            digest = hashlib.md5(text.encode()).digest()
            raw = (digest * 9)[: 8 * 6 * 3]
            px = np.frombuffer(raw, dtype=np.uint8).reshape(6, 8, 3).astype(float)
            ref = px.reshape(3, 2, 4, 2, 3).sum(axis=(1, 3)) / 4.0
            got = np.array(out[did]).reshape(3, 4, 3)
            assert np.array_equal(got, ref), did


class TestWebdatasetExport:
    def test_shard_routing_and_totals(self, spark, sf_dir):
        from psvm_spark.catalog import load_table
        from psvm_spark.queries.multimodal import _WDS_SHARDS

        rows = registry.QUERIES["export_webdataset_shards"](spark, sf_dir).collect()
        assert {r.shard_id for r in rows} == set(range(_WDS_SHARDS))
        n_docs = load_table(spark, sf_dir, "documents").count()
        assert sum(r.n_members for r in rows) == n_docs
        assert all(len(r.members_digest) == 32 for r in rows)
        assert all(r.payload_bytes > r.n_members * 100 for r in rows)


class TestWebdatasetScan:
    def test_reader_partitions_per_shard_and_skips_sidecars(self, spark, sf_dir):
        from psvm_spark.catalog import load_table

        rows = registry.QUERIES["scan_webdataset_pyds"](spark, sf_dir).collect()
        assert {r.ext for r in rows} == {"ppm", "wav", "bin"}
        n_docs = load_table(spark, sf_dir, "documents").count()
        assert sum(r.n for r in rows) == n_docs  # .json sidecars not counted

    def test_reader_tolerates_hostile_external_shards(self, tmp_path):
        """Externally produced shards may carry directory entries and
        members whose names don't match ``<int>.<ext>``; the reader must
        skip them instead of crashing (ADVICE r7)."""
        import io
        import tarfile

        shard = tmp_path / "hostile-000.tar"
        with tarfile.open(shard, "w") as tf:
            d = tarfile.TarInfo("imgs/")
            d.type = tarfile.DIRTYPE
            tf.addfile(d)
            for name, payload in [
                ("7.bin", b"ok-payload"),
                ("README", b"dotless name, skipped"),
                ("notanum.bin", b"non-numeric stem, skipped"),
                ("3.json", b"{}"),
            ]:
                ti = tarfile.TarInfo(name)
                ti.size = len(payload)
                tf.addfile(ti, io.BytesIO(payload))

        from psvm_spark.sources.webdataset_tar import make_datasource

        ds_cls = make_datasource()
        reader = ds_cls({"path": str(tmp_path)}).reader(None)
        parts = reader.partitions()
        out = [row for p in parts for row in reader.read(p)]
        assert out == [(7, "bin", b"ok-payload", 10)]


class TestAudioVadFrames:
    def test_rms_matches_numpy_reference(self, spark, sf_dir):
        """Frame RMS must equal an independent NumPy recompute from the
        synthesized WAV bytes (digest * 8 -> 64 LE int16 samples)."""
        import hashlib

        import numpy as np

        from psvm_spark.catalog import load_table

        rows = registry.QUERIES["mm_audio_vad_frames"](spark, sf_dir).collect()
        docs = {
            r.doc_id: r.text
            for r in load_table(spark, sf_dir, "documents")
            .filter("doc_id % 3 = 1")
            .collect()
        }
        # 4 frames per audio clip, every clip present
        assert len(rows) == 4 * len(docs)
        got = {(r.media_id, r.frame_idx): (r.rms, r.active) for r in rows}
        for did, text in list(docs.items())[:25]:
            digest = hashlib.md5(text.encode()).digest()
            smp = np.frombuffer(digest * 8, dtype="<i2").astype(np.float64) / 32768.0
            for f in range(4):
                w = smp[16 * f : 16 * (f + 1)]
                ref = round(float(np.sqrt((w * w).mean())), 6)
                rms, active = got[(did, f)]
                assert rms == ref, (did, f)
                assert active == (ref >= 0.55)


class TestShotBoundary:
    def test_detected_boundaries_equal_planted_flags(self, spark, sf_dir):
        """The detector thresholds frame deltas with no knowledge of the
        generator; on the synthetic stream every within-shot delta is 0
        and every cross-shot delta is the mean |diff| of two independent
        digests (>> threshold), so detected == planted."""
        import hashlib

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.multimodal import _SHOT_FRAMES
        from psvm_spark.registry import QUERIES

        rows = {r.media_id: r for r in
                QUERIES["mm_shot_boundary"](spark, sf_dir).collect()}
        docs = (
            load_table(spark, sf_dir, "documents")
            .filter("doc_id % 3 = 2")
            .select("doc_id", "text")
            .collect()
        )
        assert set(rows) == {d.doc_id for d in docs}
        for d in docs:
            h = hashlib.md5(d.text.encode()).hexdigest()
            planted = sum(
                1 for g in range(1, _SHOT_FRAMES) if int(h[2 * g: 2 * g + 2], 16) < 64
            )
            got = rows[d.doc_id]
            assert got.n_boundaries == planted, (d.doc_id, planted)
            assert got.n_shots == planted + 1
            assert got.n_frames == _SHOT_FRAMES


class TestImagePatchEmbed:
    def test_patch_sums_match_numpy_reference(self, spark, sf_dir):
        import hashlib

        import numpy as np
        import pyspark.sql.functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES

        rows = QUERIES["mm_image_patch_embed"](spark, sf_dir).collect()
        docs = {
            r.doc_id: r.text
            for r in load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 3 == 0)
            .collect()
        }
        assert len(rows) == 12 * len(docs)  # 4x3 patches per image
        by_key = {(r.media_id, r.pr, r.pc): r for r in rows}
        some = sorted(docs)[:5]
        for did in some:
            digest = hashlib.md5(docs[did].encode("utf-8")).digest()
            px = np.frombuffer((digest * 9)[:144], dtype=np.uint8).reshape(6, 8, 3)
            for pr in range(3):
                for pc in range(4):
                    s = px[2 * pr : 2 * pr + 2, 2 * pc : 2 * pc + 2, :].astype(int).sum(axis=(0, 1))
                    r = by_key[(did, pr, pc)]
                    assert (r.sum_r, r.sum_g, r.sum_b) == (s[0], s[1], s[2])


class TestAudioDownsample:
    def test_boxcar_decimation_matches_reference(self, spark, sf_dir):
        import hashlib

        import numpy as np
        import pyspark.sql.functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES

        rows = {r.media_id: r for r in
                QUERIES["mm_audio_downsample"](spark, sf_dir).collect()}
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 3 == 1
        ).collect()
        assert len(rows) == len(docs)
        for d in docs[:5]:
            digest = hashlib.md5(d.text.encode("utf-8")).digest()
            smp = np.frombuffer((digest * 8)[:128], dtype="<i2").astype(int)
            ys = [(int(smp[2*j]) + int(smp[2*j+1])) // 2 for j in range(32)]
            # positivity-bias floor == python floor div for ints
            r = rows[d.doc_id]
            assert r.n_in == 64 and r.n_out == 32
            assert r.checksum == sum(y * (j + 1) for j, y in enumerate(ys))
            assert r.peak == max(abs(y) for y in ys)


class TestChannelHist:
    def test_bins_partition_all_pixels(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from psvm_spark.queries.multimodal import _PPM_H, _PPM_W
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        df = QUERIES["mm_image_channel_hist"](spark, sf_dir)
        per_ch = df.groupBy("media_id", "channel").agg(
            F.sum("n_px").alias("t")
        )
        rows = per_ch.collect()
        assert rows
        assert all(r.t == _PPM_W * _PPM_H for r in rows)
        bins = {r.bin for r in df.select("bin").distinct().collect()}
        assert bins <= {0, 1, 2, 3}
