"""Image codec + invariant machinery tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from housenumbercore_spark.images import codec
from housenumbercore_spark.images import udfs as IU
from housenumbercore_spark.sources import images as IMG


class TestCodec:
    def test_png_roundtrip_exact(self):
        px = IMG.make_pixels(7)
        buf = codec.encode_png(px)
        out = codec.decode_png(buf)
        assert (out == px).all()
        assert codec.psnr(px, out) == float("inf")

    def test_png_filters_decode(self):
        # hand-build a PNG with Up filter rows to exercise the decoder paths
        import struct
        import zlib

        px = IMG.make_pixels(3)
        h, w, _ = px.shape
        rows = []
        prev = np.zeros(w * 3, dtype=np.int32)
        flat = px.reshape(h, w * 3).astype(np.int32)
        for y in range(h):
            rows.append(bytes([2]) + ((flat[y] - prev) & 0xFF).astype(np.uint8).tobytes())
            prev = flat[y]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        buf = (
            codec.PNG_SIG
            + codec._chunk(b"IHDR", ihdr)
            + codec._chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + codec._chunk(b"IEND", b"")
        )
        assert (codec.decode_png(buf) == px).all()

    def test_png_all_filter_types_decode(self):
        # one row per filter type 0..4 (spec-built deltas) — covers the
        # vectorized Sub path and the sequential Average/Paeth scans
        import struct
        import zlib

        rng = np.random.default_rng(11)
        w, h, bpp = 9, 5, 3
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        flat = px.reshape(h, w * 3).astype(np.int32)
        rows = []
        for y, ft in enumerate([0, 1, 2, 3, 4]):
            prev = flat[y - 1] if y > 0 else np.zeros(w * 3, dtype=np.int32)
            line = np.zeros(w * 3, dtype=np.int32)
            for x in range(w * 3):
                a = flat[y, x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (flat[y, x] - pred) & 0xFF
            rows.append(bytes([ft]) + line.astype(np.uint8).tobytes())
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        buf = (
            codec.PNG_SIG
            + codec._chunk(b"IHDR", ihdr)
            + codec._chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + codec._chunk(b"IEND", b"")
        )
        assert (codec.decode_png(buf) == px).all()

    def test_jpgq_lossy_psnr_above_40(self):
        for i in (0, 5, 123):
            px = IMG.make_pixels(i)
            out = codec.decode_jpgq(codec.encode_jpgq(px))
            p = codec.psnr(px, out)
            assert p >= 40.0, p
            assert not (out == px).all()  # genuinely lossy

    def test_phash_stable_and_sensitive(self):
        a = codec.phash64(IMG.make_pixels(1))
        a2 = codec.phash64(IMG.make_pixels(1))
        b = codec.phash64(IMG.make_pixels(2))
        assert a == a2
        assert codec.hamming64(a, b) > 4
        # lossy re-encode moves the hash only mildly (tiny 16x16 images put
        # many DCT coefficients near the median, so a handful of bits flip)
        lossy = codec.decode_jpgq(codec.encode_jpgq(IMG.make_pixels(1)))
        assert codec.hamming64(a, codec.phash64(lossy)) <= 16

    def test_decode_dispatch_rejects_garbage(self):
        with pytest.raises(ValueError):
            codec.decode_image(b"garbage-bytes")

    def test_real_jpeg_adapter_seam(self, spark):
        """register_codec hosts a REAL codec: a mock PIL-like JPEG (SOI
        magic) plugs in with one call, encode_image/decode_image dispatch
        to it, the built-ins keep working, AND the registration reaches
        Spark Python workers (the engine's mapInPandas closures snapshot
        the registry — a bare module-global mutation would be invisible in
        the workers' fresh imports). So the jpgq→JPEG swap is a one-liner
        wherever PIL/libjpeg exists."""
        import struct

        saved_enc = dict(codec._ENCODERS)
        saved_dec = list(codec._DECODERS)
        MAGIC = b"\xff\xd8MOCK"
        try:
            def enc(px):
                h, w, _ = px.shape
                return MAGIC + struct.pack(">II", w, h) + px.tobytes()

            def dec(b):
                w, h = struct.unpack_from(">II", b, len(MAGIC))
                return (
                    np.frombuffer(b[len(MAGIC) + 8:], dtype=np.uint8)
                    .reshape(h, w, 3)
                )

            codec.register_codec("jpeg", enc, dec, lambda b: b[:6] == MAGIC)
            px = IMG.make_pixels(42)
            buf = codec.encode_image(px, "jpeg")
            assert buf[:6] == MAGIC
            assert (codec.decode_image(buf) == px).all()
            assert codec.sniff_fmt(buf) == "jpeg"
            # built-in formats still dispatch behind the registered codec
            assert (codec.decode_image(codec.encode_image(px, "png")) == px).all()
            assert (
                codec.decode_image(codec.encode_image(px, "jpgq")) != px
            ).any()

            # through a Spark worker: decode_check must decode the mock
            # format there (this is the path a driver-only registry broke)
            from housenumbercore_spark.images import udfs as IU

            px7 = IMG.make_pixels(7)
            df = spark.createDataFrame(
                [("m1", bytearray(enc(px7)), codec.phash64(px7))],
                "image_id string, bytes binary, phash long",
            )
            row = IU.decode_check(df).collect()[0]
            assert (row.w_decoded, row.h_decoded) == (IMG.IMG_W, IMG.IMG_H)
            assert row.fmt_decoded == "jpeg"
            assert row.phash_match
        finally:
            codec._ENCODERS.clear()
            codec._ENCODERS.update(saved_enc)
            codec._DECODERS[:] = saved_dec


class TestImagesTable:
    @pytest.fixture(scope="class")
    def images(self, spark):
        return IMG.images_df(spark, 300, partitions=4).cache()

    def test_schema_and_determinism(self, spark, images):
        assert images.count() == 300
        assert images.schema == IMG.SCHEMA
        # regenerating yields byte-identical rows
        again = IMG.images_df(spark, 300, partitions=2)
        a = images.orderBy("image_id").toPandas()
        b = again.orderBy("image_id").toPandas()
        assert (a.phash.values == b.phash.values).all()
        assert all(bytes(x) == bytes(y) for x, y in zip(a["bytes"], b["bytes"]))

    def test_invariants_pass_through_spatial_join(self, spark, images):
        from housenumbercore_spark.operators import pip_join as PJ
        from housenumbercore_spark.sources import synthetic as S

        areas = S.areas_df(spark, "/root/testdata/sf0.001")
        assigned = PJ.assign_points_to_areas(
            spark, images, areas
        )  # payload (bytes) rides through the broadcast join
        chk = IU.check_invariants(assigned, images)
        summ = IU.invariant_summary(chk).collect()[0]
        assert summ.n_rows == assigned.count()
        assert summ.n_pixel_violations == 0
        assert summ.n_caption_violations == 0
        assert summ.min_psnr_db >= 40.0

    def test_corruption_detected(self, spark, images):
        corrupted = images.withColumn(
            "bytes",
            F.when(
                F.col("image_id") == "img0000000004",
                F.lit(bytearray(codec.encode_png(IMG.make_pixels(999)))),
            ).otherwise(F.col("bytes")),
        ).withColumn(
            "caption",
            F.when(F.col("image_id") == "img0000000007", F.lit("tampered")).otherwise(
                F.col("caption")
            ),
        )
        summ = IU.invariant_summary(IU.check_invariants(corrupted, images)).collect()[0]
        assert summ.n_pixel_violations == 1
        assert summ.n_caption_violations == 1

    def test_null_payload_counted_as_pixel_violation(self, spark, images):
        """A NULL payload must reach the decode path and surface as a pixel
        violation — plain `==` split dropped such rows from the invariant
        check entirely (round-2 ADVICE)."""
        nulled = images.withColumn(
            "bytes",
            F.when(
                F.col("image_id") == "img0000000005",
                F.lit(None).cast("binary"),
            ).otherwise(F.col("bytes")),
        )
        summ = IU.invariant_summary(IU.check_invariants(nulled, images)).collect()[0]
        assert summ.n_rows == 300
        assert summ.n_pixel_violations == 1

    def test_decode_stats_phash_matches_column(self, spark, images):
        stats = IU.decode_stats(images)
        joined = stats.join(images.select("image_id", "phash"), "image_id")
        bad = joined.filter(F.col("phash") != F.col("phash_recomputed")).count()
        assert bad == 0
        assert stats.filter(~F.col("decode_ok")).count() == 0

    def test_decode_stats_quarantines_corrupt_rows(self, spark, images):
        """Review regression: a corrupt or NULL payload yields a flagged
        row (decode_ok=False) instead of killing the task."""
        mutated = images.withColumn(
            "bytes",
            F.when(F.col("image_id") == "img0000000003", F.lit(None).cast("binary"))
            .when(
                F.col("image_id") == "img0000000004",
                F.lit(bytearray(b"not-an-image")),
            )
            .otherwise(F.col("bytes")),
        )
        stats = {r.image_id: r for r in IU.decode_stats(mutated).collect()}
        assert len(stats) == 300
        for bad_id in ("img0000000003", "img0000000004"):
            assert stats[bad_id].decode_ok is False
            assert stats[bad_id].phash_recomputed == -1
        assert stats["img0000000005"].decode_ok is True


class TestMultimodalTransforms:
    def test_resize_nearest_exact_downscale(self):
        px = IMG.make_pixels(13)
        rs = codec.resize_nearest(px, 8, 8)
        assert rs.shape == (8, 8, 3)
        assert (rs == px[::2, ::2]).all()

    def test_resize_images_spark(self, spark):
        from housenumbercore_spark.images import transform as TR

        src = IMG.images_df(spark, 20)
        out = TR.resize_images(src, 8, 8).collect()
        assert len(out) == 20
        for r in out:
            dec = codec.decode_image(bytes(r.bytes))
            assert dec.shape == (8, 8, 3)
            i = int(r.image_id[3:])
            if r.fmt == "png":  # lossless: exact nearest-sample parity
                assert (dec == IMG.make_pixels(i)[::2, ::2]).all()
            else:
                assert codec.psnr(dec, IMG.make_pixels(i)[::2, ::2]) >= 40.0
            assert r.caption == IMG.make_caption(i)

    def test_video_pack_unpack(self):
        frames = [codec.encode_png(IMG.make_pixels(i)) for i in range(5)]
        assert codec.unpack_video(codec.pack_video(frames)) == frames

    def test_frame_sample_spark(self, spark):
        from housenumbercore_spark.images import transform as TR

        vids = IMG.videos_df(spark, 6, n_frames=12)
        out = TR.frame_sample(vids, 5).collect()
        assert len(out) == 6 * 3  # frames 0, 5, 10
        for r in out:
            v = int(r.video_id[3:])
            px = codec.decode_image(bytes(r.frame_bytes))
            assert (px == IMG.make_pixels(v * 1000 + r.frame_idx)).all()
            assert (r.w, r.h) == (IMG.IMG_W, IMG.IMG_H)

    def test_audio_features_spark(self, spark):
        from housenumbercore_spark.images import transform as TR

        feats = {r.audio_id: r for r in TR.audio_features(IMG.audio_df(spark, 8)).collect()}
        assert len(feats) == 8
        for i in range(8):
            r = feats[f"aud{i:08d}"]
            amp = 0.2 + (i % 8) / 10
            assert r.sample_rate == IMG.AUDIO_RATE
            assert abs(r.duration_s - (0.5 + (i % 4) / 4)) < 1e-6
            assert abs(r.rms - amp / np.sqrt(2)) < 0.01
            assert 0 < r.zero_cross_rate < 0.2

    def test_audio_external_stub(self):
        with pytest.raises(NotImplementedError):
            codec.decode_audio_external(b"ID3...", "mp3")


class TestQuarantineAndAudioRegistry:
    """Round-4 review-pass fixes: per-row failure seams in the multimodal
    transforms, the audio-decoder registry, and the left-join/zero-row
    hardening of the invariant gate."""

    def test_resize_quarantines_corrupt_payload(self, spark):
        from housenumbercore_spark.images import transform as TR

        src = IMG.images_df(spark, 6)
        poisoned = src.withColumn(
            "bytes",
            F.when(
                F.col("image_id") == "img0000000003",
                F.lit(bytearray(b"not-an-image")),
            ).otherwise(F.col("bytes")),
        )
        out = {r.image_id: r for r in TR.resize_images(poisoned, 8, 8).collect()}
        assert len(out) == 6  # one bad row must not kill the other five
        bad = out["img0000000003"]
        assert bad.bytes is None and (bad.w, bad.h) == (-1, -1)
        assert bad.caption == IMG.make_caption(3)  # caption still rides
        good = out["img0000000001"]
        assert codec.decode_image(bytes(good.bytes)).shape == (8, 8, 3)

    def test_frame_sample_quarantines_container_and_frame(self, spark):
        from housenumbercore_spark.images import transform as TR

        ok = codec.pack_video([codec.encode_png(IMG.make_pixels(i)) for i in range(2)])
        mixed = codec.pack_video([codec.encode_png(IMG.make_pixels(5)), b"garbage"])
        df = spark.createDataFrame(
            [("vidok", bytearray(ok)), ("vidbad", bytearray(b"\x00trash")),
             ("vidmix", bytearray(mixed))],
            "video_id string, bytes binary",
        )
        rows = TR.frame_sample(df, 1).collect()
        by_vid = {}
        for r in rows:
            by_vid.setdefault(r.video_id, []).append(r)
        # corrupt container → one quarantine row, job survives
        (qc,) = by_vid["vidbad"]
        assert qc.frame_idx == -1 and qc.frame_bytes is None
        # corrupt FRAME inside a valid container → that frame flagged w=h=-1
        mix = {r.frame_idx: r for r in by_vid["vidmix"]}
        assert (mix[0].w, mix[0].h) == (IMG.IMG_W, IMG.IMG_H)
        assert (mix[1].w, mix[1].h) == (-1, -1)
        assert bytes(mix[1].frame_bytes) == b"garbage"  # payload kept for triage
        assert len(by_vid["vidok"]) == 2

    def test_audio_features_quarantines_corrupt_pcm(self, spark):
        from housenumbercore_spark.images import transform as TR

        good = IMG.audio_df(spark, 2)
        poisoned = good.withColumn(
            "bytes",
            F.when(
                F.col("audio_id") == "aud00000001", F.lit(bytearray(b"AUD1junk"))
            ).otherwise(F.col("bytes")),
        )
        out = {r.audio_id: r for r in TR.audio_features(poisoned).collect()}
        assert out["aud00000001"].n_samples == -1
        assert out["aud00000000"].sample_rate == IMG.AUDIO_RATE

    def test_registered_audio_decoder_reaches_workers(self, spark):
        """register_audio_decoder is the audio twin of register_codec: the
        registration must travel into Spark Python workers through the
        registry snapshot (a driver-global alone is invisible there)."""
        from housenumbercore_spark.images import transform as TR

        saved = dict(codec._AUDIO_DECODERS)
        try:
            rate = 8000

            def fake_mp3(buf):
                n = int.from_bytes(buf[4:8], "big")
                t = np.arange(n) / rate
                return (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype(
                    np.int16
                ), rate

            codec.register_audio_decoder("mp3", fake_mp3)
            # driver-side dispatch
            s, r = codec.decode_audio_external(b"MP3F" + (160).to_bytes(4, "big"), "MP3")
            assert r == rate and len(s) == 160
            # worker-side dispatch through audio_features
            df = spark.createDataFrame(
                [("a0", bytearray(b"MP3F" + (4000).to_bytes(4, "big")), "mp3", "c")],
                "audio_id string, bytes binary, fmt string, caption string",
            )
            row = TR.audio_features(df).collect()[0]
            assert row.sample_rate == rate
            assert row.n_samples == 4000
            assert abs(row.duration_s - 0.5) < 1e-9
            assert abs(row.rms - 0.5 / np.sqrt(2)) < 0.01
        finally:
            codec._AUDIO_DECODERS.clear()
            codec._AUDIO_DECODERS.update(saved)

    def test_unregistered_format_still_raises_loudly(self, spark):
        """NotImplementedError is a configuration error, not dirty data —
        it must abort the job, not quarantine."""
        from pyspark.errors.exceptions.captured import PythonException

        from housenumbercore_spark.images import transform as TR

        df = spark.createDataFrame(
            [("a0", bytearray(b"ID3xxxx"), "opus", "c")],
            "audio_id string, bytes binary, fmt string, caption string",
        )
        with pytest.raises(PythonException, match="NotImplementedError"):
            TR.audio_features(df).collect()

    def test_unknown_output_id_is_a_violation(self, spark):
        """check_invariants joins output LEFT: an output row whose id
        matches no source row (corrupted/renamed id) must surface as a
        pixel AND caption violation, not silently vanish (the inner join
        dropped exactly the corruption class the gate exists to catch)."""
        src = IMG.images_df(spark, 10)
        renamed = src.withColumn(
            "image_id",
            F.when(
                F.col("image_id") == "img0000000002", F.lit("imgCORRUPTED")
            ).otherwise(F.col("image_id")),
        )
        summ = IU.invariant_summary(IU.check_invariants(renamed, src)).collect()[0]
        assert summ.n_rows == 10  # every OUTPUT row is checked
        assert summ.n_pixel_violations == 1
        assert summ.n_caption_violations == 1

    def test_summaries_over_zero_rows(self, spark):
        """An empty check (zero output rows) must read as zero violations
        and a vacuously-true PSNR gate, not NULLs."""
        src = IMG.images_df(spark, 3)
        empty = src.filter(F.lit(False))
        chk = IU.check_invariants(empty, src)
        summ = IU.invariant_summary(chk).collect()[0]
        assert (summ.n_rows, summ.n_pixel_violations, summ.n_caption_violations) == (
            0, 0, 0,
        )
        gate = IU.invariant_gate_summary(chk).collect()[0]
        assert gate.n_rows == 0 and gate.psnr_gate_ok is True


class TestGateEarlyAssign:
    """images/assign.py: gate the payload once, run the spatial join narrow."""

    SF = "/root/testdata/sf0.001"

    @pytest.fixture(scope="class")
    def images(self, spark):
        return IMG.images_df(spark, 200, partitions=4).cache()

    @pytest.fixture(scope="class")
    def areas(self, spark):
        from housenumbercore_spark.sources import synthetic as S

        return S.areas_df(spark, self.SF)

    def test_keep_cols_pass_through_both_branches(self, spark, images):
        """lon/lat must ride through the JVM byte-equal branch AND the
        decode (mapInPandas) branch unchanged."""
        corrupted = images.withColumn(
            "bytes",
            F.when(
                F.col("image_id") == "img0000000004",
                F.lit(bytearray(codec.encode_png(IMG.make_pixels(999)))),
            ).otherwise(F.col("bytes")),
        )
        chk = IU.check_invariants(
            corrupted, images, keep_cols=("lon", "lat")
        ).toPandas().set_index("image_id")
        src = images.select("image_id", "lon", "lat").toPandas().set_index(
            "image_id"
        )
        assert len(chk) == 200
        # diff-branch row (decoded): coordinates intact, flagged
        assert not chk.loc["img0000000004", "pixels_ok"]
        assert chk.loc["img0000000004", "lon"] == src.loc["img0000000004", "lon"]
        # same-branch row: coordinates intact, clean
        assert chk.loc["img0000000007", "pixels_ok"]
        assert chk.loc["img0000000007", "lat"] == src.loc["img0000000007", "lat"]

    def test_keep_cols_collision_raises(self, spark, images):
        with pytest.raises(ValueError, match="collide"):
            IU.check_invariants(images, images, keep_cols=("pixels_ok",))

    def test_gated_assign_matches_direct_assign(self, spark, images, areas):
        """Clean input: assignments == assign_points_to_areas on the raw
        coordinates; quarantine empty; output narrow (no payload column)."""
        from housenumbercore_spark.images.assign import (
            assign_gated_images_to_areas,
        )
        from housenumbercore_spark.operators import pip_join as PJ

        assigned, quarantine = assign_gated_images_to_areas(
            spark, images, areas, tile_res=13
        )
        assert quarantine.count() == 0
        assert "bytes" not in assigned.columns
        assert "tile_id" in assigned.columns
        got = {
            (r.image_id, r.area_id)
            for r in assigned.select("image_id", "area_id").collect()
        }
        want = {
            (r.image_id, r.area_id)
            for r in PJ.assign_points_to_areas(
                spark, images.select("image_id", "lon", "lat"), areas
            ).collect()
        }
        assert got == want and len(got) > 0

    def test_corrupt_row_quarantined_not_assigned(self, spark, images, areas):
        from housenumbercore_spark.images.assign import (
            assign_gated_images_to_areas,
        )

        bad_id = "img0000000004"
        corrupted = images.withColumn(
            "caption",
            F.when(F.col("image_id") == bad_id, F.lit("tampered")).otherwise(
                F.col("caption")
            ),
        )
        assigned, quarantine = assign_gated_images_to_areas(
            spark, corrupted, areas, src_df=images
        )
        q = quarantine.collect()
        assert [r.image_id for r in q] == [bad_id]
        assert q[0].caption_ok is False and q[0].pixels_ok is True
        assert assigned.filter(F.col("image_id") == bad_id).count() == 0

    def test_replica_ids_gate_against_source(self, spark, images, areas):
        """src_id_col maps derived fact ids (replica suffixes) back to the
        source payloads — every replica is gated, assignments double."""
        from housenumbercore_spark.images.assign import (
            assign_gated_images_to_areas,
        )

        rep = spark.range(2).select(F.col("id").cast("string").alias("r"))
        big = images.crossJoin(F.broadcast(rep)).select(
            F.concat("image_id", F.lit("#"), "r").alias("image_id"),
            F.substring_index(
                F.concat("image_id", F.lit("#"), "r"), "#", 1
            ).alias("src_image_id"),
            "bytes", "caption", "lon", "lat",
        )
        assigned, quarantine = assign_gated_images_to_areas(
            spark, big, areas, src_df=images, src_id_col="src_image_id"
        )
        base, _ = assign_gated_images_to_areas(spark, images, areas)
        assert quarantine.count() == 0
        assert assigned.count() == 2 * base.count()

    def test_gated_assign_plan_never_shuffles(self, spark, images, areas):
        """The whole gated pipeline is broadcast + map: no shuffle exchange,
        no sort-merge join, no cartesian — payload bytes move through
        exactly one (broadcast) join."""
        from housenumbercore_spark.images.assign import (
            assign_gated_images_to_areas,
        )

        assigned, _ = assign_gated_images_to_areas(
            spark, images, areas, tile_res=13
        )
        plan = assigned._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


def _split_union(out, src, **kw):
    passed, refined = IU.check_invariants_split(out, src, **kw)
    return passed.unionByName(refined)


class TestDigestGate:
    """check_invariants_split: checksum fast path + payload-refetch decode
    fallback must produce verdicts identical to the byte gate of
    check_invariants."""

    @pytest.fixture(scope="class")
    def images(self, spark):
        return IMG.images_df(spark, 60, partitions=4).cache()

    @pytest.fixture(scope="class")
    def mutated(self, spark, images):
        """One pixel-corrupt row, one caption-tamper row, one NULL payload,
        one renamed id, one lossy re-encode (bytes differ, pixels close)."""
        reenc = codec.encode_image(
            codec.decode_image(
                bytes(
                    images.filter(F.col("image_id") == "img0000000008")
                    .select("bytes").collect()[0][0]
                )
            ),
            "jpgq",
        )
        return (
            images.withColumn(
                "bytes",
                F.when(
                    F.col("image_id") == "img0000000004",
                    F.lit(bytearray(codec.encode_png(IMG.make_pixels(999)))),
                )
                .when(F.col("image_id") == "img0000000005", F.lit(None).cast("binary"))
                .when(F.col("image_id") == "img0000000008", F.lit(bytearray(reenc)))
                .otherwise(F.col("bytes")),
            )
            .withColumn(
                "caption",
                F.when(
                    F.col("image_id") == "img0000000007", F.lit("tampered")
                ).otherwise(F.col("caption")),
            )
            .withColumn(
                "image_id",
                F.when(
                    F.col("image_id") == "img0000000002", F.lit("imgRENAMED")
                ).otherwise(F.col("image_id")),
            )
        )

    def test_digest_verdicts_match_byte_gate(self, spark, images, mutated):
        cols = ["image_id", "pixels_ok", "caption_ok", "psnr_db"]
        by = (
            IU.check_invariants(mutated, images)
            .select(cols).toPandas().set_index("image_id").sort_index()
        )
        dg = (
            _split_union(mutated, images)
            .select(cols).toPandas().set_index("image_id").sort_index()
        )
        assert list(by.index) == list(dg.index)
        assert (by.pixels_ok == dg.pixels_ok).all()
        assert (by.caption_ok == dg.caption_ok).all()
        # diff rows decode to the SAME real PSNR in both modes
        assert (by.psnr_db - dg.psnr_db).abs().max() < 1e-9
        # the fixture exercised every path
        assert not dg.loc["img0000000004", "pixels_ok"]  # corrupt pixels
        assert not dg.loc["img0000000005", "pixels_ok"]  # NULL payload
        assert not dg.loc["imgRENAMED", "pixels_ok"]     # unknown id
        assert not dg.loc["img0000000007", "caption_ok"]  # caption tamper
        # lossy re-encode: bytes differ but decode passes the PSNR floor
        r9 = dg.loc["img0000000008"]
        assert r9.pixels_ok and 40.0 <= r9.psnr_db < 999.0

    def test_digest_keep_cols_and_summary(self, spark, images, mutated):
        chk = _split_union(mutated, images, keep_cols=("lon", "lat"))
        assert {"lon", "lat"}.issubset(chk.columns)
        summ = IU.invariant_summary(chk).collect()[0]
        assert summ.n_rows == 60
        assert summ.n_pixel_violations == 3
        assert summ.n_caption_violations == 2  # tampered + renamed id


class TestDigestSplitRouting:
    """Digest-gate assign: passed-frame assignments, no silent drops."""

    SF = "/root/testdata/sf0.001"

    @pytest.fixture(scope="class")
    def images(self, spark):
        return IMG.images_df(spark, 80, partitions=4).cache()

    @pytest.fixture(scope="class")
    def areas(self, spark):
        from housenumbercore_spark.sources import synthetic as S

        return S.areas_df(spark, self.SF)

    @pytest.fixture(scope="class")
    def lossy(self, spark, images):
        """One PNG row re-encoded lossy: bytes differ, PSNR >= 40."""
        reenc = codec.encode_image(
            codec.decode_image(
                bytes(
                    images.filter(F.col("image_id") == "img0000000008")
                    .select("bytes").collect()[0][0]
                )
            ),
            "jpgq",
        )
        return images.withColumn(
            "bytes",
            F.when(
                F.col("image_id") == "img0000000008", F.lit(bytearray(reenc))
            ).otherwise(F.col("bytes")),
        )

    def test_no_row_vanishes(self, spark, images, areas, lossy):
        from housenumbercore_spark.images.assign import (
            assign_gated_images_to_areas,
        )

        assigned, quarantine = assign_gated_images_to_areas(
            spark, lossy, areas, src_df=images
        )
        q = quarantine.collect()
        # the lossy row is NOT silently dropped: it sits in quarantine
        # with its refined (passing) verdict
        assert [r.image_id for r in q] == ["img0000000008"]
        assert q[0].pixels_ok is True and 40.0 <= q[0].psnr_db < 999.0
        assert assigned.filter(
            F.col("image_id") == "img0000000008"
        ).count() == 0

    def test_digest_assignments_lineage_is_single_pass(
        self, spark, images, areas
    ):
        """The digest-mode assignments plan must carry NO decode machinery:
        no Python (MapInPandas), no payload refetch join, no union — one
        narrow broadcast-gate pass into the spatial join. (cover_cells'
        dim-side MapInPandas is the only Python allowed.)"""
        from housenumbercore_spark.images.assign import (
            assign_gated_images_to_areas,
        )

        from housenumbercore_spark.operators import pip_join as PJ

        assigned, _ = assign_gated_images_to_areas(
            spark, images, areas, tile_res=13
        )
        plan = assigned._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        # vs the ungated narrow join: the gate may add exactly ONE extra
        # broadcast hash join (the narrow digest dim) and NOTHING else —
        # no extra Python, no union branches, no payload refetch join
        base = PJ.tile_assign(
            PJ.assign_points_to_areas(
                spark, images.select("image_id", "lon", "lat"), areas
            ),
            13,
        )._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Union") == base.count("Union"), plan
        assert plan.count("BroadcastHashJoin") == base.count(
            "BroadcastHashJoin"
        ) + 1, plan
        # the source generator's own MapInPandas appears once per gate side
        assert plan.count("MapInPandas") <= base.count("MapInPandas") + 1, plan


class TestDigestReviewRegressions:
    """Review findings on the digest gate: independent second hash stream,
    broadcast refetch join, shared keep_cols validation."""

    @pytest.fixture(scope="class")
    def images(self, spark):
        return IMG.images_df(spark, 40, partitions=2).cache()

    def test_second_hash_stream_not_derived_from_first(self, spark):
        """Spark folds multi-arg hashes with the running hash as SEED, so
        xxhash64(b, lit(1)) is a pure function of xxhash64(b) — a first-
        stream collision always propagates. The gate must use the
        literal-FIRST form (different fixed seed, independent stream)."""
        from housenumbercore_spark.images.udfs import _digest_cols

        b = F.lit(bytearray(b"payload-bytes"))
        h2 = _digest_cols(b)[1]
        row = spark.range(1).select(
            h2.alias("gate"),
            F.xxhash64(b, F.lit(1)).alias("dependent_form"),
            F.xxhash64(F.lit(1), b).alias("independent_form"),
        ).collect()[0]
        assert row.gate == row.independent_form
        assert row.gate != row.dependent_form

    def test_quarantine_refetch_join_broadcasts_source(self, spark, images):
        """broadcast_src=True must reach the payload REFETCH join too: a
        payload-heavy source over the auto threshold would otherwise plan
        a sort-merge join that shuffles every source byte exactly when a
        single row is suspect."""
        corrupted = images.withColumn(
            "caption",
            F.when(F.col("image_id") == "img0000000003", F.lit("x"))
            .otherwise(F.col("caption")),
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:  # kill AUTO broadcast: only explicit hints act
            _, refined = IU.check_invariants_split(
                corrupted, images, broadcast_src=True
            )
            plan = refined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" not in plan, plan
            assert "ShuffledHashJoin" not in plan, plan
            q = refined.collect()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert [r.image_id for r in q] == ["img0000000003"]
        assert q[0].caption_ok is False and q[0].pixels_ok is True

    def test_split_keep_cols_collision_raises(self, spark, images):
        with pytest.raises(ValueError, match="collide"):
            IU.check_invariants_split(images, images, keep_cols=("__sid",))


class TestAudioRateQuarantine:
    def test_zero_and_overflow_rates_quarantine(self, spark):
        """Review regression: a decodable AUD1 header with rate=0
        (ZeroDivisionError) or rate>int32 (Arrow overflow) is dirty data —
        it must yield a quarantine row, not kill the task."""
        import struct
        import zlib

        from housenumbercore_spark.images import transform as TR

        def aud(rate):
            return bytearray(
                b"AUD1" + struct.pack(">I", rate)
                + zlib.compress(struct.pack(">4h", 1, 2, 3, 4))
            )

        ok_buf = codec.encode_pcm(
            np.array([100, -100, 50], dtype=np.int16), 16000
        )
        df = spark.createDataFrame(
            [("z", aud(0), "pcm"), ("big", aud(0xFFFFFFFF), "pcm"),
             ("ok", bytearray(ok_buf), "pcm")],
            "audio_id string, bytes binary, fmt string",
        )
        out = {r.audio_id: r for r in TR.audio_features(df).collect()}
        assert out["z"].n_samples == -1 and out["z"].sample_rate == -1
        assert out["big"].n_samples == -1
        assert out["ok"].n_samples > 0 and out["ok"].sample_rate > 0


class TestCaptionMissViolation:
    def test_null_caption_join_miss_is_violation(self, spark):
        """Review regression: an output row whose id matches no source row
        must be a caption violation EVEN IF its own caption is NULL
        (Python None == None used to read as a match)."""
        src = spark.createDataFrame(
            [("a", bytearray(codec.encode_png(IMG.make_pixels(1))), "cap")],
            "image_id string, bytes binary, caption string",
        )
        out = spark.createDataFrame(
            [("ghost", bytearray(codec.encode_png(IMG.make_pixels(2))), None)],
            "image_id string, bytes binary, caption string",
        )
        for name, chk in (
            ("check_invariants", IU.check_invariants(out, src)),
            ("check_invariants_split", _split_union(out, src)),
        ):
            row = chk.collect()[0]
            assert row.pixels_ok is False, name
            assert row.caption_ok is False, name
