"""Property tests for the LLM-data tier (SURVEY §5.2 item 1, ≈ operators).

Sketch/LSH operators can't be hash-matched against DuckDB (hash-family
dependent), so each is tested against its exact counterpart:
- MinHash-LSH recall vs exact n-gram Jaccard pairs,
- sign-LSH embedding near-dup recall on planted near-copies,
- BucketedRandomProjectionLSH ANN recall vs brute-force cosine top-k,
- SimHash metric properties (identity, locality),
- multimodal featurizer determinism + batch plumbing.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from data_and_analytics_etl_spark.catalog import load_table
from data_and_analytics_etl_spark.operators.dedup import (
    hamming64, jaccard_pairs, minhash_lsh_pairs, simhash64,
    with_word_shingles)
from data_and_analytics_etl_spark.operators.multimodal import (
    ASSET_SCHEMA, assets_from_documents, extract_features)
from data_and_analytics_etl_spark.operators.similarity import (
    ann_brp_lsh, cosine_neardup_lsh, cosine_topk)
from data_and_analytics_etl_spark.operators.text import tokens_of


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


class TestMinHashLSH:
    def test_recall_vs_exact_jaccard(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        sh = with_word_shingles(docs, "text", n=3)
        exact = _pairs(jaccard_pairs(sh, "doc_id", "shingles", 0.5))
        approx = _pairs(minhash_lsh_pairs(sh, "doc_id", "shingles", 0.5))
        # Exact-verify step makes precision 1.0 by construction.
        assert approx <= exact
        if exact:
            recall = len(approx & exact) / len(exact)
            # b=8, r=2 banding: P[candidate | j>=0.9] ~ 1-(1-0.81)^8 > 0.99
            assert recall >= 0.9, (recall, exact - approx)

    def test_no_false_positives_below_threshold(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        sh = with_word_shingles(docs, "text", n=3)
        out = minhash_lsh_pairs(sh, "doc_id", "shingles", threshold=0.5)
        assert out.filter(F.col("jaccard") < 0.5).count() == 0


class TestSetSimPrefixJoin:
    """setsim_prefix_pairs must equal the all-pairs baseline EXACTLY —
    the prefix filter is a lossless candidate pruner, not a sketch."""

    def test_equals_allpairs_baseline(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.dedup import (
            setsim_prefix_pairs)
        docs = load_table(spark, sf_dir, "documents")
        sh = with_word_shingles(docs, "text", n=3)
        exact = {(r.id_a, r.id_b, r.jaccard)
                 for r in jaccard_pairs(sh, "doc_id", "shingles",
                                        0.5).collect()}
        pref = {(r.id_a, r.id_b, r.jaccard)
                for r in setsim_prefix_pairs(sh, "doc_id", "shingles",
                                             0.5).collect()}
        assert pref == exact
        assert exact  # non-vacuous: the corpus has planted near-dups

    def test_no_cartesian_in_plan(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.dedup import (
            setsim_prefix_pairs)
        docs = load_table(spark, sf_dir, "documents")
        sh = with_word_shingles(docs, "text", n=3)
        plan = (setsim_prefix_pairs(sh, "doc_id", "shingles", 0.5)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_tighter_threshold_subset(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.dedup import (
            setsim_prefix_pairs)
        docs = load_table(spark, sf_dir, "documents")
        sh = with_word_shingles(docs, "text", n=3)
        lo = _pairs(setsim_prefix_pairs(sh, "doc_id", "shingles", 0.5))
        hi = _pairs(setsim_prefix_pairs(sh, "doc_id", "shingles", 0.9))
        assert hi <= lo


class TestSimHash:
    def test_identity_and_locality(self, spark):
        base = "the quick brown fox jumps over the lazy dog " * 8
        near = base.replace("lazy", "sleepy")
        far = "completely different words about spark shuffles " * 8
        df = spark.createDataFrame(
            [(0, base), (1, base), (2, near), (3, far)], "id: long, text: string")
        fp = df.select("id", simhash64(tokens_of(F.col("text"))).alias("s"))
        vals = {r.id: r.s for r in fp.collect()}
        assert vals[0] == vals[1]  # identical text -> identical fingerprint
        # near-dup pair lands much closer in Hamming space than unrelated
        ham = fp.alias("x").join(fp.alias("y"), F.lit(True)).select(
            F.col("x.id").alias("i"), F.col("y.id").alias("j"),
            hamming64(F.col("x.s"), F.col("y.s")).alias("h"))
        hmap = {(r.i, r.j): r.h for r in ham.collect()}
        assert hmap[(0, 2)] < hmap[(0, 3)]
        assert hmap[(0, 2)] <= 16


class TestEmbeddingNearDup:
    def test_planted_near_copies_found(self, spark):
        rng = np.random.default_rng(7)
        base = rng.standard_normal((20, 32)).astype("float32")
        rows = [(i, base[i].tolist()) for i in range(20)]
        # plant 5 near-copies: id 100+i is id i plus tiny noise
        for i in range(5):
            noisy = base[i] + 0.01 * rng.standard_normal(32).astype("float32")
            rows.append((100 + i, noisy.tolist()))
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
        found = _pairs(cosine_neardup_lsh(df, threshold=0.99, n_tables=6,
                                          dim=32))
        assert {(i, 100 + i) for i in range(5)} <= found

    def test_threshold_respected(self, spark, sf_dir):
        e = load_table(spark, sf_dir, "embeddings")
        out = cosine_neardup_lsh(e, threshold=0.35, dim=64)
        assert out.filter(F.col("cosine") < 0.35).count() == 0


class TestANN:
    def test_recall_vs_brute_force(self, spark, sf_dir):
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 5)
        k = 10
        exact = cosine_topk(e, probes, k=k)
        approx = ann_brp_lsh(e, probes, k=k)
        ex = {(r.probe_id, r.vec_id) for r in exact.collect()}
        ap = {(r.probe_id, r.vec_id) for r in approx.collect()}
        assert len(ex) > 0
        recall = len(ex & ap) / len(ex)
        assert recall >= 0.6, recall

    def test_rank_is_bounded_and_dense(self, spark, sf_dir):
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 3)
        out = ann_brp_lsh(e, probes, k=5).collect()
        by_probe: dict = {}
        for r in out:
            by_probe.setdefault(r.probe_id, []).append(r.rank)
        for ranks in by_probe.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
            assert len(ranks) <= 5


class TestWinnowing:
    def test_shared_substring_guarantee(self, spark):
        from data_and_analytics_etl_spark.operators.text import (
            winnow_fingerprints)
        # docs share a substring of length w + k - 1 = 8 -> MUST share
        # at least one fingerprint despite different surroundings
        shared = "abcdefgh"
        df = spark.createDataFrame(
            [(1, "xxxx" + shared + "yyyy"),
             (2, "qqqqqq" + shared + "rrr"),
             (3, "zzzzzzzzzzzzzzzz")], ["doc_id", "norm"])
        fps = winnow_fingerprints(df, "norm", k=5, w=4).collect()
        by_doc = {}
        for r in fps:
            by_doc.setdefault(r.doc_id, set()).add(r.winnow_fp.split(":")[1])
        assert by_doc[1] & by_doc[2]
        assert not (by_doc[1] & by_doc[3])

    def test_density_bounded(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.text import (
            normalize_text, winnow_fingerprints)
        d = (load_table(spark, sf_dir, "documents")
             .select("doc_id", normalize_text(F.col("text")).alias("norm"))
             .filter(F.length("norm") > 50))
        n_docs = d.count()
        total_chars = d.select(F.sum(F.length("norm"))).collect()[0][0]
        n_fp = winnow_fingerprints(d, "norm", k=5, w=4).count()
        # expected density ~ 2/(w+1) of grams; allow generous slack
        assert n_fp < 0.8 * total_chars
        assert n_fp > n_docs  # and it's not degenerate


class TestInt8Quantization:
    def test_quantization_error_bounded(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.similarity import (
            quantize_int8)
        e = load_table(spark, sf_dir, "embeddings")
        rows = (e.join(quantize_int8(e), "vec_id")
                .select("vec_id", "embedding", "scale", "qvec")
                .limit(50).collect())
        assert rows
        for r in rows:
            v = np.asarray(r.embedding, dtype=np.float64)
            deq = np.asarray(r.qvec, dtype=np.float64) * r.scale / 127.0
            # max dequantization error is half a quantization step
            assert np.max(np.abs(v - deq)) <= r.scale / 127.0 * 0.5 + 1e-12
            assert np.max(np.abs(np.asarray(r.qvec))) <= 127

    def test_int8_topk_recall_vs_float(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.similarity import (
            cosine_topk, cosine_topk_int8)
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 20)
        k = 10
        exact = {(r.probe_id, r.vec_id)
                 for r in cosine_topk(e, probes, k).collect()}
        quant = {(r.probe_id, r.vec_id)
                 for r in cosine_topk_int8(e, probes, k).collect()}
        recall = len(exact & quant) / len(exact)
        assert recall >= 0.9, recall

    def test_zero_vector_quantizes_to_zeros(self, spark):
        from data_and_analytics_etl_spark.operators.similarity import (
            quantize_int8)
        df = spark.createDataFrame(
            [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
            ["vec_id", "embedding"])
        got = {r.vec_id: r for r in quantize_int8(df).collect()}
        assert got[1].scale == 0.0 and list(got[1].qvec) == [0, 0, 0]
        assert got[2].scale == 2.0
        assert list(got[2].qvec) == [64, -127, 32]  # floor(+0.5) rule


class TestMultimodal:
    def test_asset_schema_and_feature_determinism(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < 30)
        assets = assets_from_documents(docs)
        # simpleString ignores nullability flags (projection outputs are
        # nullable wherever the optimizer can't prove otherwise)
        assert assets.schema.simpleString() == ASSET_SCHEMA.simpleString()
        feats = extract_features(assets).orderBy("asset_id")
        rows = feats.collect()
        assert len(rows) == docs.count()
        # pin one value against an independent numpy computation
        doc0 = docs.filter(F.col("doc_id") == 0).select("text").first()[0]
        b = np.frombuffer(doc0.encode(), dtype=np.uint8)
        counts = np.bincount(b, minlength=256)
        p = counts[counts > 0] / b.size
        want_entropy = round(float(-(p * np.log2(p)).sum()), 6)
        got = [r for r in rows if r.asset_id == 0][0]
        assert got.n_bytes == b.size
        assert got.byte_entropy == pytest.approx(want_entropy, abs=1e-6)
        assert got.feat_mean == pytest.approx(round(float(b.mean()), 6))

    def test_decode_is_gated_not_fake(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import (
            _decode_payload)
        # video containers need av (absent): gated, never faked
        with pytest.raises(NotImplementedError):
            _decode_payload(b"\x00\x00\x00\x18ftypmp42" + b"\0" * 16,
                            "video")


def _make_wav(sample_rate=8000, freq=440, n_frames=800, amp=10000):
    """Deterministic mono 16-bit PCM WAV via stdlib wave/struct."""
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        frames = b"".join(
            struct.pack("<h", int(amp * math.sin(2 * math.pi * freq * i
                                                 / sample_rate)))
            for i in range(n_frames))
        w.writeframes(frames)
    return buf.getvalue()


def _make_bmp(width=4, height=3, rgb=(10, 200, 30)):
    """Minimal uncompressed 24bpp bottom-up BMP, solid color."""
    import struct

    row = bytes([rgb[2], rgb[1], rgb[0]]) * width
    pad = b"\0" * ((4 - (width * 3) % 4) % 4)
    pixels = (row + pad) * height
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(pixels), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0,
                         14 + 40)
    return header + dib + pixels


class TestRealDecode:
    """Stdlib codec round-trips: WAV (wave/struct) and BMP (header+pixels).

    These prove _decode_payload has a WORKING branch — real header parse,
    real PCM/pixel extraction — not just a gated stub.
    """

    def test_wav_roundtrip_metadata_and_signal(self):
        from data_and_analytics_etl_spark.operators.multimodal import (
            _decode_payload)
        d = _decode_payload(_make_wav(sample_rate=8000, n_frames=800),
                            "audio")
        assert d["codec"] == "wav"
        assert d["sample_rate"] == 8000
        assert d["n_frames"] == 800
        assert d["duration_s"] == pytest.approx(0.1)
        # full periods of a sine: mean ~0, rms ~ amp/sqrt(2)
        assert abs(d["signal_mean"]) < 50
        assert d["signal_rms"] == pytest.approx(10000 / np.sqrt(2),
                                                rel=0.01)

    def test_bmp_roundtrip_dimensions_and_luminance(self):
        from data_and_analytics_etl_spark.operators.multimodal import (
            _decode_payload)
        d = _decode_payload(_make_bmp(4, 3, (10, 200, 30)), "image")
        assert d["codec"] == "bmp"
        assert (d["width"], d["height"]) == (4, 3)
        want = 0.299 * 10 + 0.587 * 200 + 0.114 * 30
        assert d["signal_mean"] == pytest.approx(want, abs=1e-6)

    def test_decode_assets_mixed_batch(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import (
            decode_assets)
        rows = [
            (1, "audio", bytearray(_make_wav()),),
            (2, "image", bytearray(_make_bmp(2, 2, (0, 0, 255))),),
            (3, "video", bytearray(b"\x00\x01garbage"),),
        ]
        assets = spark.createDataFrame(
            rows, "asset_id long, modality string, payload binary")
        out = {r.asset_id: r for r in decode_assets(assets).collect()}
        assert out[1].codec == "wav" and out[1].error is None
        assert out[1].sample_rate == 8000
        assert out[2].codec == "bmp" and out[2].width == 2
        assert out[2].signal_mean == pytest.approx(0.114 * 255, abs=1e-6)
        # corrupt payload quarantined, never a task failure
        assert out[3].codec is None and out[3].error is not None

    def test_corrupt_wav_header_quarantined(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import (
            decode_assets)
        bad = _make_wav()[:20]  # truncated mid-header
        assets = spark.createDataFrame(
            [(9, "audio", bytearray(bad))],
            "asset_id long, modality string, payload binary")
        row = decode_assets(assets).collect()[0]
        assert row.error is not None and row.codec is None


def _make_png(width, height, pixels, color_type=2, filters=None):
    """Deterministic PNG via stdlib struct/zlib with per-row filter
    control: ``pixels[r]`` is a list of per-pixel sample tuples; the
    forward filter (spec §9) is applied here so the decoder's unfilter
    path is exercised against independently-computed bytes."""
    import struct
    import zlib

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * ch

    def chunk(t, data):
        return (struct.pack(">I", len(data)) + t + data
                + struct.pack(">I", zlib.crc32(t + data) & 0xFFFFFFFF))

    raw = bytearray()
    prev = bytes(stride)
    for r in range(height):
        line = bytes(v for px in pixels[r] for v in px)
        f = filters[r] if filters else 0
        enc = bytearray(line)
        for i in range(stride - 1, -1, -1):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 1:
                enc[i] = (line[i] - a) & 0xFF
            elif f == 2:
                enc[i] = (line[i] - b) & 0xFF
            elif f == 3:
                enc[i] = (line[i] - ((a + b) >> 1)) & 0xFF
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
                enc[i] = (line[i] - pred) & 0xFF
        raw += bytes([f]) + enc
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


#: 3x2 RGB test image with non-uniform rows (exercises every predictor).
_PNG_PIXELS = [[(10, 200, 30), (0, 0, 255), (255, 255, 0)],
               [(1, 2, 3), (130, 90, 200), (77, 77, 77)]]
_PNG_WANT_MEAN = sum(0.299 * r + 0.587 * g + 0.114 * b
                     for row in _PNG_PIXELS for r, g, b in row) / 6


class TestPngDecode:
    """Stdlib PNG decode: real zlib inflate + full filter-set unfilter,
    pinned against independently-computed BT.601 luminance."""

    def test_rgb_filter_none(self):
        from data_and_analytics_etl_spark.operators.multimodal import (
            _decode_payload)
        d = _decode_payload(_make_png(3, 2, _PNG_PIXELS), "image")
        assert d["codec"] == "png"
        assert (d["width"], d["height"]) == (3, 2)
        assert d["signal_mean"] == pytest.approx(_PNG_WANT_MEAN, abs=1e-9)

    @pytest.mark.parametrize("filters", [[1, 2], [3, 4], [4, 3], [2, 1]])
    def test_every_filter_type_unfilters_identically(self, filters):
        # same pixels through Sub/Up/Average/Paeth must decode to the
        # same statistics as the unfiltered encoding
        from data_and_analytics_etl_spark.operators.multimodal import (
            _decode_payload)
        d = _decode_payload(_make_png(3, 2, _PNG_PIXELS, filters=filters),
                            "image")
        assert d["signal_mean"] == pytest.approx(_PNG_WANT_MEAN, abs=1e-9)

    def test_gray_and_rgba(self):
        from data_and_analytics_etl_spark.operators.multimodal import (
            _decode_payload)
        g = _decode_payload(
            _make_png(2, 2, [[(10,), (20,)], [(30,), (40,)]], color_type=0),
            "image")
        assert g["codec"] == "png" and g["signal_mean"] == 25.0
        rgba = [[(10, 200, 30, 255), (0, 0, 255, 128)],
                [(1, 2, 3, 0), (130, 90, 200, 7)]]
        want = sum(0.299 * r + 0.587 * g2 + 0.114 * b
                   for row in rgba for r, g2, b, _ in row) / 4
        d = _decode_payload(_make_png(2, 2, rgba, color_type=6), "image")
        assert d["signal_mean"] == pytest.approx(want, abs=1e-9)

    def test_palette_png_quarantines(self):
        from data_and_analytics_etl_spark.operators.multimodal import (
            _decode_payload)
        import struct
        import zlib
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)  # type 3

        def chunk(t, data):
            return (struct.pack(">I", len(data)) + t + data
                    + struct.pack(">I", zlib.crc32(t + data) & 0xFFFFFFFF))
        payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                   + chunk(b"IDAT", zlib.compress(b"\0\0\0\0\0\0"))
                   + chunk(b"IEND", b""))
        with pytest.raises(NotImplementedError):
            _decode_payload(payload, "image")

    def test_jpeg_path_is_pillow_gated(self):
        from data_and_analytics_etl_spark.operators.multimodal import (
            _decode_payload)
        soi = b"\xff\xd8\xff\xe0" + b"\0" * 16
        try:
            import PIL.Image  # noqa: F401
        except ImportError:
            with pytest.raises(NotImplementedError, match="Pillow"):
                _decode_payload(soi, "image")
        else:
            # Pillow present: garbage after SOI must still quarantine
            # (raise SOMETHING catchable), never hang or segfault
            with pytest.raises(Exception):
                _decode_payload(soi, "image")

    def test_decode_assets_png_end_to_end(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import (
            decode_assets)
        assets = spark.createDataFrame(
            [(7, "image", bytearray(_make_png(3, 2, _PNG_PIXELS,
                                              filters=[4, 2])))],
            "asset_id long, modality string, payload binary")
        row = decode_assets(assets).collect()[0]
        assert row.codec == "png" and row.error is None
        assert (row.width, row.height) == (3, 2)
        assert row.signal_mean == pytest.approx(_PNG_WANT_MEAN, abs=1e-6)


def _make_bmp_rows(rows_rgb, height_sign=1):
    """24bpp BMP from explicit per-row colors (stored order);
    height_sign=-1 writes a top-down (negative height) header."""
    import struct

    width = len(rows_rgb[0])
    row_bytes = (width * 3 + 3) & ~3
    pad = b"\0" * (row_bytes - width * 3)
    pixels = b"".join(
        b"".join(bytes([b, g, r]) for r, g, b in row) + pad
        for row in rows_rgb)
    dib = struct.pack("<IiiHHIIiiII", 40, width,
                      height_sign * len(rows_rgb), 1, 24, 0,
                      len(pixels), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 54)
    return header + dib + pixels


class TestTopDownBmp:
    def test_topdown_resize_preserves_orientation(self):
        """A top-down (negative-height) BMP must re-encode top-down after
        resize: stored-order resampling + a bottom-up header would flip
        the image vertically."""
        import struct
        from data_and_analytics_etl_spark.operators.multimodal import (
            _resize_bmp)
        red, blue = (255, 0, 0), (0, 0, 255)
        top_down = _make_bmp_rows([[red, red], [blue, blue]],
                                  height_sign=-1)
        out = _resize_bmp(top_down, 2, 2)  # identity resize
        height = struct.unpack_from("<i", out, 22)[0]
        assert height == -2  # orientation preserved
        # first stored row must still be the red one
        off = struct.unpack_from("<I", out, 10)[0]
        assert out[off:off + 3] == bytes([0, 0, 255])  # BGR red
        # and the same image stored bottom-up resizes to identical
        # RENDERED content: stored rows reversed, header positive
        bottom_up = _make_bmp_rows([[blue, blue], [red, red]],
                                   height_sign=1)
        out2 = _resize_bmp(bottom_up, 2, 2)
        assert struct.unpack_from("<i", out2, 22)[0] == 2
        off2 = struct.unpack_from("<I", out2, 10)[0]
        assert out2[off2:off2 + 3] == bytes([255, 0, 0])  # BGR blue


class TestIVF:
    def test_recall_vs_brute_force(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.similarity import ivf_ann
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 5)
        exact = {(r.probe_id, r.vec_id) for r in
                 cosine_topk(e, probes, k=10).collect()}
        approx = {(r.probe_id, r.vec_id) for r in
                  ivf_ann(e, probes, k=10, n_probe=8).collect()}
        # n_probe=8 of 16 cells on near-uniform vectors: measured ~0.79
        # at sf0.01; 0.5 leaves margin across scale factors
        assert len(exact & approx) / len(exact) >= 0.5

    def test_deterministic(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.similarity import ivf_ann
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 3)
        a = sorted(map(tuple, ivf_ann(e, probes, k=5).collect()))
        b = sorted(map(tuple, ivf_ann(e, probes, k=5).collect()))
        assert a == b


class TestDedupClusters:
    def test_chain_and_singleton_components(self, spark):
        from data_and_analytics_etl_spark.operators.dedup import (
            dedup_clusters)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
        vertices = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 4, 5, 6)], "doc_id long")
        out = {r.doc_id: r.cluster_rep
               for r in dedup_clusters(pairs, vertices).collect()}
        # chain 1-2-3 collapses transitively; 4 is a singleton
        assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}

    def test_long_chain_converges(self, spark):
        from data_and_analytics_etl_spark.operators.dedup import (
            dedup_clusters)
        n = 12
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long")
        vertices = spark.createDataFrame(
            [(i,) for i in range(n + 1)], "doc_id long")
        out = dedup_clusters(pairs, vertices).collect()
        assert all(r.cluster_rep == 0 for r in out)

    def test_5k_path_graph_converges_in_log_rounds(self, spark):
        # Adversarial diameter (templated-spam shape): a 5000-node path.
        # Plain min-label propagation needs ~5000 rounds; the pointer-
        # doubling step must land it within 15.
        from data_and_analytics_etl_spark.operators.dedup import (
            dedup_clusters)
        n = 5000
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
        vertices = spark.range(n).withColumnRenamed("id", "doc_id")
        out = dedup_clusters(pairs, vertices, max_iter=15).collect()
        assert len(out) == n
        assert all(r.cluster_rep == 0 for r in out)

    def test_max_iter_exit_raises(self, spark):
        import pytest as _pytest
        from data_and_analytics_etl_spark.operators.dedup import (
            dedup_clusters)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], "id_a long, id_b long")
        vertices = spark.range(64).withColumnRenamed("id", "doc_id")
        with _pytest.raises(RuntimeError, match="fixed point"):
            dedup_clusters(pairs, vertices, max_iter=2)


class TestSignCellANN:
    def test_recall_vs_brute_force(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.similarity import (
            ann_signcell)
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 8)
        exact = {(r.probe_id, r.vec_id)
                 for r in cosine_topk(e, probes, k=5).collect()}
        pruned = {(r.probe_id, r.vec_id)
                  for r in ann_signcell(e, probes, k=5).collect()}
        assert exact
        recall = len(exact & pruned) / len(exact)
        # cosine-close vectors agree on most sign bits; Hamming-1
        # expansion covers single-bit disagreements
        assert recall >= 0.5, recall

    def test_subset_of_cells_scanned(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.similarity import (
            ann_signcell, cosine)  # noqa: F401
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 3)
        out = ann_signcell(e, probes, k=5).collect()
        # bounded output, dense ranks
        by_probe: dict = {}
        for r in out:
            by_probe.setdefault(r.probe_id, []).append(r.rank)
        for ranks in by_probe.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
            assert len(ranks) <= 5


class TestRepetitionSignals:
    def test_edge_cases_and_known_values(self, spark):
        from data_and_analytics_etl_spark.operators.text import (
            repetition_signals)
        rows = [(1, "a a a a"),          # one word repeated
                (2, "a b c d"),          # all distinct
                (3, "x"),                # single token: no bigrams
                (4, "a b a b a b")]      # looping bigram
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sig = repetition_signals(F.col("text"))
        out = {r.doc_id: r for r in df.select(
            "doc_id", sig["dup_word_frac"].alias("w"),
            sig["top_bigram_frac"].alias("t"),
            sig["dup_bigram_frac"].alias("d")).collect()}
        assert out[1].w == 0.75 and out[1].t == 1.0 and out[1].d == 1.0
        # 4 distinct tokens -> 3 bigrams each seen once: top = 1/3
        assert out[2].w == 0.0 and out[2].t == 0.333333 and out[2].d == 0.0
        assert out[3].w == 0.0 and out[3].t == 0.0 and out[3].d == 0.0
        # 'a b' x3 + 'b a' x2 over 5 bigrams
        assert out[4].t == 0.6 and out[4].d == 1.0


class TestCorpusOps:
    def test_pack_budget_keeps_deterministic_prefix(self, spark):
        from data_and_analytics_etl_spark.operators.corpus import (
            pack_to_token_budget)
        rows = [(i, 10) for i in range(20)]  # 20 docs x 10 tokens
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        out = pack_to_token_budget(df, budget=95, id_col="doc_id",
                                   ntok_col="n_tokens", n_buckets=4)
        kept = sorted(r.doc_id for r in out.collect())
        # order is (bucket=id%4, id): 0,4,8,12,16,1,5,9,13,... -> 9 fit
        assert kept == sorted([0, 4, 8, 12, 16, 1, 5, 9, 13])
        # budget below the smallest doc keeps nothing; huge keeps all
        assert pack_to_token_budget(df, 9, "doc_id", "n_tokens", 4
                                    ).count() == 0
        assert pack_to_token_budget(df, 10_000, "doc_id", "n_tokens", 4
                                    ).count() == 20

    def test_decontaminate_flags_and_keeps_clean_docs(self, spark):
        from data_and_analytics_etl_spark.operators.corpus import (
            decontaminate)
        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps"),
             (2, "totally unrelated words here now"),
             (3, "quick brown fox somewhere else")],
            "doc_id long, text string")
        bench = spark.createDataFrame(
            [(100, "a quick brown fox appears")], "doc_id long, text string")
        out = {r.doc_id: r for r in
               decontaminate(docs, bench, n=3, min_overlap=1).collect()}
        assert out[1].contaminated and out[1].n_overlap == 1
        assert not out[2].contaminated and out[2].n_overlap == 0
        assert out[3].contaminated  # shares 'quick brown fox'
        assert len(out) == 3  # zero-overlap docs stay in the output

    def test_chunk_text_boundaries_and_provenance(self, spark):
        from data_and_analytics_etl_spark.operators.corpus import chunk_text
        docs = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(10))),   # exactly 2 chunks
             (2, "a b c"),                                # <= one window
             (3, " ".join(f"t{i}" for i in range(11)))],  # ragged tail
            "doc_id long, text string")
        out = chunk_text(docs, chunk_tokens=6, overlap=2)
        rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
        # doc1: stride 4 -> chunks [w0..w5], [w4..w9]
        assert rows[(1, 0)].chunk_text.split() == [f"w{i}" for i in range(6)]
        assert rows[(1, 1)].chunk_text.split() == [f"w{i}" for i in range(4, 10)]
        # doc2 stays whole
        assert rows[(2, 0)].chunk_text == "a b c"
        assert rows[(2, 0)].n_chunk_tokens == 3
        # doc3: chunks at 0,4,8 -> last is 3 tokens
        assert rows[(3, 2)].n_chunk_tokens == 3
        assert len([k for k in rows if k[0] == 3]) == 3
        # overlap >= chunk rejected
        import pytest as _pytest
        with _pytest.raises(ValueError):
            chunk_text(docs, chunk_tokens=4, overlap=4)

    def test_redact_pii_tags_all_three_kinds(self, spark):
        from data_and_analytics_etl_spark.operators.text import redact_pii
        df = spark.createDataFrame(
            [("mail a.b-c_1@ex-ample.co.uk call 555.123.4567 ip 10.0.255.1 "
              "keep 1.2 and v1.2.3 and plain text",)], "text string")
        t = df.select(redact_pii(F.col("text")).alias("t")).first().t
        assert "<EMAIL>" in t and "<PHONE>" in t and "<IP>" in t
        assert "keep 1.2 and v1.2.3 and plain text" in t


class TestResizeAndFrames:
    """r5 multimodal additions: REAL nearest-neighbor BMP resize and
    WAV frame sampling, with the per-row quarantine contract."""

    def test_bmp_resize_roundtrips_through_decoder(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import (
            _decode_payload, resize_images)
        df = spark.createDataFrame(
            [(1, bytearray(_make_bmp(8, 6, (10, 200, 30)))),
             (2, bytearray(b"not a bmp"))],
            "asset_id long, payload binary")
        rows = {r["asset_id"]: r for r in
                resize_images(df, 4, 3).collect()}
        ok = rows[1]
        assert ok["error"] is None and (ok["width"], ok["height"]) == (4, 3)
        d = _decode_payload(bytes(ok["payload"]), "image")
        assert (d["width"], d["height"]) == (4, 3)
        # solid-color image: luminance is invariant under resize
        src = _decode_payload(_make_bmp(8, 6, (10, 200, 30)), "image")
        assert abs(d["signal_mean"] - src["signal_mean"]) < 1e-9
        assert rows[2]["error"] is not None and rows[2]["payload"] is None

    def test_bmp_identity_resize_preserves_pixels(self):
        from data_and_analytics_etl_spark.operators.multimodal import (
            _resize_bmp)
        src = _make_bmp(5, 4, (7, 77, 177))
        assert _resize_bmp(src, 5, 4) == src

    def test_wav_frame_sampling_exact_stats(self, spark):
        import struct
        import wave
        import io
        from data_and_analytics_etl_spark.operators.multimodal import (
            sample_frames)
        # 4 windows of 100 samples at constant amplitudes 0/100/-100/400:
        # per-frame mean == amplitude, rms == |amplitude|
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1); w.setsampwidth(2); w.setframerate(8000)
            for amp in (0, 100, -100, 400):
                w.writeframes(struct.pack("<h", amp) * 100)
        df = spark.createDataFrame(
            [(9, bytearray(buf.getvalue())), (10, bytearray(b"RIFFxxxx"))],
            "asset_id long, payload binary")
        out = sample_frames(df, n_frames=4).collect()
        frames = sorted(((r["frame_idx"], r["frame_mean"], r["frame_rms"],
                          r["n_samples"], r["start_s"])
                         for r in out if r["asset_id"] == 9))
        assert frames == [(0, 0.0, 0.0, 100, 0.0),
                          (1, 100.0, 100.0, 100, 0.0125),
                          (2, -100.0, 100.0, 100, 0.025),
                          (3, 400.0, 400.0, 100, 0.0375)]
        bad = [r for r in out if r["asset_id"] == 10]
        assert len(bad) == 1 and bad[0]["error"] is not None

    def test_non_wav_video_quarantined_not_crashed(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import (
            sample_frames)
        df = spark.createDataFrame(
            [(1, bytearray(b"\x00\x00\x00\x20ftypmp42" + b"\0" * 32))],
            "asset_id long, payload binary")
        rows = sample_frames(df, n_frames=3).collect()
        assert len(rows) == 1
        assert "NotImplementedError" in rows[0]["error"]


def test_shingle_formulation_matches_concat_ws(spark, sf_dir):
    """with_word_shingles' slice+array_join strings must equal the
    concat_ws-over-elements form verbatim (every shingle oracle depends
    on it); guards the r5 reformulation that removed the per-position
    element_at re-tokenization."""
    import pyspark.sql.functions as F
    from data_and_analytics_etl_spark.catalog import load_table
    from data_and_analytics_etl_spark.operators.dedup import \
        with_word_shingles
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = with_word_shingles(d, "text", n=3, out="g")
    toks = F.col("__toks")
    npos = F.greatest(F.size(toks) - 2, F.lit(0))
    ref = F.when(npos > 0, F.array_distinct(F.transform(
        F.sequence(F.lit(1), npos),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j).cast("int"))
                                     for j in range(3)])))
    ).otherwise(F.array().cast("array<string>"))
    want = (d.withColumn("__toks", F.split("text", r"\s+"))
            .select("doc_id", ref.alias("g")))
    joined = got.select("doc_id", F.col("g").alias("a")).join(
        want.select("doc_id", F.col("g").alias("b")), "doc_id")
    assert joined.filter(F.col("a") != F.col("b")).count() == 0


class TestContentDefinedChunking:
    """Gear-hash CDC: the shift-resilience property that justifies the
    operator, plus determinism and the quarantine contract."""

    def _chunk(self, spark, payloads, **kw):
        from data_and_analytics_etl_spark.operators.multimodal import \
            content_defined_chunks
        df = spark.createDataFrame(
            [(i, bytearray(p)) for i, p in enumerate(payloads)],
            "asset_id long, payload binary")
        return content_defined_chunks(df, **kw).collect()

    def test_chunks_tile_payload_exactly(self, spark):
        import os
        data = os.urandom(4096)  # test-local randomness, op is pure
        rows = sorted((r["chunk_idx"], r["offset"], r["length"])
                      for r in self._chunk(spark, [data]))
        assert rows[0][1] == 0
        for (_, o1, l1), (_, o2, _) in zip(rows, rows[1:]):
            assert o1 + l1 == o2
        assert rows[-1][1] + rows[-1][2] == len(data)
        assert all(l <= 1024 for _, _, l in rows)

    def test_insertion_shifts_only_local_chunks(self, spark):
        """The CDC property: prepending bytes re-chunks the head but the
        tail chunk hashes survive — fixed-size blocking would lose ALL
        alignment."""
        base = bytes(range(256)) * 16                   # 4 KiB
        edited = b"INSERTED!" + base
        a, b = (self._chunk(spark, [p]) for p in (base, edited))
        ha = {r["chunk_hash"] for r in a}
        hb = {r["chunk_hash"] for r in b}
        assert len(ha & hb) >= len(ha) // 2, (len(ha & hb), len(ha))

    def test_deterministic_across_runs(self, spark):
        data = bytes(range(251)) * 20
        r1 = sorted(map(tuple, self._chunk(spark, [data])))
        r2 = sorted(map(tuple, self._chunk(spark, [data])))
        assert r1 == r2

    def test_dedup_ratio_finds_shared_chunks(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import (
            chunk_dedup_ratio, content_defined_chunks)
        shared = bytes(range(256)) * 8
        df = spark.createDataFrame(
            [(1, bytearray(shared + b"tailA" * 40)),
             (2, bytearray(shared + b"tailB" * 40)),
             (3, bytearray(b"completely different" * 100))],
            "asset_id long, payload binary")
        prof = {r["asset_id"]: r for r in
                chunk_dedup_ratio(content_defined_chunks(df)).collect()}
        assert prof[1]["n_shared_chunks"] > 0
        assert prof[2]["n_shared_chunks"] > 0
        assert prof[3]["n_shared_chunks"] == 0
        assert prof[1]["shared_byte_ratio"] > prof[3]["shared_byte_ratio"]

    def test_empty_payload_single_empty_chunk(self, spark):
        rows = self._chunk(spark, [b""])
        assert len(rows) == 1 and rows[0]["length"] == 0


class TestMergeableMinHash:
    def test_signature_of_union_equals_merge(self, spark, sf_dir):
        import random
        from data_and_analytics_etl_spark.operators.dedup import (
            merge_minhash, with_minhash_signature)
        docs = load_table(spark, sf_dir, "documents").limit(40)
        sh = with_word_shingles(docs, "text", n=3)
        for family in ("xxhash64", "md5"):
            # split each doc's shingle set into two arbitrary halves
            parts = (sh.select(
                "doc_id",
                F.slice("shingles", 1,
                        F.floor(F.size("shingles") / 2).cast("int") + 1)
                .alias("p1"),
                F.slice("shingles",
                        F.floor(F.size("shingles") / 2).cast("int") + 2,
                        F.size("shingles")).alias("p2"))
                .filter(F.size("p2") > 0))
            full = with_minhash_signature(
                parts.withColumn("s", F.concat("p1", "p2")), "s",
                hash_family=family).select("doc_id", "minhash")
            a = with_minhash_signature(parts, "p1", out="ma",
                                       hash_family=family)
            merged = (with_minhash_signature(a, "p2", out="mb",
                                             hash_family=family)
                      .select("doc_id",
                              merge_minhash(F.col("ma"), F.col("mb"))
                              .alias("minhash")))
            got = {r.doc_id: list(r.minhash) for r in merged.collect()}
            want = {r.doc_id: list(r.minhash) for r in full.collect()}
            assert got == want and got


def _make_avi(frames_rgb, width, height, usec_per_frame=40000,
              compressed=False):
    """Minimal valid RIFF/AVI: hdrl(avih) + movi(00db raw BGR24 frames).

    frames_rgb: list of frames, each a list of rows (top-down), each row
    a list of (r, g, b). Encoded bottom-up with 4-byte row padding, the
    DIB convention.
    """
    import struct

    def chunk(fourcc, data):
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    avih = struct.pack("<14I", usec_per_frame, 0, 0, 0, len(frames_rgb),
                       0, 1, 0, width, height, 0, 0, 0, 0)
    hdrl = b"hdrl" + chunk(b"avih", avih)
    row_pad = b"\x00" * (((width * 3 + 3) & ~3) - width * 3)
    frames = b""
    for fr in frames_rgb:
        data = b"".join(
            bytes(c for (r, g, b) in row for c in (b, g, r)) + row_pad
            for row in reversed(fr))
        frames += chunk(b"00dc" if compressed else b"00db", data)
    movi = b"movi" + frames
    body = chunk(b"LIST", hdrl) + chunk(b"LIST", movi)
    return b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body


class TestAviDecode:
    def _two_frame_avi(self):
        f0 = [[(100, 100, 100)] * 3] * 2      # flat gray: luma 100
        f1 = [[(255, 0, 0)] * 3] * 2          # pure red: luma 76.245
        return _make_avi([f0, f1], width=3, height=2)

    def test_metadata_and_first_frame_luma(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import (
            decode_assets)
        payload = self._two_frame_avi()
        df = spark.createDataFrame([(1, "video", payload)],
                                   ["asset_id", "modality", "payload"])
        r = decode_assets(df).collect()[0]
        assert r.error is None and r.codec == "avi"
        assert (r.width, r.height, r.n_frames) == (3, 2, 2)
        assert abs(r.duration_s - 0.08) < 1e-9      # 2 × 40000 µs
        assert abs(r.signal_mean - 100.0) < 1e-9    # first frame only

    def test_frame_sampling_exact_per_frame_stats(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import (
            sample_frames)
        payload = self._two_frame_avi()
        df = spark.createDataFrame([(1, "video", payload)],
                                   ["asset_id", "modality", "payload"])
        rows = sorted(sample_frames(df, n_frames=2).collect(),
                      key=lambda r: r.frame_idx)
        assert [r.error for r in rows] == [None, None]
        assert [r.n_samples for r in rows] == [6, 6]
        assert abs(rows[0].frame_mean - 100.0) < 1e-6
        red_luma = 0.299 * 255
        assert abs(rows[1].frame_mean - round(red_luma, 6)) < 1e-6
        # flat frames: rms == mean
        assert abs(rows[1].frame_rms - rows[1].frame_mean) < 1e-6
        assert rows[0].start_s == 0.0 and abs(rows[1].start_s - 0.04) < 1e-9

    def test_compressed_stream_quarantines(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import (
            decode_assets)
        payload = _make_avi([[[(1, 2, 3)]]], width=1, height=1,
                            compressed=True)
        df = spark.createDataFrame([(1, "video", payload)],
                                   ["asset_id", "modality", "payload"])
        r = decode_assets(df).collect()[0]
        assert r.error is not None and "NotImplementedError" in r.error

    def test_truncated_payload_quarantines_not_crashes(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import (
            decode_assets)
        payload = self._two_frame_avi()[:20]
        df = spark.createDataFrame([(1, "video", payload)],
                                   ["asset_id", "modality", "payload"])
        r = decode_assets(df).collect()[0]
        assert r.error is not None


class TestMp4Gate:
    """Codec-bearing video: real first-frame decode when the optional
    ``av`` (PyAV) package is importable, the quarantine contract when
    it is not (r7 verdict task 7). This sandbox has no ``av``, so the
    quarantine test is the one that executes here; the decode test is
    skipif-gated and runs wherever av exists."""

    @staticmethod
    def _mp4_bytes():
        # a minimal-but-honest mp4 prefix: size + 'ftyp' box with the
        # isom major brand — exactly what the sniffer keys on
        return (b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00isomiso2"
                + b"\x00" * 64)

    def test_mp4_without_av_lands_in_quarantine_column(self, spark):
        import importlib.util
        import pytest
        if importlib.util.find_spec("av") is not None:
            pytest.skip("av present: the decode test covers this env")
        from data_and_analytics_etl_spark.operators.multimodal import (
            decode_assets)
        df = spark.createDataFrame(
            [(1, "video", self._mp4_bytes())],
            ["asset_id", "modality", "payload"])
        r = decode_assets(df).collect()[0]
        assert r.error is not None and "NotImplementedError" in r.error
        assert "av (PyAV)" in r.error
        assert r.codec is None and r.signal_mean is None

    def test_mp4_first_frame_decode_with_av(self, spark):
        import pytest
        av = pytest.importorskip("av")
        import io

        import numpy as np

        from data_and_analytics_etl_spark.operators.multimodal import (
            decode_assets)
        # encode a flat-gray 16x16 single-frame mp4 in memory
        buf = io.BytesIO()
        with av.open(buf, "w", format="mp4") as out:
            vs = out.add_stream("h264", rate=25)
            vs.width, vs.height, vs.pix_fmt = 16, 16, "yuv420p"
            frame = av.VideoFrame.from_ndarray(
                np.full((16, 16, 3), 100, dtype=np.uint8), format="rgb24")
            for pkt in vs.encode(frame):
                out.mux(pkt)
            for pkt in vs.encode():
                out.mux(pkt)
        df = spark.createDataFrame(
            [(1, "video", buf.getvalue())],
            ["asset_id", "modality", "payload"])
        r = decode_assets(df).collect()[0]
        assert r.error is None
        assert r.codec.startswith("av:")
        assert (r.width, r.height) == (16, 16)
        assert r.signal_mean is not None
        assert abs(r.signal_mean - 100.0) < 8.0  # lossy codec tolerance


class TestBpe:
    """BPE learning/encoding vs a from-scratch reference implementation
    (Sennrich et al. 2016 greedy merge loop) — exact equality."""

    @staticmethod
    def _ref_learn(word_freq, k, min_count=2):
        syms = {w: tuple(w) + ("</w>",) for w in word_freq}
        merges = []
        for _ in range(k):
            pairs = {}
            for w, f in word_freq.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    pairs[(s[i], s[i + 1])] = \
                        pairs.get((s[i], s[i + 1]), 0) + f
            if not pairs:
                break
            (a, b), n = min(pairs.items(),
                            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            if n < min_count:
                break
            merges.append((a, b, n))
            for w in syms:
                s, out, i = syms[w], [], 0
                for x in s:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                syms[w] = tuple(out)
        return merges, syms

    @staticmethod
    def _words(spark_docs):
        import re
        freq = {}
        for r in spark_docs:
            for w in re.split(r"\s+", r["text"].lower()):
                if w:
                    freq[w] = freq.get(w, 0) + 1
        return freq

    def test_learned_merges_match_reference(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.bpe import \
            learn_bpe_merges
        docs = load_table(spark, sf_dir, "documents") \
            .filter(F.col("doc_id") < 40)
        got = learn_bpe_merges(docs, "text", num_merges=15)
        freq = self._words(docs.select("text").collect())
        want, _ = self._ref_learn(freq, 15)
        assert got == want

    def test_encode_matches_reference(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.bpe import (
            apply_bpe, learn_bpe_merges)
        docs = load_table(spark, sf_dir, "documents") \
            .filter(F.col("doc_id") < 40)
        merges = learn_bpe_merges(docs, "text", num_merges=15)
        freq = self._words(docs.select("text").collect())
        _, ref_syms = self._ref_learn(freq, 15)
        import re
        enc = {r["doc_id"]: r["bpe_tokens"]
               for r in apply_bpe(docs, "text", merges)
               .select("doc_id", "bpe_tokens").collect()}
        for r in docs.select("doc_id", "text").collect():
            want = []
            for w in re.split(r"\s+", r["text"].lower()):
                if w:
                    want.extend(ref_syms[w])
            assert enc[r["doc_id"]] == want, r["doc_id"]

    def test_heap_learner_equals_sequential_spark_loop(self, spark,
                                                       sf_dir):
        """The r8 scale-path learner (one aggregate + one bounded
        collect + in-memory lazy-invalidation heap) must be BIT-EQUAL
        to the retired one-merge-per-Spark-round loop over the ENTIRE
        learnable range of the real corpus (both stop at
        min_pair_count) — the r7 verdict's weak-mark fix is only valid
        if nothing about the learned table changes."""
        from data_and_analytics_etl_spark.operators.bpe import (
            _learn_bpe_merges_sequential, learn_bpe_merges)
        docs = load_table(spark, sf_dir, "documents") \
            .filter(F.col("doc_id") < 80)
        fast = learn_bpe_merges(docs, "text", num_merges=500)
        slow = _learn_bpe_merges_sequential(docs, "text", num_merges=500)
        assert len(fast) == len(slow) > 50
        assert fast == slow

    def test_thousand_merges_in_constant_spark_jobs(self, spark):
        """The verdict's done-bar: >=1,000 merges in <= merges/20
        Spark jobs. The heap learner runs exactly ONE Spark action
        (the capped word-frequency collect) no matter the vocabulary
        size — counted here by patching the classic DataFrame.collect.
        The sf0.001 corpus exhausts at ~105 merges (every word fully
        merges), so the vocabulary here is a seeded synthetic one with
        >1k learnable adjacencies."""
        import random

        from pyspark.sql.classic.dataframe import DataFrame as CDF

        from data_and_analytics_etl_spark.operators.bpe import \
            learn_bpe_merges
        rng = random.Random(7)
        words = ["".join(rng.choice("abcdefghijklmnopqrst")
                         for _ in range(rng.randint(6, 14)))
                 for _ in range(4000)]
        docs = spark.createDataFrame(
            [(" ".join(words[i:i + 40]),) for i in range(0, 4000, 40)],
            "text: string")
        calls = [0]
        orig = CDF.collect

        def patched(self):
            calls[0] += 1
            return orig(self)

        CDF.collect = patched
        try:
            merges = learn_bpe_merges(docs, "text", num_merges=2000,
                                      min_pair_count=1)
        finally:
            CDF.collect = orig
        assert len(merges) >= 1000, len(merges)
        assert calls[0] == 1

    def test_distributed_batched_equals_heap_learner(self, spark,
                                                     sf_dir):
        """learn_bpe_merges_distributed (exact contiguous-prefix
        batching for vocabularies too large to collect) must agree
        with the heap learner — both claim sequential equality, so
        they must agree with each other."""
        from data_and_analytics_etl_spark.operators.bpe import (
            learn_bpe_merges, learn_bpe_merges_distributed)
        docs = load_table(spark, sf_dir, "documents") \
            .filter(F.col("doc_id") < 40)
        dist = learn_bpe_merges_distributed(docs, "text", num_merges=30)
        heap = learn_bpe_merges(docs, "text", num_merges=30)
        assert dist == heap

    def test_exact_batch_selection_rules(self):
        """_select_exact_batch unit semantics: contiguity, symbol
        disjointness, concat collision, strict-drop pop, rank-1
        fallback."""
        from data_and_analytics_etl_spark.operators.bpe import \
            _select_exact_batch

        def rows(*trips):
            return [{"a": a, "b": b, "n": n} for a, b, n in trips]

        # disjoint prefix accepted until the first symbol conflict
        got = _select_exact_batch(
            rows(("a", "b", 10), ("c", "d", 9), ("b", "e", 8)),
            1, 10, exhausted=True)
        assert got == [("a", "b", 10), ("c", "d", 9)]
        # a tie at the boundary pops the tail (created-pair tie hazard)
        got = _select_exact_batch(
            rows(("a", "b", 10), ("c", "d", 9), ("b", "e", 9)),
            1, 10, exhausted=True)
        assert got == [("a", "b", 10)]
        # rank-1 never pops even on a tie (it IS the sequential pick)
        got = _select_exact_batch(
            rows(("a", "b", 10), ("a", "c", 10)), 1, 10, exhausted=True)
        assert got == [("a", "b", 10)]
        # identical concatenations may not share a batch
        got = _select_exact_batch(
            rows(("a", "bc", 10), ("ab", "c", 9), ("x", "y", 8)),
            1, 10, exhausted=True)
        assert got == [("a", "bc", 10)]
        # min_pair_count stops acceptance, no pop needed
        got = _select_exact_batch(
            rows(("a", "b", 10), ("c", "d", 1)), 2, 10, exhausted=True)
        assert got == [("a", "b", 10)]
        # rule 3b (r8 advice): an accepted concat that ALREADY exists
        # as a table symbol taints everything after it — pre-existing
        # pairs touching that symbol can GAIN count mid-batch
        got = _select_exact_batch(
            rows(("a", "b", 10), ("c", "d", 8), ("e", "f", 6)),
            1, 10, exhausted=True, existing_symbols={"ab"})
        assert got == [("a", "b", 10)]
        # ...but never blocks rank 1 itself (singleton batch is the
        # sequential pick), and a LATER minting pair cuts from there
        got = _select_exact_batch(
            rows(("a", "b", 10), ("c", "d", 8), ("e", "f", 6)),
            1, 10, exhausted=True, existing_symbols={"cd"})
        assert got == [("a", "b", 10), ("c", "d", 8)]

    def test_greedy_single_pass_semantics(self, spark):
        """'aaa' under merge (a,a) -> ['aa','a','</w>'] (non-overlapping
        left-to-right), the standard BPE replacement rule."""
        from data_and_analytics_etl_spark.operators.bpe import apply_bpe
        df = spark.createDataFrame([("aaa",)], "text: string")
        out = apply_bpe(df, "text", [("a", "a", 0)]).collect()
        assert out[0]["bpe_tokens"] == ["aa", "a", "</w>"]

    def test_fast_path_equals_fold_on_real_corpus(self, spark, sf_dir):
        """apply_bpe_fast (mapInPandas scale path) must be byte-equal
        to apply_bpe's fold form on the real corpus with real learned
        merges — the exact-equality pin the fold ceiling relies on."""
        from data_and_analytics_etl_spark.operators.bpe import (
            apply_bpe, apply_bpe_fast, learn_bpe_merges)
        docs = load_table(spark, sf_dir, "documents") \
            .filter(F.col("doc_id") < 60)
        merges = learn_bpe_merges(docs, "text", num_merges=25)
        fold = {r["doc_id"]: r["bpe_tokens"]
                for r in apply_bpe(docs, "text", merges)
                .select("doc_id", "bpe_tokens").collect()}
        fast = {r["doc_id"]: r["bpe_tokens"]
                for r in apply_bpe_fast(docs, "text", merges)
                .select("doc_id", "bpe_tokens").collect()}
        assert fast == fold

    def test_fast_path_handles_1k_plus_merges(self, spark):
        """The scale path's whole reason to exist: a merge table far
        past the fold form's plan-depth ceiling, pinned against the
        pure-Python reference learner/encoder on the same corpus."""
        import random

        from data_and_analytics_etl_spark.operators.bpe import (
            apply_bpe_fast)
        rng = random.Random(42)
        vocab = ["".join(rng.choice("abcdefghij") for _ in range(12))
                 for _ in range(400)]
        freq = {}
        for w in vocab:
            freq[w] = freq.get(w, 0) + 1
        merges, ref_syms = self._ref_learn(freq, 1500, min_count=1)
        assert len(merges) >= 1000, len(merges)
        docs = [(i, " ".join(rng.sample(vocab, 30))) for i in range(40)]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {r["doc_id"]: r["bpe_tokens"]
               for r in apply_bpe_fast(df, "text", merges)
               .select("doc_id", "bpe_tokens").collect()}
        for i, text in docs:
            want = []
            for w in text.split(" "):
                want.extend(ref_syms[w])
            assert got[i] == want, i

    def test_fast_path_null_and_empty_text(self, spark):
        from data_and_analytics_etl_spark.operators.bpe import (
            apply_bpe, apply_bpe_fast)
        df = spark.createDataFrame(
            [(1, "ab ab"), (2, ""), (3, None), (4, "   ")],
            "doc_id: long, text: string")
        merges = [("a", "b", 0)]
        fold = {r["doc_id"]: r["bpe_tokens"]
                for r in apply_bpe(df, "text", merges).collect()}
        fast = {r["doc_id"]: r["bpe_tokens"]
                for r in apply_bpe_fast(df, "text", merges).collect()}
        assert fast == fold
        assert fast[3] is None


class TestPerceptualHash:
    """DCT pHash: determinism, metric behavior on synthesized BMPs, and
    corpus-pipeline equivalence to the planted-duplicate set."""

    @staticmethod
    def _bmp(pattern, w=64, h=48):
        from data_and_analytics_etl_spark.operators.multimodal import \
            _encode_bmp
        rows = []
        for r in range(h):
            row = bytearray()
            for c in range(w):
                v = pattern(r, c) & 0xFF
                row += bytes((v, v, v))
            rows.append(bytes(row))
        return _encode_bmp(w, h, rows)

    def test_metric_behavior(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import (
            perceptual_hash_images, phash_neardup_pairs)
        base = self._bmp(lambda r, c: 2 * r + c)
        near = self._bmp(lambda r, c: 2 * r + c + (3 if r < 2 else 0))
        diff = self._bmp(lambda r, c: (r * c * 7 + 13) % 251)
        assets = spark.createDataFrame(
            [(1, base), (2, base), (3, near), (4, diff)],
            "asset_id: long, payload: binary")
        h = perceptual_hash_images(assets)
        vals = {r["asset_id"]: r["phash"] for r in h.collect()}
        assert vals[1] == vals[2]                       # identical -> 0
        assert bin(vals[1] ^ vals[3]).count("1") <= 10  # near copy
        assert bin(vals[1] ^ vals[4]).count("1") > 10   # unrelated
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in phash_neardup_pairs(h, max_distance=3)
                 .collect()}
        assert pairs.get((1, 2)) == 0
        assert (1, 4) not in pairs and (2, 4) not in pairs

    def test_quarantine_bad_payload(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import \
            perceptual_hash_images
        assets = spark.createDataFrame(
            [(1, b"not an image")], "asset_id: long, payload: binary")
        r = perceptual_hash_images(assets).collect()[0]
        assert r["phash"] is None and "ValueError" in r["error"]

    def test_corpus_pairs_equal_planted_duplicates(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.multimodal import (
            perceptual_hash_images, phash_neardup_pairs,
            synthesize_bmp_assets)
        d = load_table(spark, sf_dir, "documents")
        planted = (d.filter(F.col("doc_id") % 25 == 0)
                   .withColumn("doc_id", F.col("doc_id") + 100000))
        u = d.unionByName(planted)
        pairs = {(r["id_a"], r["id_b"])
                 for r in phash_neardup_pairs(
                     perceptual_hash_images(synthesize_bmp_assets(u)),
                     max_distance=3).collect()}
        dup = (u.alias("a").join(u.alias("b"),
                                 F.col("a.text") == F.col("b.text"))
               .filter(F.col("a.doc_id") < F.col("b.doc_id"))
               .select(F.col("a.doc_id").alias("x"),
                       F.col("b.doc_id").alias("y")).collect())
        want = {(r["x"], r["y"]) for r in dup}
        assert want and pairs == want


class TestPqAnn:
    def test_recall_vs_brute_force(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.similarity import (
            cosine_topk, pq_ann)
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 10)
        exact = {}
        for r in cosine_topk(e, probes, k=10).collect():
            exact.setdefault(r["probe_id"], set()).add(r["vec_id"])
        got = {}
        for r in pq_ann(e, probes, k=10, refine=4).collect():
            got.setdefault(r["probe_id"], set()).add(r["vec_id"])
        recalls = [len(exact[p] & got.get(p, set())) / len(exact[p])
                   for p in exact]
        assert sum(recalls) / len(recalls) >= 0.5, recalls

    def test_reranked_scores_are_exact(self, spark, sf_dir):
        """The re-rank stage must emit EXACT cosines (same rounding as
        cosine_topk) — PQ only approximates candidate selection, never
        the reported score."""
        from data_and_analytics_etl_spark.operators.similarity import (
            cosine_topk, pq_ann)
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 3)
        exact = {(r["probe_id"], r["vec_id"]): r["cosine"]
                 for r in cosine_topk(e, probes, k=10).collect()}
        for r in pq_ann(e, probes, k=10, refine=4).collect():
            key = (r["probe_id"], r["vec_id"])
            if key in exact:
                assert r["cosine"] == exact[key], key


class TestIvfPqAnn:
    def test_recall_vs_brute_force(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.similarity import (
            cosine_topk, ivfpq_ann)
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 8)
        exact = {}
        for r in cosine_topk(e, probes, k=10).collect():
            exact.setdefault(r["probe_id"], set()).add(r["vec_id"])
        got = {}
        for r in ivfpq_ann(e, probes, k=10, n_cells=8, n_probe=4,
                           refine=4).collect():
            got.setdefault(r["probe_id"], set()).add(r["vec_id"])
        recalls = [len(exact[p] & got.get(p, set())) / len(exact[p])
                   for p in exact]
        # doubly-approximate (cell routing AND code quantization):
        # recall is bounded by the IVF routing at these tiny cells
        assert sum(recalls) / len(recalls) >= 0.4, recalls

    def test_candidates_bounded_by_routing(self, spark, sf_dir):
        """Every returned neighbor must live in one of the probe's
        routed cells — IVFPQ never scores outside the routed mass."""
        from data_and_analytics_etl_spark.operators.similarity import \
            ivfpq_ann
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 3)
        out = ivfpq_ann(e, probes, k=5, n_cells=8, n_probe=2,
                        refine=2).collect()
        by_probe: dict = {}
        for r in out:
            by_probe.setdefault(r["probe_id"], []).append(r["rank"])
        for ranks in by_probe.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))


class TestDiverseSelection:
    def test_coverage_and_quality(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.sampling import \
            select_diverse_topk
        e = (load_table(spark, sf_dir, "embeddings")
             .withColumn("q", ((F.col("vec_id") * 37 + 11) % 100)
                         .cast("double")))
        sel = select_diverse_topk(e, "embedding", "q", "vec_id",
                                  per_cell=2, n_cells=8).collect()
        by_cell: dict = {}
        for r in sel:
            by_cell.setdefault(r["cell"], []).append(r["q"])
        # at most per_cell winners per cell, several cells populated
        assert all(len(v) <= 2 for v in by_cell.values())
        assert len(by_cell) >= 4
        # each winner is the max quality of its cell (spot check via
        # recompute: no selected q may be beaten by an unselected
        # cell-mate) — verified by construction of row_number; here we
        # at least pin determinism across two runs
        sel2 = select_diverse_topk(e, "embedding", "q", "vec_id",
                                   per_cell=2, n_cells=8).collect()
        assert {(r["cell"], r["vec_id"]) for r in sel} == \
               {(r["cell"], r["vec_id"]) for r in sel2}


class TestAudioFingerprint:
    def test_identity_scale_invariance_and_locality(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import \
            audio_fingerprints
        base = _make_wav(freq=440, n_frames=2000, amp=8000)
        same = _make_wav(freq=440, n_frames=2000, amp=8000)
        # amplitude-scaled rendition of the same signal
        quiet = _make_wav(freq=440, n_frames=2000, amp=2000)
        other = _make_wav(freq=1733, n_frames=2000, amp=8000)
        assets = spark.createDataFrame(
            [(1, base), (2, same), (3, quiet), (4, other)],
            "asset_id: long, payload: binary")
        vals = {r["asset_id"]: r["afp"]
                for r in audio_fingerprints(assets).collect()}
        assert vals[1] == vals[2]              # deterministic
        assert vals[1] == vals[3]              # amplitude-invariant
        d = bin(vals[1] ^ vals[4]).count("1")
        assert d > 8, d                        # different tone differs

    def test_quarantine_contract(self, spark):
        from data_and_analytics_etl_spark.operators.multimodal import \
            audio_fingerprints
        assets = spark.createDataFrame(
            [(1, b"not audio"), (2, _make_wav(n_frames=10))],
            "asset_id: long, payload: binary")
        rows = {r["asset_id"]: r for r in
                audio_fingerprints(assets).collect()}
        assert rows[1]["afp"] is None and rows[1]["error"]
        assert rows[2]["afp"] is None   # too short for 65 frames
        assert "ValueError" in rows[2]["error"]


class TestAudioNeardupPipeline:
    def test_planted_duplicates_found_at_distance_zero(self, spark,
                                                       sf_dir):
        from data_and_analytics_etl_spark.operators.multimodal import (
            audio_fingerprints, phash_neardup_pairs,
            synthesize_wav_assets)
        d = load_table(spark, sf_dir, "documents")
        planted = (d.filter(F.col("doc_id") % 25 == 0)
                   .withColumn("doc_id", F.col("doc_id") + 100000))
        fp = (audio_fingerprints(
            synthesize_wav_assets(d.unionByName(planted)))
            .withColumnRenamed("afp", "phash"))
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in phash_neardup_pairs(fp,
                                              max_distance=3).collect()}
        want = {r["doc_id"] for r in
                d.filter(F.col("doc_id") % 25 == 0)
                .select("doc_id").collect()}
        assert want
        for doc_id in want:
            assert pairs.get((doc_id, doc_id + 100000)) == 0, doc_id


class TestSentenceChunking:
    @staticmethod
    def _ref(text, max_tokens):
        import re
        sents = [s for s in re.split(r"(?<=[.!?])\s+", text) if s != ""]
        chunks, cur, n = [], "", 0
        for s in sents:
            t = len([x for x in re.split(r"\s+", s) if x])
            if n == 0 or n + t <= max_tokens:
                cur = f"{cur} {s}" if n > 0 else s
                n += t
            else:
                chunks.append(cur)
                cur, n = s, t
        if n > 0:
            chunks.append(cur)
        return chunks

    def test_matches_reference_and_preserves_text(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.corpus import \
            chunk_sentences
        d = load_table(spark, sf_dir, "documents") \
            .filter(F.col("doc_id") < 60)
        got = {}
        for r in chunk_sentences(d, max_tokens=40).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["chunk_id"], r["chunk"], r["n_tokens"]))
        for r in d.select("doc_id", "text").collect():
            want = self._ref(r["text"], 40)
            rows = sorted(got[r["doc_id"]])
            assert [c for _, c, _ in rows] == want, r["doc_id"]
            # no sentence split: chunk stream rejoins to sentence stream
            assert " ".join(c for _, c, _ in rows) == " ".join(want)

    def test_overlong_sentence_is_own_chunk(self, spark):
        from data_and_analytics_etl_spark.operators.corpus import \
            chunk_sentences
        long_s = "w " * 100
        df = spark.createDataFrame(
            [(1, f"short one. {long_s.strip()}. tail here.")],
            "doc_id: long, text: string")
        rows = sorted((r["chunk_id"], r["n_tokens"]) for r in
                      chunk_sentences(df, max_tokens=10).collect())
        assert rows[1][1] == 100  # the over-long sentence, intact


class TestSemanticDedup:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")

    def test_planted_duplicate_keeps_smaller_id(self, spark):
        from data_and_analytics_etl_spark.operators.similarity import \
            semantic_dedup
        base = [0.5, 0.2, -0.3, 0.8, 0.1, -0.6, 0.4, 0.9]
        other = [-0.5, 0.3, 0.2, -0.8, 0.6, 0.1, -0.4, 0.2]
        df = self._df(spark, [(1, base), (2, base), (3, other)])
        kept = sorted(r["vec_id"] for r in
                      semantic_dedup(df, 0.99, bits=4).collect())
        assert kept == [1, 3]

    def test_chain_drops_all_but_first(self, spark):
        from data_and_analytics_etl_spark.operators.similarity import \
            semantic_dedup
        base = [0.5, 0.2, -0.3, 0.8, 0.1, -0.6, 0.4, 0.9]
        df = self._df(spark, [(i, base) for i in range(1, 5)])
        kept = sorted(r["vec_id"] for r in
                      semantic_dedup(df, 0.99, bits=4).collect())
        # keep-first is order-free: every later copy sees id 1
        assert kept == [1]

    def test_cross_cell_neardups_survive(self, spark):
        from data_and_analytics_etl_spark.operators.similarity import \
            semantic_dedup
        # identical except a sign flip in dim 1 -> different cells;
        # the documented within-cell recall tradeoff keeps both
        a = [0.001, 0.2, -0.3, 0.8, 0.1, -0.6, 0.4, 0.9]
        b = [-0.001, 0.2, -0.3, 0.8, 0.1, -0.6, 0.4, 0.9]
        df = self._df(spark, [(1, a), (2, b)])
        kept = sorted(r["vec_id"] for r in
                      semantic_dedup(df, 0.9, bits=4).collect())
        assert kept == [1, 2]

    def test_bits_is_required(self):
        import inspect

        from data_and_analytics_etl_spark.operators.similarity import \
            semantic_dedup
        p = inspect.signature(semantic_dedup).parameters["bits"]
        assert p.kind is inspect.Parameter.KEYWORD_ONLY
        assert p.default is inspect.Parameter.empty

    def test_bits_for_corpus_bounds_expected_cell_population(self):
        from data_and_analytics_etl_spark.operators.similarity import \
            bits_for_corpus
        for n in (1, 100, 4096, 10**6, 10**9, 10**12):
            for cap in (64, 1024, 4096):
                b = bits_for_corpus(n, cap)
                assert n / 2 ** b <= cap
                # and b is minimal (one bit fewer would break the cap)
                assert b == 1 or n / 2 ** (b - 1) > cap
        # bits GROWS with corpus at fixed cap: per-cell work stays flat
        assert (bits_for_corpus(10**12, 4096)
                == bits_for_corpus(10**6, 4096) + 20)

    def test_candidate_pair_count_matches_cell_bound(self, spark, sf_dir):
        """The within-cell pair join generates EXACTLY
        sum n_c*(n_c-1)/2 candidates — the cost formula the bits
        contract is stated in — and raising bits shrinks it."""
        from data_and_analytics_etl_spark.operators.similarity import (
            as_double, signcell)
        e = load_table(spark, sf_dir, "embeddings")

        def pairs_at(bits):
            cells = (e.select(signcell(as_double(F.col("embedding")),
                                       bits).alias("c"))
                     .groupBy("c").agg(F.count(F.lit(1)).alias("n")))
            per_cell = {r["c"]: r["n"] for r in cells.collect()}
            want = sum(n * (n - 1) // 2 for n in per_cell.values())
            lhs = e.select(signcell(as_double(F.col("embedding")),
                                    bits).alias("c"),
                           F.col("vec_id").alias("ia"))
            rhs = e.select(signcell(as_double(F.col("embedding")),
                                    bits).alias("c"),
                           F.col("vec_id").alias("ib"))
            got = (lhs.join(rhs, "c")
                   .filter(F.col("ib") < F.col("ia")).count())
            return want, got

        w4, g4 = pairs_at(4)
        w8, g8 = pairs_at(8)
        assert g4 == w4 and g8 == w8
        assert g8 < g4  # more bits -> fewer candidate pairs


class TestHashFeatures:
    def test_weights_match_python_reference(self, spark):
        import hashlib
        from collections import defaultdict

        from data_and_analytics_etl_spark.operators.features import \
            hash_features
        texts = [(1, "the cat sat on the mat"),
                 (2, "The CAT the the"),
                 (3, "")]
        df = spark.createDataFrame(texts, "doc_id: long, text: string")
        out = {(r["doc_id"], r["bucket"]): r["weight"] for r in
               hash_features(df, "doc_id", "text", 64).collect()}

        ref = defaultdict(int)
        for i, t in texts:
            for tok in t.lower().split():
                hx = hashlib.md5(tok.encode()).hexdigest()
                b = (int(hx[0], 16) * 16 + int(hx[1], 16)) % 64
                s = 1 if int(hx[2], 16) % 2 == 1 else -1
                ref[(i, b)] += s
        ref = {k: v for k, v in ref.items() if v != 0}
        assert out == ref

    def test_dimensionality_bound(self, spark):
        import pytest as _pytest

        from data_and_analytics_etl_spark.operators.features import \
            hash_features
        df = spark.createDataFrame([(1, "a")], "doc_id: long, text: string")
        with _pytest.raises(ValueError, match="hex"):
            hash_features(df, "doc_id", "text", n_buckets=512)
        out = hash_features(df, "doc_id", "text", 8).collect()
        assert all(0 <= r["bucket"] < 8 for r in out)


class TestNaiveBayes:
    def test_separable_corpus_classifies_perfectly(self, spark):
        from data_and_analytics_etl_spark.operators.text import \
            naive_bayes_classify
        train = spark.createDataFrame(
            [(1, "the cat sat on the mat", "en"),
             (2, "the dog and the cat", "en"),
             (3, "el gato y el perro", "es"),
             (4, "la casa de el gato", "es")],
            "doc_id: long, text: string, lang: string")
        test = spark.createDataFrame(
            [(10, "the cat and the dog sat", "en"),
             (11, "el perro de la casa", "es")],
            "doc_id: long, text: string, lang: string")
        out = {r["doc_id"]: r["pred_label"] for r in
               naive_bayes_classify(train, test).collect()}
        assert out == {10: "en", 11: "es"}

    def test_matches_python_reference_scores(self, spark):
        import math
        from collections import Counter

        from data_and_analytics_etl_spark.operators.text import \
            naive_bayes_classify
        train_rows = [(1, "a b b c", "x"), (2, "b c c d", "x"),
                      (3, "e f e g", "y")]
        test_rows = [(10, "b c e q", "x")]
        train = spark.createDataFrame(
            train_rows, "doc_id: long, text: string, lang: string")
        test = spark.createDataFrame(
            test_rows, "doc_id: long, text: string, lang: string")
        r = naive_bayes_classify(train, test).collect()[0]

        ctc = Counter()
        for _, t, c in train_rows:
            for tok in t.split():
                ctc[(c, tok)] += 1
        tot = Counter()
        for (c, _), n in ctc.items():
            tot[c] += n
        vs = len({tok for _, tok in ctc})
        nd = Counter(c for _, _, c in train_rows)
        n = len(train_rows)

        def score(c, text):
            s = math.floor(math.log(nd[c] / n) * 1e6)
            for tok in text.split():
                if (c, tok) in ctc:
                    p = (ctc[(c, tok)] + 1) / (tot[c] + vs)
                else:
                    p = 1.0 / (tot[c] + vs)
                s += math.floor(math.log(p) * 1e6)
            return s
        best = max(sorted(nd), key=lambda c: (score(c, "b c e q"),))
        assert r["pred_label"] == best
        assert r["score_grid"] == score(best, "b c e q")

    def test_tie_breaks_on_class_name(self, spark):
        from data_and_analytics_etl_spark.operators.text import \
            naive_bayes_classify
        # symmetric corpus: identical counts under both labels -> every
        # candidate scores equally; the contract picks the FIRST class
        train = spark.createDataFrame(
            [(1, "a a", "x"), (2, "a a", "y")],
            "doc_id: long, text: string, lang: string")
        test = spark.createDataFrame(
            [(10, "a", "x")], "doc_id: long, text: string, lang: string")
        r = naive_bayes_classify(train, test).collect()[0]
        assert r["pred_label"] == "x"


class TestMixturePlan:
    def test_binding_source_and_takes(self, spark):
        from data_and_analytics_etl_spark.operators.corpus import (
            mixture_plan)
        rows = [("web", 1000), ("web", 1000),    # 2000 available
                ("code", 300),                   # 300 available
                ("books", 5000),
                ("junk", 99)]                    # unweighted
        df = spark.createDataFrame(rows, "source string, n_tokens long")
        out = {r["source"]: r for r in mixture_plan(
            df, "source", "n_tokens",
            {"web": 0.5, "code": 0.25, "books": 0.25}).collect()}
        # capacities: web 4000, code 1200, books 20000 -> budget 1200
        assert out["code"]["binding"] is True
        assert out["web"]["binding"] is False
        assert out["web"]["take_tokens"] == 600     # 0.5 * 1200
        assert out["code"]["take_tokens"] == 300    # full inventory
        assert out["code"]["sample_rate"] == 1.0
        assert out["books"]["take_tokens"] == 300
        assert out["junk"]["take_tokens"] == 0
        assert out["junk"]["weight"] == 0.0

    def test_budget_cap_scales_every_take(self, spark):
        from data_and_analytics_etl_spark.operators.corpus import (
            mixture_plan)
        rows = [("a", 1000), ("b", 1000)]
        df = spark.createDataFrame(rows, "source string, n_tokens long")
        out = {r["source"]: r for r in mixture_plan(
            df, "source", "n_tokens", {"a": 0.5, "b": 0.5},
            budget_tokens=800).collect()}
        assert out["a"]["take_tokens"] == 400
        assert out["b"]["take_tokens"] == 400
        assert out["a"]["sample_rate"] == 0.4

    def test_no_weighted_source_present_raises(self, spark):
        """None of the positively-weighted sources exist in the corpus:
        the min-capacity aggregate is empty -> the plan must refuse at
        execution instead of emitting all-NULL take_tokens (r7
        advice). The raise is lazy (construction purity holds)."""
        import pytest
        from pyspark.errors import PySparkException

        from data_and_analytics_etl_spark.operators.corpus import (
            mixture_plan)
        df = spark.createDataFrame([("junk", 100), ("spam", 50)],
                                   "source string, n_tokens long")
        plan = mixture_plan(df, "source", "n_tokens",
                            {"web": 0.5, "code": 0.5})  # lazy: no raise
        with pytest.raises(PySparkException,
                           match="no positively-weighted source"):
            plan.collect()

    def test_weights_normalize(self, spark):
        from data_and_analytics_etl_spark.operators.corpus import (
            mixture_plan)
        df = spark.createDataFrame([("a", 100), ("b", 100)],
                                   "source string, n_tokens long")
        out = {r["source"]: r for r in mixture_plan(
            df, "source", "n_tokens", {"a": 2.0, "b": 2.0}).collect()}
        assert out["a"]["weight"] == 0.5 and out["b"]["weight"] == 0.5

    def test_refuses_empty_or_zero_weights(self, spark):
        import pytest as _pytest
        from data_and_analytics_etl_spark.operators.corpus import (
            mixture_plan)
        df = spark.createDataFrame([("a", 100)],
                                   "source string, n_tokens long")
        with _pytest.raises(ValueError):
            mixture_plan(df, "source", "n_tokens", {})
        with _pytest.raises(ValueError):
            mixture_plan(df, "source", "n_tokens", {"a": 0.0})


class TestBigramLm:
    def test_hand_computed_tiny_corpus(self, spark):
        """ref = one doc 'a b a b': c(a,b)=2, c(b,a)=1, c1(a)=2,
        c1(b)=2, V=2. Score 'a b' = ln(3/4); OOV history 'z a' =
        ln(1/2) (uniform floor)."""
        import math

        from data_and_analytics_etl_spark.operators.text import \
            bigram_lm_score
        ref = spark.createDataFrame([(0, "a b a b")],
                                    "doc_id long, text string")
        docs = spark.createDataFrame(
            [(1, "a b"), (2, "z a")], "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               bigram_lm_score(docs, ref).collect()}
        assert out[1]["n_bigrams"] == 1
        assert out[1]["logprob_q6"] == math.floor(1e6 * math.log(3 / 4))
        assert out[2]["logprob_q6"] == math.floor(1e6 * math.log(1 / 2))

    def test_in_distribution_beats_scrambled_on_structured_corpus(
            self, spark):
        """The filter's reason to exist: when the reference HAS bigram
        structure, in-distribution word order scores higher than the
        same tokens scrambled. (The sf* documents table is a bag of
        near-independent words — no order signal by construction — so
        the discrimination property is pinned on a controlled corpus
        with strong transitions instead.)"""
        from data_and_analytics_etl_spark.operators.text import \
            bigram_lm_score
        sent = "the quick brown fox jumps over the lazy dog"
        ref = spark.createDataFrame(
            [(i, sent) for i in range(30)], "doc_id long, text string")
        docs = spark.createDataFrame(
            [(1, sent),
             (2, "dog lazy the over jumps fox brown quick the")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["avg_logprob"] for r in
               bigram_lm_score(docs, ref).collect()}
        assert out[1] > out[2] + 1.0  # clear separation, not noise


class TestHardNegatives:
    def test_no_same_label_pairs_and_ranks_contiguous(self, spark,
                                                      sf_dir):
        from data_and_analytics_etl_spark.operators.similarity import \
            hard_negatives
        e = (load_table(spark, sf_dir, "embeddings")
             .filter(F.col("label").isNotNull()))
        out = hard_negatives(e, e.filter(F.col("vec_id") < 10),
                             k=4).collect()
        assert out and all(r["anchor_label"] != r["neg_label"]
                           for r in out)
        by_anchor = {}
        for r in out:
            by_anchor.setdefault(r["anchor_id"], []).append(r["rank"])
        for ranks in by_anchor.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))

    def test_negatives_are_the_nearest_cross_label(self, spark, sf_dir):
        """rank-1 hard negative == argmax cosine over the cross-label
        corpus, checked against the exact cosine_topk baseline."""
        from data_and_analytics_etl_spark.operators.similarity import (
            cosine_topk, hard_negatives)
        e = (load_table(spark, sf_dir, "embeddings")
             .filter(F.col("label").isNotNull()))
        anchors = e.filter(F.col("vec_id") == 3)
        a_label = anchors.first()["label"]
        hn = hard_negatives(e, anchors, k=1).collect()[0]
        full = cosine_topk(e.filter(F.col("label") != a_label),
                           anchors, k=1).collect()[0]
        assert (hn["vec_id"], hn["cosine"]) == (full["vec_id"],
                                                full["cosine"])


class TestBpeBatchRule3b:
    """Adversarial fuzz for the r8-advice proof gap: corpora over a
    tiny alphabet maximize merge-concat collisions with live table
    symbols ('ab' minted while 'ab'-spelling pairs still exist), the
    exact condition rule 3b guards. Distributed batched learning must
    stay bit-equal to the in-memory heap learner on every one."""

    def test_collision_prone_corpora_stay_sequential_equal(self, spark):
        import itertools
        import random

        from data_and_analytics_etl_spark.operators.bpe import (
            _learn_from_word_freqs, learn_bpe_merges_distributed)

        rng = random.Random(90210)
        for trial in range(4):
            words = ["".join(rng.choice("ab") for _ in range(
                rng.randint(2, 7))) for _ in range(60)]
            # force heavy repetition so counts tie and collide
            corpus = [w for w in words for _ in range(rng.randint(1, 4))]
            df = spark.createDataFrame([(w,) for w in corpus],
                                       "text: string")
            got = learn_bpe_merges_distributed(
                df, "text", num_merges=12, min_pair_count=2,
                max_batch=6)
            from collections import Counter
            freqs = sorted(Counter(corpus).items())
            want = _learn_from_word_freqs(freqs, 12, 2)
            assert got == want, f"trial {trial} diverged: " \
                                f"{got} vs {want}"


class TestGridPqAnn:
    """pq_grid_ann / ivfpq_grid_ann (r13): the hash-green driver probe
    carries correctness vs the unrolled-CTE oracle; these pytests pin
    the recall/structural properties the oracle can't express."""

    def test_pq_grid_recall_vs_brute_force(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.similarity import \
            pq_grid_ann
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 10)
        exact = {}
        for r in cosine_topk(e, probes, k=10).collect():
            exact.setdefault(r["probe_id"], set()).add(r["vec_id"])
        got = {}
        # production-grade codebooks (m=8 subspaces x 16 codes — the
        # float pq_ann test's grain); the driver probe's tiny 4x4
        # config exists for oracle tractability, not recall
        for r in pq_grid_ann(e, probes, k=10, m=8, n_codes=16,
                             refine=4, dim=64).collect():
            got.setdefault(r["probe_id"], set()).add(r["vec_id"])
        recalls = [len(exact[p] & got.get(p, set())) / len(exact[p])
                   for p in exact]
        assert sum(recalls) / len(recalls) >= 0.5, recalls

    def test_ivfpq_grid_recall_vs_brute_force(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.similarity import \
            ivfpq_grid_ann
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 8)
        exact = {}
        for r in cosine_topk(e, probes, k=10).collect():
            exact.setdefault(r["probe_id"], set()).add(r["vec_id"])
        got = {}
        for r in ivfpq_grid_ann(e, probes, k=10, n_cells=8, n_probe=4,
                                m=8, n_codes=16, refine=4,
                                dim=64).collect():
            got.setdefault(r["probe_id"], set()).add(r["vec_id"])
        recalls = [len(exact[p] & got.get(p, set())) / len(exact[p])
                   for p in exact]
        # doubly-approximate (cell routing AND code quantization)
        assert sum(recalls) / len(recalls) >= 0.4, recalls

    def test_grid_pq_reranked_scores_are_exact(self, spark, sf_dir):
        """The re-rank stage must emit EXACT cosines (same rounding
        as cosine_topk) — grid PQ only approximates candidate
        selection, never the reported score."""
        from data_and_analytics_etl_spark.operators.similarity import \
            pq_grid_ann
        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") < 3)
        exact = {(r["probe_id"], r["vec_id"]): r["cosine"]
                 for r in cosine_topk(e, probes, k=10).collect()}
        # production-grade codebooks (m=8 subspaces x 16 codes — the
        # float pq_ann test's grain); the driver probe's tiny 4x4
        # config exists for oracle tractability, not recall
        for r in pq_grid_ann(e, probes, k=10, m=8, n_codes=16,
                             refine=4, dim=64).collect():
            key = (r["probe_id"], r["vec_id"])
            if key in exact:
                assert r["cosine"] == exact[key], key

    def test_grid_pq_rejects_indivisible_dim(self, spark):
        from data_and_analytics_etl_spark.operators.similarity import (
            ivfpq_grid_ann, pq_grid_ann)
        df = spark.createDataFrame([(0, [0.1] * 10)],
                                   "vec_id: long, embedding: array<double>")
        for fn in (pq_grid_ann, ivfpq_grid_ann):
            with pytest.raises(ValueError, match="not divisible"):
                fn(df, df, k=1, m=4, dim=10)

    def test_grid_codebook_train_m1_equals_ivf_cells(self, spark):
        """The shared trainer at m=1 must reproduce the exact cells
        the r12 ann_ivf_grid contract pinned: smallest-id seeds,
        argmin ties -> lowest code, sum DIV count refresh on a hand
        grid where the fixpoint is computable by hand."""
        from data_and_analytics_etl_spark.operators.similarity import \
            _grid_codebook_train
        import pyspark.sql.functions as SF
        # two tight 1-d clusters on the grid: {0, 2} and {100, 102}
        rows = [(0, [0]), (1, [100]), (2, [2]), (3, [102])]
        base = spark.createDataFrame(
            rows, "vec_id: long, __q: array<long>")
        cb, assigned = _grid_codebook_train(base, n_codes=2, iters=2)
        cents = {r["code"]: r["cv"] for r in cb.collect()}
        # seeds: ids 0,1 -> codes 0,1. round 1: members {0,2} / {1,3},
        # centroids (0+2) DIV 2 = 1 and (100+102) DIV 2 = 101; round 2
        # is the fixpoint.
        assert cents == {0: [1], 1: [101]}
        got = {r["vec_id"]: r["code"] for r in assigned.collect()}
        assert got == {0: 0, 2: 0, 1: 1, 3: 1}


class TestGridAnnEdges:
    """Degenerate-input contracts for the r13 grid-ANN family +
    HyperBall, pinned so a refactor can't silently change them."""

    def test_corpus_smaller_than_codebook_degrades_gracefully(
            self, spark):
        # seeds = min(n_codes, corpus) rows; with 3 vectors and
        # n_codes=4 every non-self pair must still surface
        from data_and_analytics_etl_spark.operators.similarity import \
            pq_grid_ann
        tiny = spark.createDataFrame(
            [(i, [float(i + 1)] * 8) for i in range(3)],
            "vec_id: long, embedding: array<double>")
        out = pq_grid_ann(tiny, tiny, k=5, m=2, n_codes=4, iters=1,
                          refine=4, dim=8).collect()
        assert sorted((r["probe_id"], r["vec_id"]) for r in out) == [
            (0, 1), (0, 2), (1, 0), (1, 2), (2, 0), (2, 1)]

    def test_hyperball_empty_and_selfloop_graphs_emit_no_rows(
            self, spark):
        # nodes derive from CLEANED edges (self-loops dropped, the
        # pagerank-family convention): an edge-free graph has no
        # neighborhood function rows rather than a fabricated N(0)
        from data_and_analytics_etl_spark.operators.graph import \
            hyperball_neighborhood
        empty = spark.createDataFrame([], "src: long, dst: long")
        assert hyperball_neighborhood(empty, max_radius=2).count() == 0
        loops = spark.createDataFrame([(1, 1), (2, 2)],
                                      "src: long, dst: long")
        assert hyperball_neighborhood(loops, max_radius=2).count() == 0
