"""Vector kernels (expression + Pandas-UDF paths agree) and multimodal
mapInPandas plumbing."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from retail_sales_etl_spark.catalog import load_table
from retail_sales_etl_spark.functions import vectors
from retail_sales_etl_spark.operators import multimodal


def test_expression_cosine_matches_numpy_udf(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    emb = emb.select("vec_id", vectors.as_double_array("embedding").alias("v"))
    query = emb.filter(F.col("vec_id") == 0).first()["v"]

    expr_cos = emb.select(
        "vec_id",
        vectors.cosine(
            F.col("v"), F.array(*[F.lit(x) for x in query])
        ).alias("c"),
    )
    udf_cos = emb.select(
        "vec_id", vectors.cosine_to_query_udf(query)(F.col("v")).alias("c")
    )
    e = {r["vec_id"]: r["c"] for r in expr_cos.collect()}
    u = {r["vec_id"]: r["c"] for r in udf_cos.collect()}
    assert e.keys() == u.keys()
    for k in e:
        assert math.isclose(e[k], u[k], rel_tol=1e-9, abs_tol=1e-12)


def test_media_table_schema(spark, sf_dir):
    media = multimodal.to_media_table(load_table(spark, sf_dir, "documents"))
    assert [f.name for f in media.schema.fields] == [
        "doc_id", "payload", "mime_type", "n_bytes",
    ]
    row = media.first()
    assert isinstance(row["payload"], bytearray | bytes)
    assert row["n_bytes"] == len(row["payload"])


def test_sample_frames_one_to_many(spark, sf_dir):
    media = multimodal.to_media_table(load_table(spark, sf_dir, "documents"))
    frames = multimodal.sample_frames(media)
    rows = frames.limit(500).collect()
    assert len(rows) > 0
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    some_doc = next(iter(by_doc.values()))
    idxs = sorted(r["frame_idx"] for r in some_doc)
    assert idxs == list(range(len(idxs)))  # contiguous frame indices
    for r in some_doc:
        assert r["frame_offset"] == r["frame_idx"] * 256
        assert 0 < len(r["frame_bytes"]) <= 64


def test_extract_features_mapinpandas(spark, sf_dir):
    media = multimodal.to_media_table(load_table(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == media.count()
    sample = rows[0]
    # deterministic fake decode: re-derive expectations driver-side
    assert sample["width"] == (sample["n_bytes"] % 64) + 1
    assert sample["height"] == (sample["n_bytes"] % 48) + 1
    assert sample["n_frames"] == 1
    assert sample["feature_checksum"] >= 0


def test_decode_ppm_parses_real_bytes():
    from retail_sales_etl_spark.operators.multimodal import decode_ppm

    # 2x1 image: pixels (1,2,3) and (250,251,252); multi-digit dims and
    # maxval exercise the whitespace-delimited header walk
    payload = b"P6\n2 1\n255\n" + bytes([1, 2, 3, 250, 251, 252])
    d = decode_ppm(payload)
    assert d == {
        "width": 2, "height": 1, "n_pixels": 2,
        "sum_r": 251, "sum_g": 253, "sum_b": 255,
    }
    # header may use any whitespace between fields
    d2 = decode_ppm(b"P6 12\t1\n255 " + bytes(range(36)))
    assert (d2["width"], d2["height"]) == (12, 1)
    assert d2["sum_r"] == sum(range(0, 36, 3))


def test_decode_ppm_rejects_bad_payloads():
    import pytest

    from retail_sales_etl_spark.operators.multimodal import decode_ppm

    with pytest.raises(ValueError, match="not a binary PPM"):
        decode_ppm(b"JFIF....")
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6\n2 2\n255\n" + bytes(5))  # raster needs 12 bytes
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n1 1\n65535\n" + bytes(3))


def test_extract_features_dispatches_real_decode_by_mime(spark):
    """PPM payloads take the real decoder (true dims from the header);
    other mimes keep the deterministic stub — same FEATURE_SCHEMA out."""
    from pyspark.sql import Row

    from retail_sales_etl_spark.operators.multimodal import (
        PPM_MIME,
        extract_features,
    )

    ppm = b"P6\n3 2\n255\n" + bytes(18)
    txt = b"hello world"
    media = spark.createDataFrame(
        [
            Row(doc_id=1, payload=ppm, mime_type=PPM_MIME, n_bytes=len(ppm)),
            Row(doc_id=2, payload=txt, mime_type="text/plain", n_bytes=len(txt)),
        ]
    )
    got = {r["doc_id"]: r for r in extract_features(media).collect()}
    assert (got[1]["width"], got[1]["height"]) == (3, 2)  # real header dims
    # stub dims derive from byte length, not a header
    assert got[2]["width"] == (len(txt) % 64) + 1
    assert got[2]["n_frames"] == 1


def test_ppm_roundtrip_synth_decode(spark, sf_dir):
    """synthesize -> decode roundtrip recovers the generator's stats."""
    from retail_sales_etl_spark.operators.multimodal import (
        _ppm_dims,
        _ppm_pixel,
        q_multimodal_ppm_stats,
    )

    rows = {r["doc_id"]: r for r in q_multimodal_ppm_stats(spark, sf_dir).collect()}
    assert rows
    for doc_id in list(rows)[:5]:
        w, h = _ppm_dims(doc_id)
        want_r = sum(_ppm_pixel(doc_id, x, y)[0] for x in range(w) for y in range(h))
        r = rows[doc_id]
        assert (r["width"], r["height"], r["sum_r"]) == (w, h, want_r)


def test_decode_ppm_truncated_header_raises_not_hangs():
    """A header cut off mid-field (or missing the whitespace after
    maxval) must raise promptly — the parser runs on arbitrary upstream
    bytes inside executor tasks, where an unbounded scan is a hang."""
    import pytest

    from retail_sales_etl_spark.operators.multimodal import decode_ppm

    for bad in (b"P6", b"P6\n2", b"P6\n2 2", b"P6\n2 2\n255", b"P6\n  "):
        with pytest.raises(ValueError, match="truncated PPM header"):
            decode_ppm(bad)


def test_ahash_ppm_known_bits():
    """4x3 source (resize = identity): half the cells black, half
    white — hand-computed hash. Bit i covers cell (x=i%4, y=i//4)."""
    from retail_sales_etl_spark.operators.multimodal import ahash_ppm

    # left two columns black (0,0,0), right two white (255,255,255)
    raw = bytearray()
    for _y in range(3):
        for x in range(4):
            v = 255 if x >= 2 else 0
            raw.extend((v, v, v))
    payload = b"P6\n4 3\n255\n" + bytes(raw)
    d = ahash_ppm(payload)
    # grays: 0,0,765,765 per row; mean = 382.5 -> white cells set
    assert d["gray_sum"] == 765 * 6
    expected = 0
    for i in range(12):
        if i % 4 >= 2:
            expected |= 1 << i
    assert d["phash"] == expected


def test_ahash_uniform_image_all_ones():
    """Uniform raster: every gray equals the mean, >= sets all bits."""
    from retail_sales_etl_spark.operators.multimodal import ahash_ppm

    raw = bytes([7, 7, 7]) * 12
    payload = b"P6\n4 3\n255\n" + raw
    d = ahash_ppm(payload)
    assert d["phash"] == (1 << 12) - 1
    assert d["gray_sum"] == 21 * 12


def test_phash_hamming_reconciles_with_buckets(spark, sf_dir):
    """Hamming-0 pair count must equal sum C(n,2) over the dedup
    operator's buckets — two operators, one identity."""
    from retail_sales_etl_spark.operators.multimodal import (
        q_multimodal_phash_dedup,
        q_multimodal_phash_hamming,
    )

    buckets = q_multimodal_phash_dedup(spark, sf_dir).collect()
    ham = {r["hamming"]: r["n_pairs"] for r in
           q_multimodal_phash_hamming(spark, sf_dir).collect()}
    expected_d0 = sum(r["n_docs"] * (r["n_docs"] - 1) // 2 for r in buckets)
    assert ham.get(0, 0) == expected_d0
    assert set(ham) <= {0, 1}


def test_phash_hamming_leaves_nothing_cached(spark, sf_dir):
    """The Hamming census holds its bucket grid only for the call: once
    the entry's result is collected, the session has no persisted RDD
    it did not have before."""
    from retail_sales_etl_spark.operators.multimodal import (
        q_multimodal_phash_hamming,
    )

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    assert q_multimodal_phash_hamming(spark, sf_dir).collect()
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


def _craft_bmp(width, height, pixels, pad=b"\x00"):
    """Hand-assemble an uncompressed 24-bpp bottom-up BMP from a
    pixels[y][x] = (r, g, b) grid — independent of synthesize_bmp so
    encoder and decoder can't share a bug."""
    import struct

    stride = (width * 3 + 3) // 4 * 4
    raster = bytearray()
    for y in range(height - 1, -1, -1):
        for x in range(width):
            r, g, b = pixels[y][x]
            raster += bytes((b, g, r))
        raster += pad * (stride - 3 * width)
    size = 54 + len(raster)
    return (
        struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(raster), 0, 0, 0, 0)
        + bytes(raster)
    )


def test_decode_bmp_crafted_bytes_exact():
    """2x3 crafted BMP: every stat integer-exact, corner = TOP-left."""
    pixels = [
        [(10, 20, 30), (40, 50, 60)],   # image row 0 (top)
        [(70, 80, 90), (100, 110, 120)],
        [(130, 140, 150), (160, 170, 180)],
    ]
    d = multimodal.decode_bmp(_craft_bmp(2, 3, pixels))
    assert d["width"] == 2 and d["height"] == 3 and d["n_pixels"] == 6
    assert d["row_stride"] == 8 and d["pad_bytes"] == 2
    assert d["n_bytes"] == 54 + 8 * 3
    assert d["sum_r"] == 10 + 40 + 70 + 100 + 130 + 160
    assert d["sum_g"] == 20 + 50 + 80 + 110 + 140 + 170
    assert d["sum_b"] == 30 + 60 + 90 + 120 + 150 + 180
    # top-left pixel AFTER the bottom-up flip — rows are stored
    # bottom-first, so a decoder that forgets the flip reports 130/150
    assert d["corner_r"] == 10 and d["corner_b"] == 30


def test_decode_bmp_padding_never_reaches_sums():
    """Non-zero stride padding (0xFF) must not change any stat."""
    pixels = [[(1, 2, 3), (4, 5, 6)]]
    clean = multimodal.decode_bmp(_craft_bmp(2, 1, pixels))
    dirty = multimodal.decode_bmp(_craft_bmp(2, 1, pixels, pad=b"\xff"))
    assert clean == dirty
    # and a pad-free width (w=4: 12 bytes, stride 12) has pad_bytes 0
    row = [[(9, 8, 7)] * 4]
    assert multimodal.decode_bmp(_craft_bmp(4, 1, row))["pad_bytes"] == 0


def test_decode_bmp_rejects_bad_payloads():
    import struct

    import pytest

    good = _craft_bmp(2, 2, [[(0, 0, 0)] * 2] * 2)
    with pytest.raises(ValueError):
        multimodal.decode_bmp(b"PNG" + good[3:])  # wrong magic
    with pytest.raises(ValueError):
        multimodal.decode_bmp(good[:-4])  # truncated raster
    bad_bpp = bytearray(good)
    struct.pack_into("<H", bad_bpp, 28, 32)  # 32-bpp unsupported
    with pytest.raises(ValueError):
        multimodal.decode_bmp(bytes(bad_bpp))
    bad_comp = bytearray(good)
    struct.pack_into("<I", bad_comp, 30, 1)  # BI_RLE8
    with pytest.raises(ValueError):
        multimodal.decode_bmp(bytes(bad_comp))


def test_bmp_roundtrip_synth_decode(spark, sf_dir):
    """synthesize_bmp -> decode_bmp recovers the generator closed-form
    for every doc: dims, stride, padded size, channel sums, corner."""
    rows = multimodal.q_multimodal_bmp_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        d = r["doc_id"]
        w, h = multimodal._ppm_dims(d)
        stride = (w * 3 + 3) // 4 * 4
        assert (r["width"], r["height"]) == (w, h)
        assert r["row_stride"] == stride
        assert r["n_bytes"] == 54 + stride * h
        exp_r = sum(
            multimodal._ppm_pixel(d, x, y)[0]
            for x in range(w)
            for y in range(h)
        )
        assert r["sum_r"] == exp_r
        assert r["corner_r"] == multimodal._ppm_pixel(d, 0, 0)[0]
        assert r["corner_b"] == multimodal._ppm_pixel(d, 0, 0)[2]


def _craft_wav(samples, rate=8000, chunks_before=(), chunks_after=(),
               riff_size_delta=0):
    """Hand-assemble a PCM mono 16-bit RIFF/WAVE from a sample list —
    independent of synthesize_wav so encoder and decoder can't share a
    bug. chunks_before/after inject extra (id, body) chunks around the
    data chunk, each padded per the RIFF even-alignment rule."""
    import struct

    def chunk(cid, body):
        return struct.pack("<4sI", cid, len(body)) + body + b"\x00" * (
            len(body) % 2
        )

    body = b"WAVE"
    body += chunk(
        b"fmt ", struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    )
    for cid, cb in chunks_before:
        body += chunk(cid, cb)
    body += chunk(b"data", b"".join(struct.pack("<h", s) for s in samples))
    for cid, cb in chunks_after:
        body += chunk(cid, cb)
    return struct.pack("<4sI", b"RIFF", len(body) + riff_size_delta) + body


def test_decode_wav_crafted_bytes_exact():
    """Known samples: every stat integer-exact, signed reads correct."""
    s = [100, -200, 0, -1, 32767, -32768]
    d = multimodal.decode_wav(_craft_wav(s, rate=12345))
    assert d["sample_rate"] == 12345
    assert d["n_samples"] == 6
    assert d["sum_abs"] == 100 + 200 + 0 + 1 + 32767 + 32768
    assert d["peak"] == 32768
    assert d["sum_sq"] == sum(x * x for x in s)
    # sign classes: + - + - + -  (0 counts as non-negative) -> 5 flips
    assert d["zero_crossings"] == 5
    assert d["n_bytes"] == 12 + 24 + 8 + 12


def test_decode_wav_walks_odd_chunks_and_ignores_junk():
    """An odd-length junk chunk before data (forcing the pad byte) and
    one after must not move any stat; a decoder that forgets the RIFF
    pad desyncs and raises instead of silently corrupting."""
    s = [5, -5, 7]
    plain = multimodal.decode_wav(_craft_wav(s))
    padded = multimodal.decode_wav(
        _craft_wav(
            s,
            chunks_before=[(b"JUNK", b"\xee" * 3), (b"LIST", b"\xee" * 8)],
            chunks_after=[(b"cue ", b"\xee" * 5)],
        )
    )
    assert {k: v for k, v in plain.items() if k != "n_bytes"} == {
        k: v for k, v in padded.items() if k != "n_bytes"
    }


def test_decode_wav_rejects_bad_payloads():
    import struct

    import pytest

    good = _craft_wav([1, -1])
    with pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFX" + good[4:])  # wrong magic
    with pytest.raises(ValueError):
        multimodal.decode_wav(_craft_wav([1, -1], riff_size_delta=2))
    stereo = bytearray(good)
    struct.pack_into("<H", stereo, 12 + 8 + 2, 2)  # channels=2
    with pytest.raises(ValueError):
        multimodal.decode_wav(bytes(stereo))
    no_data = good[: 12 + 24]  # fmt only, data chunk stripped
    fixed = bytearray(no_data)
    struct.pack_into("<I", fixed, 4, len(no_data) - 8)
    with pytest.raises(ValueError):
        multimodal.decode_wav(bytes(fixed))


def test_wav_roundtrip_synth_decode(spark, sf_dir):
    """synthesize_wav -> decode_wav over real doc_ids: params match the
    closed forms and the generator's samples reproduce exactly."""
    media = multimodal.synthesize_wav(
        load_table(spark, sf_dir, "documents").limit(8)
    ).collect()
    assert len(media) == 8
    for r in media:
        d = multimodal.decode_wav(bytes(r["payload"]))
        rate, n, junk = multimodal._wav_params(r["doc_id"])
        assert d["sample_rate"] == rate and d["n_samples"] == n
        assert d["n_bytes"] == r["n_bytes"] == 12 + 24 + 8 + junk + junk % 2 + 8 + 2 * n
        exp = [multimodal._wav_sample(r["doc_id"], i) for i in range(n)]
        assert d["sum_abs"] == sum(abs(x) for x in exp)
        assert d["peak"] == max(abs(x) for x in exp)


def test_wav_frames_end_to_end_matches_python_recompute(spark, tmp_path):
    """Frame-grain features over the real synthesize->parse path must
    equal a pure-Python recompute from the closed-form generator:
    frame chopping (incl. the partial last frame), per-frame ZCR
    (within-frame lag only), and the integer-only low-energy gate."""
    from pyspark.sql import Row

    from retail_sales_etl_spark.operators.multimodal import (
        WAV_FRAME,
        WAV_FRAME_LOW_MEAN_ABS,
        _wav_params,
        _wav_sample,
        q_multimodal_wav_frames,
    )

    ids = [0, 1, 2, 3, 96, 100]  # 96 -> n=160: exactly 5 full frames
    d = str(tmp_path)
    spark.createDataFrame([Row(doc_id=i) for i in ids]).write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    got = {
        (r["doc_id"], r["frame_idx"]): r
        for r in q_multimodal_wav_frames(spark, d).collect()
    }
    n_rows = 0
    for doc in ids:
        _rate, n, _junk = _wav_params(doc)
        samples = [_wav_sample(doc, i) for i in range(n)]
        for f0 in range(0, n, WAV_FRAME):
            fr = samples[f0 : f0 + WAV_FRAME]
            n_rows += 1
            r = got[(doc, f0 // WAV_FRAME)]
            assert r["n_in_frame"] == len(fr)
            assert r["sum_abs"] == sum(abs(s) for s in fr)
            assert r["peak"] == max(abs(s) for s in fr)
            assert r["sum_sq"] == sum(s * s for s in fr)
            assert r["zero_crossings"] == sum(
                1
                for a, b in zip(fr, fr[1:])
                if (a < 0) != (b < 0)
            )
            assert r["low_energy"] == int(
                sum(abs(s) for s in fr) < WAV_FRAME_LOW_MEAN_ABS * len(fr)
            )
    assert len(got) == n_rows
    # doc 96 has 160 samples: 5 full frames, no partial
    assert {k[1] for k in got if k[0] == 96} == {0, 1, 2, 3, 4}
    # doc 0 has 64 samples: exactly 2 frames; doc 1 has 65: partial 3rd
    assert {k[1] for k in got if k[0] == 1} == {0, 1, 2}
    assert got[(1, 2)]["n_in_frame"] == 1


def test_wav_frames_low_energy_flag_flips_on_crafted_payload():
    """The gate is sum|s| < THRESH*n by integer cross-multiplication:
    a frame of tiny samples flags 1, a loud frame flags 0, and the
    boundary (mean exactly THRESH) flags 0 (strict <). Checked through
    parse_wav on hand-assembled bytes so the container walk is in the
    loop."""
    from retail_sales_etl_spark.operators.multimodal import (
        WAV_FRAME,
        WAV_FRAME_LOW_MEAN_ABS,
        parse_wav,
    )

    quiet = [1, -1] * (WAV_FRAME // 2)
    loud = [2000, -2000] * (WAV_FRAME // 2)
    boundary = [WAV_FRAME_LOW_MEAN_ABS] * WAV_FRAME
    _rate, samples = parse_wav(_craft_wav(quiet + loud + boundary))
    frames = [
        samples[i : i + WAV_FRAME]
        for i in range(0, samples.size, WAV_FRAME)
    ]
    flags = [
        int(int(abs(fr).sum()) < WAV_FRAME_LOW_MEAN_ABS * fr.size)
        for fr in frames
    ]
    assert flags == [1, 0, 0]


def test_parse_wav_rejects_short_fmt_chunk_with_valueerror():
    """A structurally valid RIFF whose fmt chunk body is shorter than
    the 16 PCM header bytes must raise the documented ValueError, not
    leak struct.error."""
    import struct

    import pytest

    from retail_sales_etl_spark.operators.multimodal import parse_wav

    body = b"WAVE"
    body += struct.pack("<4sI", b"fmt ", 8) + b"\x00" * 8  # declared len 8
    body += struct.pack("<4sI", b"data", 4) + struct.pack("<hh", 1, -1)
    payload = struct.pack("<4sI", b"RIFF", len(body)) + body
    with pytest.raises(ValueError):
        parse_wav(payload)


def test_decimate_samples_floor_and_tail():
    """Signed floor semantics (toward -inf, not truncation) and the
    trailing partial block averaging only what remains."""
    import numpy as np

    from retail_sales_etl_spark.operators.multimodal import decimate_samples

    s = np.array([-3, -2, 5, 5, 7], dtype=np.int64)
    out = decimate_samples(s, 2)
    # blocks: (-3,-2) -> floor(-5/2) = -3 (truncation would say -2),
    # (5,5) -> 5, tail (7,) -> 7
    assert out.tolist() == [-3, 5, 7]
    assert decimate_samples(np.array([], dtype=np.int64), 3).size == 0
    # factor 1 is identity
    assert decimate_samples(s, 1).tolist() == s.tolist()


def test_wav_resample_matches_python_recompute(spark, sf_dir):
    """End-to-end through the real decode: every emitted row must equal
    a pure-Python decode->decimate->stats recompute of the same
    payload."""
    import numpy as np

    from retail_sales_etl_spark.operators.multimodal import (
        decimate_samples,
        parse_wav,
        q_multimodal_wav_resample,
        synthesize_wav,
    )

    got = {
        r.doc_id: r
        for r in q_multimodal_wav_resample(spark, sf_dir).collect()
    }
    payloads = (
        synthesize_wav(
            spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
        )
        .limit(40)
        .collect()
    )
    assert payloads
    for row in payloads:
        doc_id = row.doc_id
        m = 2 + doc_id % 4
        rate, samples = parse_wav(bytes(row.payload))
        out = decimate_samples(samples, m)
        neg = out < 0
        r = got[doc_id]
        assert r.factor == m
        assert r.sample_rate_out == rate // m
        assert r.n_in == samples.size and r.n_out == out.size
        assert r.sum_abs == int(np.abs(out).sum())
        assert r.peak == int(np.abs(out).max())
        assert r.sum_sq == int((out * out).sum())
        assert r.zero_crossings == int((neg[:-1] != neg[1:]).sum())


class TestPngCodec:
    def _one_payload(self, spark, doc_id=5):
        from retail_sales_etl_spark.operators.multimodal import synthesize_png

        df = spark.createDataFrame([(doc_id,)], "doc_id long")
        return bytes(synthesize_png(df).collect()[0].payload)

    def test_roundtrip_matches_generator(self, spark):
        from retail_sales_etl_spark.operators.multimodal import (
            _ppm_dims,
            _ppm_pixel,
            decode_png,
        )

        for doc_id in (0, 3, 7, 11):  # dims 2x2 .. 9x7, filters vary
            d = decode_png(self._one_payload(spark, doc_id))
            w, h = _ppm_dims(doc_id)
            assert (d["width"], d["height"]) == (w, h)
            pix = [
                _ppm_pixel(doc_id, x, y)
                for y in range(h)
                for x in range(w)
            ]
            assert d["sum_r"] == sum(p[0] for p in pix)
            assert d["sum_g"] == sum(p[1] for p in pix)
            assert d["sum_b"] == sum(p[2] for p in pix)
            assert d["corner_r"] == _ppm_pixel(doc_id, 0, 0)[0]
            assert d["n_raw_bytes"] == h * (1 + 3 * w)
            want_mask = 0
            for y in range(h):
                want_mask |= 1 << ((doc_id + y) % 5)
            assert d["filter_mask"] == want_mask

    def test_all_five_filters_exercised_across_corpus(self, spark):
        """h >= 5 payloads cycle through every filter type — the mask
        must reach 0b11111 for at least one doc, so Sub/Up/Average/
        Paeth unfiltering are all load-bearing in the driver proof."""
        from retail_sales_etl_spark.operators.multimodal import decode_png

        masks = {
            doc_id: decode_png(self._one_payload(spark, doc_id))["filter_mask"]
            for doc_id in (4, 9, 16)  # h = (doc_id % 6) + 2 >= 5
        }
        assert any(m == 0b11111 for m in masks.values()), masks

    def test_crc_corruption_raises(self, spark):
        import pytest

        from retail_sales_etl_spark.operators.multimodal import decode_png

        p = bytearray(self._one_payload(spark))
        # flip one bit inside the IDAT data (after sig+IHDR chunk)
        idat_at = p.index(b"IDAT")
        p[idat_at + 6] ^= 0x01
        with pytest.raises(ValueError, match="CRC"):
            decode_png(bytes(p))

    def test_truncated_and_wrong_variant_raise(self, spark):
        import struct
        import zlib

        import pytest

        from retail_sales_etl_spark.operators.multimodal import (
            _PNG_SIG,
            decode_png,
        )

        p = self._one_payload(spark)
        with pytest.raises(ValueError):
            decode_png(p[:-8])  # truncated tail: IEND gone, stream cut
        with pytest.raises(ValueError, match="not a PNG"):
            decode_png(b"GIF89a" + p)

        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        # interlaced variant must be rejected, not mis-decoded
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
        bad = _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
        with pytest.raises(ValueError, match="unsupported"):
            decode_png(bad)

    def test_multiple_idat_chunks_concatenate(self, spark):
        import struct
        import zlib

        from retail_sales_etl_spark.operators.multimodal import (
            _PNG_SIG,
            decode_png,
        )

        p = self._one_payload(spark)
        # rebuild: split the single IDAT's data into two chunks
        idat_at = p.index(b"IDAT") - 4
        (length,) = struct.unpack_from(">I", p, idat_at)
        data = p[idat_at + 8 : idat_at + 8 + length]
        head, tail = p[:idat_at], p[idat_at + 12 + length:]

        def chunk(ctype, d):
            return (
                struct.pack(">I", len(d)) + ctype + d
                + struct.pack(">I", zlib.crc32(ctype + d) & 0xFFFFFFFF)
            )

        rebuilt = (
            head + chunk(b"IDAT", data[:3]) + chunk(b"IDAT", data[3:]) + tail
        )
        assert decode_png(rebuilt) == decode_png(p)


def test_png_resize_matches_generator_nn(spark, tmp_path):
    """resize_png_nn must produce exactly the NN sums of the shared
    generator raster — the full chain (DEFLATE -> CRC walk -> inflate
    -> five-filter unfilter -> NN kernel) for several dims, and a
    payload with IEND stripped must raise (truncation contract)."""
    import pytest as _pytest
    from pyspark.sql import Row

    from retail_sales_etl_spark.operators.multimodal import (
        PPM_RESIZE_H,
        PPM_RESIZE_W,
        _ppm_dims,
        _ppm_pixel,
        resize_png_nn,
        synthesize_png,
    )

    docs = spark.createDataFrame([Row(doc_id=i) for i in range(12)])
    payloads = {
        r.doc_id: bytes(r.payload)
        for r in synthesize_png(docs).collect()
    }
    for d, payload in payloads.items():
        got = resize_png_nn(payload)
        w, h = _ppm_dims(d)
        want = [0, 0, 0]
        for y2 in range(PPM_RESIZE_H):
            for x2 in range(PPM_RESIZE_W):
                px = _ppm_pixel(
                    d, (x2 * w) // PPM_RESIZE_W, (y2 * h) // PPM_RESIZE_H
                )
                for c in range(3):
                    want[c] += px[c]
        assert (got["src_width"], got["src_height"]) == (w, h)
        assert (got["sum_r"], got["sum_g"], got["sum_b"]) == tuple(want)
    # IEND stripped = truncation -> loud failure, never partial stats
    trunc = payloads[3][: -(12)]  # IEND chunk is exactly 12 bytes
    with _pytest.raises(ValueError, match="IEND"):
        resize_png_nn(trunc)


def test_gif_lzw_roundtrip_and_width_growth(spark):
    """The LZW pair must roundtrip streams that cross several code
    widths (mcs=2), reach the 12-bit dictionary cap with CLEAR resets
    (mcs=8, 40k symbols), and exercise the KwKwK self-reference case
    (highly repetitive input)."""
    import random

    from retail_sales_etl_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    rng = random.Random(11)
    for _ in range(100):
        n = rng.randrange(1, 2000)
        data = bytes(rng.randrange(4) for _ in range(n))
        assert _lzw_decode(_lzw_encode(data, 2), 2, n) == data
    big = bytes(rng.randrange(256) for _ in range(40_000))
    assert _lzw_decode(_lzw_encode(big, 8), 8, len(big)) == big
    rep = bytes([1, 1, 1, 1, 2, 2, 2, 2] * 2000)
    assert _lzw_decode(_lzw_encode(rep, 2), 2, len(rep)) == rep


def test_gif_decode_matches_generator_and_rejects_corruption(spark):
    """decode_gif must recover the exact palette-mapped channel sums
    of the generator field for several dims, tolerate an inserted 89a
    extension block, and fail loudly on a missing trailer or an
    unknown block type."""
    import pytest as _pytest
    from pyspark.sql import Row

    from retail_sales_etl_spark.operators.multimodal import (
        _gif_dims,
        _gif_index,
        _gif_palette,
        decode_gif,
        synthesize_gif,
    )

    docs = spark.createDataFrame([Row(doc_id=i) for i in range(16)])
    payloads = {
        r.doc_id: bytes(r.payload) for r in synthesize_gif(docs).collect()
    }
    for d, payload in payloads.items():
        got = decode_gif(payload)
        w, h = _gif_dims(d)
        want = [0, 0, 0]
        for y in range(h):
            for x in range(w):
                rgb = _gif_palette(_gif_index(d, x, y))
                for c in range(3):
                    want[c] += rgb[c]
        assert (got["width"], got["height"]) == (w, h)
        assert got["n_pixels"] == w * h
        assert (got["sum_r"], got["sum_g"], got["sum_b"]) == tuple(want)
        assert got["corner_idx"] == _gif_index(d, 0, 0)
    p = payloads[5]
    # an 89a graphic-control extension between GCT and image descriptor
    # must be skipped (13-byte header + 4-color * 3 GCT = 25)
    ext = p[:25] + b"\x21\xf9\x04\x00\x00\x00\x00\x00" + p[25:]
    assert decode_gif(ext)["sum_r"] == decode_gif(p)["sum_r"]
    with _pytest.raises(ValueError, match="trailer"):
        decode_gif(p[:-1])
    with _pytest.raises(ValueError, match="unexpected block"):
        decode_gif(p[:25] + b"\x7f" + p[25:])


def test_png_degenerate_dims_raise_value_error(spark):
    """A CRC-valid PNG declaring a zero dimension passes every stream-
    length check with an empty raster — it must fail with the codec
    family's loud ValueError, not an IndexError at the corner probe
    (r15 review)."""
    import struct
    import zlib

    import pytest as _pytest

    from retail_sales_etl_spark.operators.multimodal import (
        _PNG_SIG,
        decode_png,
        resize_png_nn,
    )

    def _chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 3, 0, 8, 2, 0, 0, 0)  # height 0
    payload = (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b""))
        + _chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="degenerate"):
        decode_png(payload)
    with _pytest.raises(ValueError, match="degenerate"):
        resize_png_nn(payload)


def test_gif_resize_matches_generator_nn(spark):
    """resize_gif_nn must produce exactly the NN sums of the palette-
    mapped generator raster — through sub-block reassembly and the
    variable-width LZW rebuild — and a truncated payload must raise."""
    import pytest as _pytest
    from pyspark.sql import Row

    from retail_sales_etl_spark.operators.multimodal import (
        PPM_RESIZE_H,
        PPM_RESIZE_W,
        _gif_dims,
        _gif_index,
        _gif_palette,
        resize_gif_nn,
        synthesize_gif,
    )

    docs = spark.createDataFrame([Row(doc_id=i) for i in range(12)])
    payloads = {
        r.doc_id: bytes(r.payload) for r in synthesize_gif(docs).collect()
    }
    for d, payload in payloads.items():
        got = resize_gif_nn(payload)
        w, h = _gif_dims(d)
        want = [0, 0, 0]
        for y2 in range(PPM_RESIZE_H):
            for x2 in range(PPM_RESIZE_W):
                rgb = _gif_palette(_gif_index(
                    d, (x2 * w) // PPM_RESIZE_W, (y2 * h) // PPM_RESIZE_H
                ))
                for c in range(3):
                    want[c] += rgb[c]
        assert (got["src_width"], got["src_height"]) == (w, h)
        assert (got["sum_r"], got["sum_g"], got["sum_b"]) == tuple(want)
    with _pytest.raises(ValueError, match="trailer"):
        resize_gif_nn(payloads[2][:-1])


def _craft_tga(w, h, pixels_topfirst, topdown=True, id_len=0,
               footer=None, packets=None):
    """Hand-build an RLE-24 TGA. ``pixels_topfirst`` is rows in IMAGE
    order (top first); storage order follows ``topdown``. ``packets``
    overrides the pixel data entirely (for framing-hazard tests)."""
    import struct

    buf = bytearray()
    buf += struct.pack(
        "<BBBHHBHHHHBB",
        id_len, 0, 10, 0, 0, 0, 0, 0, w, h, 24, 0x20 if topdown else 0,
    )
    buf += b"\x55" * id_len
    if packets is not None:
        buf += packets
    else:
        rows = pixels_topfirst if topdown else pixels_topfirst[::-1]
        for row in rows:
            for (r, g, b) in row:  # one raw packet per pixel
                buf += bytes((0x00, b, g, r))
    buf += multimodal._TGA_FOOTER if footer is None else footer
    return bytes(buf)


def test_decode_tga_origin_and_id_skip_exact():
    """The SAME image stored top-down and bottom-up must decode to the
    same sums AND the same top-left corner (the flip is load-bearing:
    unflipped, the bottom-up payload's first stored row is the bottom
    row); a nonzero image-ID field must be skipped, not decoded."""
    pixels = [
        [(10, 20, 30), (40, 50, 60)],  # top row
        [(70, 80, 90), (100, 110, 120)],
    ]
    td = multimodal.decode_tga(_craft_tga(2, 2, pixels, topdown=True))
    bu = multimodal.decode_tga(_craft_tga(2, 2, pixels, topdown=False))
    assert td["sum_r"] == bu["sum_r"] == 10 + 40 + 70 + 100
    assert td["corner_r"] == bu["corner_r"] == 10
    assert td["corner_b"] == bu["corner_b"] == 30
    assert td["topdown"] is True and bu["topdown"] is False
    skewed = multimodal.decode_tga(
        _craft_tga(2, 2, pixels, topdown=True, id_len=3)
    )
    assert skewed["id_len"] == 3
    assert {k: v for k, v in skewed.items()
            if k not in ("id_len", "n_bytes")} == {
        k: v for k, v in td.items() if k not in ("id_len", "n_bytes")
    }


def test_decode_tga_rle_framing_counts_and_rejections():
    """Run packets expand count+1 copies of ONE pixel; raw packets
    carry count+1 literal pixels; the packet counts are reported; a
    packet overrunning the raster, a truncated stream, a missing
    footer, and unsupported header variants all raise."""
    import pytest

    # 3x1: one run of 2 (value 5,6,7 as BGR 7,6,5) + one raw single
    packets = bytes((0x81, 7, 6, 5)) + bytes((0x00, 30, 20, 10))
    d = multimodal.decode_tga(_craft_tga(3, 1, None, packets=packets))
    assert (d["n_run_packets"], d["n_raw_packets"]) == (1, 1)
    assert d["sum_r"] == 5 + 5 + 10 and d["sum_b"] == 7 + 7 + 30
    # run packet of 3 overruns the 3-pixel raster when one pixel landed
    over = bytes((0x00, 1, 1, 1)) + bytes((0x82, 2, 2, 2)) + bytes((0x80, 3, 3, 3))
    with pytest.raises(ValueError, match="overruns"):
        multimodal.decode_tga(_craft_tga(3, 1, None, packets=over))
    with pytest.raises(ValueError, match="ended before"):
        multimodal.decode_tga(
            _craft_tga(3, 1, None, packets=bytes((0x81, 7, 6, 5)))
        )
    with pytest.raises(ValueError, match="footer"):
        multimodal.decode_tga(
            _craft_tga(3, 1, None, packets=packets,
                       footer=b"\x00" * len(multimodal._TGA_FOOTER))
        )
    good = _craft_tga(2, 1, [[(1, 2, 3), (4, 5, 6)]])
    bad_type = bytearray(good)
    bad_type[2] = 2  # uncompressed truecolor: out of scope here
    with pytest.raises(ValueError, match="variant"):
        multimodal.decode_tga(bytes(bad_type))
    bad_desc = bytearray(good)
    bad_desc[17] |= 0x0F  # attribute bits set
    with pytest.raises(ValueError, match="descriptor"):
        multimodal.decode_tga(bytes(bad_desc))


def test_tga_roundtrip_synth_decode(spark, sf_dir):
    """Synthesized corpus payloads decode to the closed-form surface:
    packet counts match the h*(w//2) / h*(w%2) formulas and sums match
    the quantized generator — through the real Spark mapInPandas path."""
    out = multimodal.q_multimodal_tga_stats(spark, sf_dir).limit(64).collect()
    assert out
    for r in out:
        d = r.asDict()
        w, h = multimodal._ppm_dims(r.doc_id)
        assert (d["width"], d["height"]) == (w, h)
        assert d["n_run_packets"] == h * (w // 2)
        assert d["n_raw_packets"] == h * (w % 2)
        assert d["id_len"] == r.doc_id % 4
        assert d["topdown"] == (r.doc_id % 2 == 1)
        want_r = sum(
            multimodal._tga_pixel(r.doc_id, x, y)[0]
            for x in range(w) for y in range(h)
        )
        assert d["sum_r"] == want_r
        assert d["corner_r"] == r.doc_id % 256


def test_tga_resize_matches_generator_nn():
    """resize_tga_nn through the real RLE payload must equal the
    brute-force NN sums from the quantized generator — for BOTH
    origins (an unflipped bottom-up raster samples wrong source rows:
    doc 1 is stored bottom-up, doc 2 top-down in the corpus
    convention, so both paths are load-bearing here)."""
    import struct

    import retail_sales_etl_spark.operators.multimodal as mm
    from retail_sales_etl_spark.operators.multimodal import (
        PPM_RESIZE_H,
        PPM_RESIZE_W,
        _ppm_dims,
        _tga_pixel,
        resize_tga_nn,
    )

    # build payloads exactly as the synthesizer does, without Spark
    for doc_id in (1, 2, 7, 12):
        w, h = _ppm_dims(doc_id)
        id_len = mm._tga_id_len(doc_id)
        topdown = mm._tga_topdown(doc_id)
        buf = bytearray()
        buf += struct.pack(
            "<BBBHHBHHHHBB",
            id_len, 0, 10, 0, 0, 0, 0, 0, w, h, 24,
            0x20 if topdown else 0,
        )
        buf += b"\x77" * id_len
        ys = range(h) if topdown else range(h - 1, -1, -1)
        for y in ys:
            row = [
                bytes(reversed(_tga_pixel(doc_id, x, y)))
                for x in range(w)
            ]
            enc, _, _ = mm._tga_rle_row(row)
            buf += enc
        buf += mm._TGA_FOOTER

        got = resize_tga_nn(bytes(buf))
        want_r = sum(
            _tga_pixel(doc_id, (x2 * w) // PPM_RESIZE_W,
                       (y2 * h) // PPM_RESIZE_H)[0]
            for x2 in range(PPM_RESIZE_W) for y2 in range(PPM_RESIZE_H)
        )
        want_b = sum(
            _tga_pixel(doc_id, (x2 * w) // PPM_RESIZE_W,
                       (y2 * h) // PPM_RESIZE_H)[2]
            for x2 in range(PPM_RESIZE_W) for y2 in range(PPM_RESIZE_H)
        )
        assert (got["src_width"], got["src_height"]) == (w, h)
        assert got["sum_r"] == want_r and got["sum_b"] == want_b


def test_decode_ico_crafted_masked_exact_and_rejections():
    """Hand-built one-image ICO (2x2, one transparent pixel): stats
    sum OPAQUE pixels only through the MSB-first AND mask; rejections:
    wrong resource type, out-of-bounds image offset, an UN-doubled
    biHeight, and truncated image data all raise."""
    import struct

    import pytest

    def craft(bi_height=4, offset_fudge=0, trunc=0, res_type=1):
        w = h = 2
        xor_stride = multimodal._bmp_stride(w)   # 8
        and_stride = multimodal._ico_and_stride(w)  # 4
        img = bytearray()
        img += struct.pack(
            "<IiiHHIIiiII", 40, w, bi_height, 1, 24, 0,
            (xor_stride + and_stride) * h, 0, 0, 0, 0,
        )
        # image rows top-first: [(r10,g20,b30),(r40,g50,b60)],
        #                       [(r70,g80,b90),(r100,g110,b120)]
        rows = [[(10, 20, 30), (40, 50, 60)],
                [(70, 80, 90), (100, 110, 120)]]
        for y in (1, 0):  # bottom-up
            line = bytearray()
            for r, g, b in rows[y]:
                line += bytes((b, g, r))
            line += b"\x00" * (xor_stride - 3 * w)
            img += line
        # AND mask: transparent ONLY at image (x=1, y=0) -> stored row
        # slot h-1-0 = 1 (bottom-up), bit 0x80 >> 1 = 0x40
        for y in (1, 0):
            row = bytearray(and_stride)
            if y == 0:
                row[0] = 0x40
            img += row
        if trunc:
            img = img[:-trunc]
        buf = bytearray()
        buf += struct.pack("<HHH", 0, res_type, 1)
        buf += struct.pack("<BBBBHHII", w, h, 0, 0, 1, 24, len(img),
                           22 + offset_fudge)
        buf += img
        return bytes(buf)

    out = multimodal.decode_ico(craft())
    assert len(out) == 1
    d = out[0]
    assert (d["width"], d["height"], d["n_pixels"]) == (2, 2, 4)
    assert d["n_opaque"] == 3  # (1,0) transparent
    assert d["sum_r"] == 10 + 70 + 100
    assert d["sum_g"] == 20 + 80 + 110
    assert d["sum_b"] == 30 + 90 + 120
    with pytest.raises(ValueError, match="not an ICO"):
        multimodal.decode_ico(craft(res_type=2))
    with pytest.raises(ValueError, match="outside payload"):
        multimodal.decode_ico(craft(offset_fudge=64))
    with pytest.raises(ValueError, match="DOUBLED"):
        multimodal.decode_ico(craft(bi_height=2))
    with pytest.raises(ValueError, match="truncated ICO image"):
        multimodal.decode_ico(craft(trunc=4))


def test_resize_ico_nn_crafted_mask_rides_through_resize():
    """Hand-built one-image ICO (2x2, transparent at image (1,0))
    NN-resized to 4x3: the sample grid maps x2->sx 0,0,1,1 and
    y2->sy 0,0,1, so the transparent source pixel is sampled 4 times
    (2 columns x 2 rows) -> n_opaque = 8, and the channel sums cover
    exactly the opaque samples — a resizer that ignores the AND plane
    would report 12 and overcount by the masked pixel's channels."""
    import struct

    def craft():
        w = h = 2
        xor_stride = multimodal._bmp_stride(w)
        and_stride = multimodal._ico_and_stride(w)
        img = bytearray()
        img += struct.pack(
            "<IiiHHIIiiII", 40, w, 4, 1, 24, 0,
            (xor_stride + and_stride) * h, 0, 0, 0, 0,
        )
        rows = [[(10, 20, 30), (40, 50, 60)],
                [(70, 80, 90), (100, 110, 120)]]
        for y in (1, 0):  # bottom-up
            line = bytearray()
            for r, g, b in rows[y]:
                line += bytes((b, g, r))
            line += b"\x00" * (xor_stride - 3 * w)
            img += line
        for y in (1, 0):  # AND mask: transparent only at (x=1, y=0)
            row = bytearray(and_stride)
            if y == 0:
                row[0] = 0x40
            img += row
        buf = bytearray()
        buf += struct.pack("<HHH", 0, 1, 1)
        buf += struct.pack("<BBBBHHII", w, h, 0, 0, 1, 24, len(img), 22)
        buf += img
        return bytes(buf)

    out = multimodal.resize_ico_nn(craft())
    assert len(out) == 1
    d = out[0]
    assert (d["img_idx"], d["src_width"], d["src_height"]) == (0, 2, 2)
    assert d["n_opaque"] == 8
    assert d["sum_r"] == 4 * 10 + 2 * 70 + 2 * 100
    assert d["sum_g"] == 4 * 20 + 2 * 80 + 2 * 110
    assert d["sum_b"] == 4 * 30 + 2 * 90 + 2 * 120


def test_ico_roundtrip_synth_decode_multi_image_and_256(spark, sf_dir):
    """Corpus payloads decode per (doc, image) with the generator's
    closed-form surface: image counts follow doc_id % 3 + 1, every
    fifth doc's last image is 256 wide (directory byte 0), and opaque
    sums match the diagonal mask predicate."""
    out = multimodal.q_multimodal_ico_stats(spark, sf_dir).limit(
        200
    ).collect()
    assert out
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, imgs in by_doc.items():
        if len(imgs) != doc_id % 3 + 1:
            continue  # limit() may cut a doc's tail images
        for r in imgs:
            w, h = multimodal._ico_dims(doc_id, r.img_idx)
            assert (r.width, r.height) == (w, h)
            want_op = sum(
                1
                for x in range(w) for y in range(h)
                if not multimodal._ico_transparent(doc_id, x, y)
            )
            assert r.n_opaque == want_op
            want_r = sum(
                multimodal._ico_pixel(doc_id, r.img_idx, x, y)[0]
                for x in range(w) for y in range(h)
                if not multimodal._ico_transparent(doc_id, x, y)
            )
            assert r.sum_r == want_r
        if doc_id % 5 == 0:
            assert imgs[-1].width == 256  # the 0-means-256 byte


def test_decode_ico_rejects_undersized_directory_entry():
    """A directory entry whose size is too small to hold a
    BITMAPINFOHEADER must raise the documented ValueError, never a
    struct.error escaping the contract inside mapInPandas."""
    import struct

    import pytest

    buf = bytearray()
    buf += struct.pack("<HHH", 0, 1, 1)
    buf += struct.pack("<BBBBHHII", 2, 2, 0, 0, 1, 24, 10, 22)
    buf += b"\x00" * 10
    with pytest.raises(ValueError, match="truncated ICO image"):
        multimodal.decode_ico(bytes(buf))


def test_detect_silence_runs_edges_and_roundtrip(spark, sf_dir):
    """Run segmentation hazards pinned by hand: leading/trailing/
    internal runs, the exactly-at-threshold sample is NOT silent, the
    all-silent and none-silent clips; then the real decode path must
    match the generator-side recount for a few corpus docs."""
    from retail_sales_etl_spark.operators.multimodal import (
        WAV_SILENCE_THRESHOLD as T,
        _wav_params,
        _wav_sample,
        detect_silence_runs,
        q_multimodal_wav_silence,
    )

    assert detect_silence_runs([0, 0, 2000, 0, 2000, 0, 0, 0]) == (6, 3, 3)
    assert detect_silence_runs([T, -T, T + 1]) == (0, 0, 0)  # at-threshold
    assert detect_silence_runs([T - 1, 1 - T]) == (2, 1, 2)
    assert detect_silence_runs([]) == (0, 0, 0)
    assert detect_silence_runs([0] * 4) == (4, 1, 4)

    out = {r["doc_id"]: r for r in
           q_multimodal_wav_silence(spark, sf_dir).limit(32).collect()}
    assert out
    for doc_id, r in list(out.items())[:6]:
        _, n, _ = _wav_params(doc_id)
        want = detect_silence_runs(
            [_wav_sample(doc_id, i) for i in range(n)]
        )
        assert (r["n_silent"], r["n_runs"], r["max_run"]) == want
        assert r["n_samples"] == n


def test_qoi_crafted_chunks_exact_and_rejections():
    """Hand-built QOI streams, one per chunk kind: RGB literal, RGBA
    (alpha carried), INDEX (including a read of a zero-initialized
    slot), DIFF with mod-256 wraparound, LUMA, RUN; rejections: bad
    magic, zero dims, a RUN overflowing the pixel count, a truncated
    stream, and a missing end marker."""
    import struct

    import pytest

    from retail_sales_etl_spark.operators import multimodal as mm

    def hdr(w, h, ch=3):
        return b"qoif" + struct.pack(">IIBB", w, h, ch, 0)

    end = b"\x00" * 7 + b"\x01"

    # RGB + RUN: pixel (10,20,30) then a run of 3 -> 4 pixels
    w, h, rows, ops = mm._qoi_raster(
        hdr(4, 1) + bytes((0xFE, 10, 20, 30)) + bytes((0xC0 | 2,)) + end
    )
    assert rows[0] == [(10, 20, 30, 255)] * 4
    assert ops["rgb"] == 1 and ops["run"] == 1

    # DIFF with wraparound: start (0,0,0,255); RGB to (255,255,0),
    # then DIFF (+1,+1,-1) -> wraps to (0,0,255)
    _, _, rows, ops = mm._qoi_raster(
        hdr(2, 1)
        + bytes((0xFE, 255, 255, 0))
        + bytes((0x40 | (3 << 4) | (3 << 2) | 1,))
        + end
    )
    assert rows[0][1] == (0, 0, 255, 255)
    assert ops["diff"] == 1

    # LUMA: dg=+9, dr-dg=-3, db-dg=+5 from (100,100,100)
    _, _, rows, ops = mm._qoi_raster(
        hdr(2, 1)
        + bytes((0xFE, 100, 100, 100))
        + bytes((0x80 | (9 + 32), ((-3 + 8) << 4) | (5 + 8)))
        + end
    )
    assert rows[0][1] == (100 + 9 - 3, 109, 109 + 5, 255)
    assert ops["luma"] == 1

    # INDEX: re-seen color by hash slot; and a zero-init slot read
    px = (10, 20, 30, 255)
    slot = mm._qoi_hash(*px)
    _, _, rows, ops = mm._qoi_raster(
        hdr(3, 1)
        + bytes((0xFE, 10, 20, 30))
        + bytes((0xFE, 200, 200, 200))
        + bytes((slot,))
        + end
    )
    assert rows[0][2] == px
    assert ops["index"] == 1
    zero_slot = mm._qoi_hash(0, 0, 0, 0)
    _, _, rows, _ = mm._qoi_raster(hdr(1, 1) + bytes((zero_slot,)) + end)
    assert rows[0][0] == (0, 0, 0, 0)  # spec: index starts zeroed

    # RGBA carries alpha into later RGB chunks
    _, _, rows, ops = mm._qoi_raster(
        hdr(2, 1, ch=4)
        + bytes((0xFF, 1, 2, 3, 77))
        + bytes((0xFE, 4, 5, 6))
        + end
    )
    assert rows[0] == [(1, 2, 3, 77), (4, 5, 6, 77)]
    assert ops["rgba"] == 1

    with pytest.raises(ValueError, match="not a QOI"):
        mm._qoi_raster(b"qoix" + b"\x00" * 20)
    with pytest.raises(ValueError, match="zero-dimension"):
        mm._qoi_raster(hdr(0, 3) + end)
    with pytest.raises(ValueError, match="overflows"):
        mm._qoi_raster(
            hdr(2, 1) + bytes((0xFE, 1, 1, 1)) + bytes((0xC0 | 5,)) + end
        )
    with pytest.raises(ValueError, match="truncated"):
        mm._qoi_raster(hdr(4, 4) + bytes((0xFE, 1, 1, 1)) + end)
    with pytest.raises(ValueError, match="end marker"):
        mm._qoi_raster(
            hdr(1, 1) + bytes((0xFE, 1, 1, 1)) + b"\x00" * 8
        )


def test_qoi_encoder_roundtrips_and_all_chunk_kinds_load_bearing():
    """decode(encode(raster)) must reproduce every raster exactly —
    including an all-same-color image whose run exceeds the 62-pixel
    chunk cap — and across the generator corpus every RGB-stream
    chunk kind (rgb, index, diff, luma, run) must actually occur, so
    the oracle's sums are earned through all five decode paths."""
    from retail_sales_etl_spark.operators import multimodal as mm

    # pathological: 10x13 of one color -> runs 62 + 62 + 6
    flat = [(7, 8, 9)] * 130
    w, h, rows, ops = mm._qoi_raster(mm._qoi_encode(flat, 10, 13))
    assert [px[:3] for row in rows for px in row] == flat
    assert ops["run"] == 3

    totals = {"rgb": 0, "index": 0, "diff": 0, "luma": 0, "run": 0}
    for d in range(120):
        w, h = mm._qoi_dims(d)
        pixels = [
            mm._qoi_pixel(d, x, y) for y in range(h) for x in range(w)
        ]
        got_w, got_h, rows, ops = mm._qoi_raster(
            mm._qoi_encode(pixels, w, h)
        )
        assert (got_w, got_h) == (w, h)
        assert [px[:3] for row in rows for px in row] == pixels, d
        for k in totals:
            totals[k] += ops[k]
    assert all(v > 0 for v in totals.values()), totals


class TestJpegCodec:
    """Baseline JFIF decoder (ITU-T T.81 public spec): generator
    round-trip, the general AC run-length path + byte unstuffing via a
    crafted stream checked against an INDEPENDENT double-loop IDCT,
    stuffing on the writer side, and the loud out-of-scope gates."""

    def _one_payload(self, spark, doc_id=123):
        from retail_sales_etl_spark.operators.multimodal import (
            synthesize_jpeg,
        )

        docs = spark.createDataFrame([(doc_id,)], "doc_id bigint")
        return bytes(synthesize_jpeg(docs).collect()[0]["payload"])

    def test_roundtrip_matches_closed_form(self, spark):
        from retail_sales_etl_spark.operators.multimodal import (
            _jpeg_block_val,
            _jpeg_dims,
            decode_jpeg,
        )

        for d in (0, 1, 5, 37, 123):
            got = decode_jpeg(self._one_payload(spark, d))
            w, h = _jpeg_dims(d)
            wb, hb = w // 8, h // 8
            assert (got["width"], got["height"]) == (w, h)
            for comp, key in ((0, "sum_y"), (1, "sum_cb"), (2, "sum_cr")):
                want = 64 * sum(
                    _jpeg_block_val(d, comp, bx, by)
                    for bx in range(wb)
                    for by in range(hb)
                )
                assert got[key] == want, (d, key)
            assert got["corner_y"] == _jpeg_block_val(d, 0, 0, 0)

    @staticmethod
    def _craft(y_dc, y_acs):
        """Hand-build a single-MCU 8x8 baseline JFIF with arbitrary Y
        AC symbols (chroma blocks: zero DC + EOB)."""
        import struct

        from retail_sales_etl_spark.operators.multimodal import (
            _JPEG_AC_CHROMA,
            _JPEG_AC_LUMA,
            _JPEG_DC_CHROMA,
            _JPEG_DC_LUMA,
            _JPEG_QT_CHROMA,
            _JPEG_QT_LUMA,
            _jpeg_code_map,
            _JpegBitWriter,
        )

        def _seg(marker, body):
            return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

        dc_maps = (
            _jpeg_code_map(*_JPEG_DC_LUMA),
            _jpeg_code_map(*_JPEG_DC_CHROMA),
        )
        ac_maps = (
            _jpeg_code_map(*_JPEG_AC_LUMA),
            _jpeg_code_map(*_JPEG_AC_CHROMA),
        )
        buf = bytearray(b"\xff\xd8")
        buf += _seg(
            0xDB,
            bytes([0x00]) + bytes(_JPEG_QT_LUMA)
            + bytes([0x01]) + bytes(_JPEG_QT_CHROMA),
        )
        buf += _seg(
            0xC0,
            struct.pack(">BHHB", 8, 8, 8, 3)
            + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
        )
        dht = bytearray()
        for cls_id, (bits, vals) in (
            (0x00, _JPEG_DC_LUMA),
            (0x10, _JPEG_AC_LUMA),
            (0x01, _JPEG_DC_CHROMA),
            (0x11, _JPEG_AC_CHROMA),
        ):
            dht += bytes([cls_id]) + bytes(bits) + bytes(vals)
        buf += _seg(0xC4, bytes(dht))
        buf += _seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
        bw = _JpegBitWriter()
        t = abs(y_dc).bit_length()
        code, ln = dc_maps[0][t]
        bw.write(code, ln)
        if t:
            bw.write(y_dc if y_dc >= 0 else y_dc + (1 << t) - 1, t)
        for sym, val in y_acs:
            code, ln = ac_maps[0][sym]
            bw.write(code, ln)
            s = sym & 15
            if s:
                bw.write(val if val >= 0 else val + (1 << s) - 1, s)
        code, ln = ac_maps[0][0x00]
        bw.write(code, ln)
        for _ in range(2):
            code, ln = dc_maps[1][0]
            bw.write(code, ln)
            code, ln = ac_maps[1][0x00]
            bw.write(code, ln)
        bw.flush()
        entropy = bytes(bw.buf)
        return bytes(buf) + entropy + b"\xff\xd9", entropy

    def test_ac_runlength_and_unstuffing_vs_independent_idct(self):
        """A crafted stream with real AC coefficients — (0,2) symbol,
        a ZRL sixteen-zero run, a (1,3) run-skip — whose entropy bytes
        CONTAIN a stuffed 0xFF00 pair; decoded pixels must equal an
        independent double-loop IDCT of the same dequantized
        coefficients (the decoder's matrix IDCT never checks itself)."""
        import math

        import numpy as np

        from retail_sales_etl_spark.operators.multimodal import (
            _JPEG_ZIGZAG,
            _jpeg_raster,
        )

        y_dc, v2 = -1, -7
        payload, entropy = self._craft(
            y_dc, [(0x02, -3), (0xF0, 0), ((1 << 4) | 3, v2)]
        )
        assert b"\xff\x00" in entropy  # stuffing is load-bearing here
        w, h, planes, samps = _jpeg_raster(payload)
        assert samps == [(1, 1), (1, 1), (1, 1)]
        assert (w, h) == (8, 8)
        coef = np.zeros((8, 8))
        coef[0, 0] = y_dc * 8
        coef[0, 1] = -3 * 16  # zigzag 1 -> natural (0, 1)
        nat = _JPEG_ZIGZAG[19]  # after ZRL: k=18, run 1 -> k=19
        coef[nat // 8, nat % 8] = v2 * 16
        exp = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                acc = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 1 / math.sqrt(2) if u == 0 else 1.0
                        cv = 1 / math.sqrt(2) if v == 0 else 1.0
                        acc += (
                            cu * cv / 4 * coef[u, v]
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * y + 1) * v * math.pi / 16)
                        )
                exp[x, y] = acc
        exppix = np.clip(np.round(exp) + 128, 0, 255).astype(np.uint8)
        assert np.array_equal(planes[0], exppix)
        # chroma blocks were zero-DC + EOB: exactly flat 128
        assert planes[1].min() == planes[1].max() == 128
        assert planes[2].min() == planes[2].max() == 128

    def test_bit_writer_stuffs_ff(self):
        from retail_sales_etl_spark.operators.multimodal import (
            _JpegBitWriter,
        )

        bw = _JpegBitWriter()
        bw.write(0xFF, 8)
        bw.write(0xA5, 8)
        assert bytes(bw.buf) == b"\xff\x00\xa5"

    def test_rejects_corruption_and_out_of_scope(self, spark):
        import pytest

        from retail_sales_etl_spark.operators.multimodal import (
            decode_jpeg,
        )

        p = self._one_payload(spark)
        with pytest.raises(ValueError, match="not a JPEG"):
            decode_jpeg(b"\x89PNG" + p)
        with pytest.raises(ValueError, match="truncated|missing EOI"):
            decode_jpeg(p[:-4])  # tail cut: entropy/EOI gone
        # progressive SOF must be rejected, not mis-decoded
        sof_at = p.index(b"\xff\xc0")
        with pytest.raises(ValueError, match="non-baseline"):
            decode_jpeg(p[:sof_at + 1] + b"\xc2" + p[sof_at + 2:])
        # an unsupported sampling layout (4:4:0-style, Y 1x2) — loud
        # gate (2x1 and 2x2 are now the supported 4:2:2 / 4:2:0)
        bad = bytearray(p)
        bad[sof_at + 11] = 0x12  # Y component sampling byte: 1x2
        with pytest.raises(ValueError, match="subsampled chroma layout"):
            decode_jpeg(bytes(bad))
        # a DRI declaring restarts the stream does not contain is
        # desync — the reader must fail loud, not drift
        dri = b"\xff\xdd\x00\x04\x00\x02"
        with pytest.raises(ValueError, match="restart marker"):
            decode_jpeg(p[:sof_at] + dri + p[sof_at:])

    def test_dispatch_routes_jpeg_to_real_decoder(self, spark):
        from pyspark.sql import Row

        from retail_sales_etl_spark.operators.multimodal import (
            JPEG_MIME,
            _jpeg_dims,
            extract_features,
        )

        p = self._one_payload(spark, 123)
        media = spark.createDataFrame(
            [Row(doc_id=1, payload=p, mime_type=JPEG_MIME, n_bytes=len(p))]
        )
        (got,) = extract_features(media).collect()
        assert (got["width"], got["height"]) == _jpeg_dims(123)


def test_jpeg_resize_matches_generator_nn(spark):
    """resize_jpeg_nn must produce exactly the NN sums of the
    closed-form block grid — the full chain (Huffman -> dequant ->
    IDCT -> NN kernel) for several dims — and a payload with EOI
    stripped must raise (truncation contract)."""
    import pytest

    from retail_sales_etl_spark.operators.multimodal import (
        PPM_RESIZE_H,
        PPM_RESIZE_W,
        _jpeg_block_val,
        _jpeg_dims,
        resize_jpeg_nn,
        synthesize_jpeg,
    )

    ids = [0, 3, 5, 37, 122]
    docs = spark.createDataFrame([(d,) for d in ids], "doc_id bigint")
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthesize_jpeg(docs).collect()
    }
    for d in ids:
        got = resize_jpeg_nn(payloads[d])
        w, h = _jpeg_dims(d)
        assert (got["src_width"], got["src_height"]) == (w, h)
        for comp, key in ((0, "sum_y"), (1, "sum_cb"), (2, "sum_cr")):
            want = sum(
                _jpeg_block_val(
                    d,
                    comp,
                    ((x2 * w) // PPM_RESIZE_W) // 8,
                    ((y2 * h) // PPM_RESIZE_H) // 8,
                )
                for x2 in range(PPM_RESIZE_W)
                for y2 in range(PPM_RESIZE_H)
            )
            assert got[key] == want, (d, key)
    with pytest.raises(ValueError, match="truncated|missing EOI"):
        resize_jpeg_nn(payloads[ids[0]][:-2])


def test_jpeg420_native_chroma_and_block_order(spark):
    """4:2:0 decode: chroma planes come back at NATIVE quarter
    resolution, the 4-Y-per-MCU raster order and the three DC
    predictor chains survive interleaving (sums + corners match the
    closed form), and the same payload resizes through the
    subsampling-aware NN kernel."""
    from retail_sales_etl_spark.operators.multimodal import (
        _jpeg420_dims,
        _jpeg_block_val,
        _jpeg_raster,
        decode_jpeg,
        resize_jpeg_nn,
        synthesize_jpeg420,
    )

    ids = [0, 1, 5, 37, 122]
    docs = spark.createDataFrame([(d,) for d in ids], "doc_id bigint")
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthesize_jpeg420(docs).collect()
    }
    for d in ids:
        w, h = _jpeg420_dims(d)
        mw, mh = w // 16, h // 16
        _, _, planes, samps = _jpeg_raster(payloads[d])
        assert samps == [(2, 2), (1, 1), (1, 1)]
        assert planes[0].shape == (h, w)
        assert planes[1].shape == (h // 2, w // 2)  # native quarter
        got = decode_jpeg(payloads[d])
        assert got["n_blocks"] == 6 * mw * mh
        want_y = 64 * sum(
            _jpeg_block_val(d, 0, bx, by)
            for bx in range(2 * mw)
            for by in range(2 * mh)
        )
        want_cb = 64 * sum(
            _jpeg_block_val(d, 1, mx, my)
            for mx in range(mw)
            for my in range(mh)
        )
        assert got["sum_y"] == want_y, d
        assert got["sum_cb"] == want_cb, d
        assert got["corner_y"] == _jpeg_block_val(d, 0, 0, 0)
        assert got["corner_cb"] == _jpeg_block_val(d, 1, 0, 0)
        # resize samples chroma at its native grid without IndexError
        r = resize_jpeg_nn(payloads[d])
        assert (r["src_width"], r["src_height"]) == (w, h)
        assert r["sum_y"] > 0 and r["sum_cb"] > 0


def test_jpeg_dri_restarts_roundtrip_and_reject_out_of_sequence(spark):
    """Restart intervals: the dri=2 generator stream round-trips to
    the SAME stats as the plain stream (restart structure is
    sum-invisible when the predictor reset is handled right), the
    payload really contains RST markers, and an out-of-sequence
    restart index fails loud."""
    import pytest

    from retail_sales_etl_spark.operators.multimodal import (
        decode_jpeg,
        synthesize_jpeg,
    )

    ids = [3, 123, 119]  # up to 4x3 = 12 MCUs -> up to 5 restarts
    docs = spark.createDataFrame([(d,) for d in ids], "doc_id bigint")
    plain = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthesize_jpeg(docs).collect()
    }
    with_dri = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthesize_jpeg(docs, dri=2).collect()
    }
    for d in ids:
        assert b"\xff\xd0" in with_dri[d]  # RST0 really present
        assert decode_jpeg(with_dri[d]) == decode_jpeg(plain[d]), d
    # corrupt the FIRST restart's index: RST0 -> RST3
    p = bytearray(with_dri[123])
    at = bytes(p).index(b"\xff\xd0")
    p[at + 1] = 0xD3
    with pytest.raises(ValueError, match="out-of-sequence|restart marker"):
        decode_jpeg(bytes(p))


def test_jpeg422_asymmetric_sampling_and_native_chroma(spark):
    """4:2:2 decode: the asymmetric (2,1) factors — chroma planes
    half-width FULL-height, two side-by-side Y blocks per MCU — the
    axis-conflation trap the square layouts cannot catch."""
    from retail_sales_etl_spark.operators.multimodal import (
        _jpeg422_dims,
        _jpeg_block_val,
        _jpeg_raster,
        decode_jpeg,
        synthesize_jpeg422,
    )

    ids = [0, 1, 5, 37, 122]
    docs = spark.createDataFrame([(d,) for d in ids], "doc_id bigint")
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthesize_jpeg422(docs).collect()
    }
    for d in ids:
        w, h = _jpeg422_dims(d)
        mw, mh = w // 16, h // 8
        _, _, planes, samps = _jpeg_raster(payloads[d])
        assert samps == [(2, 1), (1, 1), (1, 1)]
        assert planes[0].shape == (h, w)
        assert planes[1].shape == (h, w // 2)  # half-width, FULL height
        got = decode_jpeg(payloads[d])
        assert got["n_blocks"] == 4 * mw * mh
        want_y = 64 * sum(
            _jpeg_block_val(d, 0, bx, by)
            for bx in range(2 * mw)
            for by in range(mh)
        )
        want_cb = 64 * sum(
            _jpeg_block_val(d, 1, mx, my)
            for mx in range(mw)
            for my in range(mh)
        )
        assert got["sum_y"] == want_y, d
        assert got["sum_cb"] == want_cb, d
        assert got["corner_y"] == _jpeg_block_val(d, 0, 0, 0)


def test_jpeg_exif_roundtrip_both_byte_orders_and_decode_unharmed(spark):
    """The spliced APP1 block round-trips every field through the
    generic TIFF walk in BOTH byte orders (doc 4 = II, doc 7 = MM),
    the EXIF dims agree with the SOF closed form, and the pixel
    decoder's output is UNCHANGED by the metadata block (APPn is
    marker-walk-skipped)."""
    from retail_sales_etl_spark.operators.multimodal import (
        _exif_fields_for,
        _jpeg_dims,
        decode_jpeg,
        extract_jpeg_exif,
        synthesize_jpeg,
        synthesize_jpeg_exif,
    )

    ids = [4, 7, 120, 121]
    docs = spark.createDataFrame([(d,) for d in ids], "doc_id bigint")
    plain = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthesize_jpeg(docs).collect()
    }
    tagged = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthesize_jpeg_exif(docs).collect()
    }
    for d in ids:
        got = extract_jpeg_exif(tagged[d])
        assert got == _exif_fields_for(d), d
        w, h = _jpeg_dims(d)
        assert (got["exif_width"], got["exif_height"]) == (w, h)
        assert decode_jpeg(tagged[d]) == decode_jpeg(plain[d]), d
    assert extract_jpeg_exif(tagged[4])["byte_order"] == "II"
    assert extract_jpeg_exif(tagged[7])["byte_order"] == "MM"


def test_jpeg_exif_absent_and_corrupt_fail_modes(spark):
    """No Exif APP1 -> None (the has-no-metadata case, distinct from
    corrupt); a non-Exif APP1 (XMP) is skipped, not misparsed; a bad
    byte-order flag, bad magic, truncated IFD table, and an
    out-of-range value offset each fail LOUD."""
    import struct

    import pytest

    from retail_sales_etl_spark.operators.multimodal import (
        _build_exif_app1,
        extract_jpeg_exif,
        synthesize_jpeg,
    )

    docs = spark.createDataFrame([(9,)], "doc_id bigint")
    plain = bytes(synthesize_jpeg(docs).collect()[0]["payload"])
    assert extract_jpeg_exif(plain) is None  # JFIF APP0 only

    # an APP1 that is NOT Exif (XMP) must be skipped, not parsed
    xmp = b"http://ns.adobe.com/xap/1.0/\x00<x/>"
    app1_xmp = b"\xff\xe1" + struct.pack(">H", len(xmp) + 2) + xmp
    assert extract_jpeg_exif(plain[:2] + app1_xmp + plain[2:]) is None

    good = _build_exif_app1(9)
    tagged = plain[:2] + good + plain[2:]
    assert extract_jpeg_exif(tagged)["orientation"] == (9 % 8) + 1

    body_at = 2 + 4 + 6  # SOI + marker/len + "Exif\0\0" -> TIFF start
    bad_order = bytearray(tagged)
    bad_order[body_at : body_at + 2] = b"ZZ"
    with pytest.raises(ValueError, match="byte-order"):
        extract_jpeg_exif(bytes(bad_order))

    bad_magic = bytearray(tagged)
    bad_magic[body_at + 2 : body_at + 4] = b"\x00\x00"
    with pytest.raises(ValueError, match="magic"):
        extract_jpeg_exif(bytes(bad_magic))

    # IFD0 claims 200 entries but the block ends long before
    bloat = bytearray(tagged)
    struct.pack_into(">H" if (9 % 2) else "<H", bloat, body_at + 8, 200)
    with pytest.raises(ValueError, match="truncated IFD"):
        extract_jpeg_exif(bytes(bloat))

    # Make's value offset pushed beyond the TIFF block
    far = bytearray(tagged)
    # IFD0 entry 0 value field: TIFF+8 (count) +2 + 8
    struct.pack_into(
        ">I" if (9 % 2) else "<I", far, body_at + 8 + 2 + 8, 10_000
    )
    with pytest.raises(ValueError, match="value offset"):
        extract_jpeg_exif(bytes(far))


def test_flac_decode_matches_generator_and_crcs_are_load_bearing(spark):
    """The FLAC stream round-trips to the closed-form stats, and BOTH
    CRCs are verified for real: flipping one sample byte breaks the
    frame CRC-16, flipping a header byte breaks the CRC-8."""
    import pytest

    from retail_sales_etl_spark.operators.multimodal import (
        _FLAC_BS,
        _flac_const_val,
        _flac_params,
        _wav_sample,
        decode_flac,
        synthesize_flac,
    )

    ids = [0, 7, 96, 123]
    docs = spark.createDataFrame([(d,) for d in ids], "doc_id bigint")
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthesize_flac(docs).collect()
    }
    for d in ids:
        rate, n = _flac_params(d)
        nf = (n + _FLAC_BS - 1) // _FLAC_BS
        sum_abs = sum_sq = 0
        peak = 0
        for k in range(nf):
            m = min(_FLAC_BS, n - k * _FLAC_BS)
            if k % 2 == 0:
                c = _flac_const_val(d, k)
                sum_abs += m * abs(c)
                sum_sq += m * c * c
                peak = max(peak, abs(c))
            else:
                for j in range(m):
                    s = _wav_sample(d, k * _FLAC_BS + j)
                    sum_abs += abs(s)
                    sum_sq += s * s
                    peak = max(peak, abs(s))
        got = decode_flac(payloads[d])
        want = {
            "sample_rate": rate, "n_samples": n, "n_frames": nf,
            "n_constant": (nf + 1) // 2, "n_verbatim": nf // 2,
            "n_fixed": 0, "n_lpc": 0,
            "sum_abs": sum_abs, "peak": peak, "sum_sq": sum_sq,
        }
        # subset assert: the decoder dict may grow fields (stereo mode
        # counts, …) without breaking this mono contract
        assert {k: got[k] for k in want} == want, d

    p = bytearray(payloads[7])
    p[-3] ^= 0x40  # a sample byte inside the LAST frame body
    with pytest.raises(ValueError, match="CRC-16"):
        decode_flac(bytes(p))

    q = bytearray(payloads[7])
    # first frame starts after fLaC + 4+34 STREAMINFO + 4+pad PADDING
    fstart = 4 + 4 + 34 + 4 + 4 + (7 % 3)
    assert q[fstart] == 0xFF and q[fstart + 1] == 0xF8
    q[fstart + 4] ^= 0x01  # frame-number byte: CRC-8 must catch it
    with pytest.raises(ValueError, match="CRC-8|out of sequence"):
        decode_flac(bytes(q))


def test_flac_out_of_scope_and_corrupt_structures_fail_loud(spark):
    """Scope gates and corruption: bad magic, variable-blocksize
    STREAMINFO, a FIXED-predictor subframe, a truncated stream, and a
    stereo declaration each fail LOUD with a naming message."""
    import struct

    import pytest

    from retail_sales_etl_spark.operators.multimodal import (
        decode_flac,
        synthesize_flac,
    )

    docs = spark.createDataFrame([(7,)], "doc_id bigint")
    good = bytes(synthesize_flac(docs).collect()[0]["payload"])

    with pytest.raises(ValueError, match="magic"):
        decode_flac(b"fLaX" + good[4:])

    vb = bytearray(good)
    vb[4 + 4 + 2] ^= 0x01  # max_blocksize low byte: min != max now
    with pytest.raises(ValueError, match="variable blocksize"):
        decode_flac(bytes(vb))

    st = bytearray(good)
    # STREAMINFO byte 12 holds rate[20]:ch[3]:bps-1[5] mid-bits; the
    # channel field is bits 4..6 of byte 12 (rate ends mid-byte 12):
    # flip to stereo by setting channels-1 = 1
    st[4 + 4 + 12] = (st[4 + 4 + 12] & 0xF1) | (1 << 1)
    with pytest.raises(ValueError, match="mono"):
        decode_flac(bytes(st))

    with pytest.raises(ValueError, match="truncated"):
        decode_flac(good[:-1])

    # rewrite the first subframe header to LPC order 1 (type 0b100000)
    # — FIXED is in scope since the flac_fixed entry, LPC stays gated;
    # the subframe byte is OUTSIDE the CRC-8 span and the type gate
    # fires BEFORE the frame CRC-16 check
    fx = bytearray(good)
    fstart = 4 + 4 + 34 + 4 + 4 + (7 % 3)
    sub_at = fstart + 7  # 6 header bytes + CRC-8
    assert fx[sub_at] == 0x00  # CONSTANT
    fx[sub_at] = 0b0_100000_0
    with pytest.raises(ValueError, match="LPC"):
        decode_flac(bytes(fx))


def test_flac_fixed_rice_decode_matches_plan_and_orders_cycle(spark):
    """The FIXED/rice path round-trips every frame to the generator's
    sample plan (orders cycling 0/1/2, multi-partition order-1 frames,
    k=0 zero-residual order-2 frames), and n_fixed == n_frames — no
    frame fell back to CONSTANT/VERBATIM."""
    from retail_sales_etl_spark.operators.multimodal import (
        _FLAC_BS,
        _flac_fixed_frame_plan,
        _flac_params,
        decode_flac,
        synthesize_flac_fixed,
    )

    ids = [0, 7, 33, 96, 123]
    docs = spark.createDataFrame([(d,) for d in ids], "doc_id bigint")
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthesize_flac_fixed(docs).collect()
    }
    for d in ids:
        rate, n = _flac_params(d)
        nf = (n + _FLAC_BS - 1) // _FLAC_BS
        sum_abs = sum_sq = 0
        peak = 0
        effs = set()
        for k in range(nf):
            m = min(_FLAC_BS, n - k * _FLAC_BS)
            eff, samples = _flac_fixed_frame_plan(d, k, m)
            effs.add(eff)
            for s in samples:
                sum_abs += abs(s)
                sum_sq += s * s
                peak = max(peak, abs(s))
        assert effs >= {0, 1, 2}, d  # all three orders really occur
        got = decode_flac(payloads[d])
        assert got["n_fixed"] == got["n_frames"] == nf, d
        assert (got["sum_abs"], got["peak"], got["sum_sq"]) == (
            sum_abs, peak, sum_sq,
        ), d


def test_flac_rice_reader_hand_worked_and_scope_gates(spark):
    """Hand-worked rice bits: with k=2, folded residuals [5, -3]
    encode as (q=2: 001, rem 10) and (q=1: 01, rem 01) — the reader
    must unfold to exactly [5, -3] after zigzag; RICE2 method, escape
    partitions, and non-dividing partition orders fail LOUD."""
    import pytest

    from retail_sales_etl_spark.operators.multimodal import (
        _FlacBitReader,
        _FlacBitWriter,
        _flac_rice_residuals,
    )

    bw = _FlacBitWriter()
    bw.write(0, 2)   # method RICE
    bw.write(0, 4)   # partition order 0
    bw.write(2, 4)   # k = 2
    # res 5 -> mfold 10 -> q=2,rem=2 ; res -3 -> mfold 5 -> q=1,rem=1
    bw.write(1, 3)   # 001
    bw.write(2, 2)   # 10
    bw.write(1, 2)   # 01
    bw.write(1, 2)   # 01
    bw.align()
    r = _FlacBitReader(bytes(bw.buf))
    assert _flac_rice_residuals(r, 2, 0) == [5, -3]

    bw = _FlacBitWriter()
    bw.write(1, 2)  # RICE2: out of scope
    bw.align()
    with pytest.raises(ValueError, match="residual coding method"):
        _flac_rice_residuals(_FlacBitReader(bytes(bw.buf)), 2, 0)

    bw = _FlacBitWriter()
    bw.write(0, 2)
    bw.write(0, 4)
    bw.write(15, 4)  # escape partition
    bw.align()
    with pytest.raises(ValueError, match="escaped"):
        _flac_rice_residuals(_FlacBitReader(bytes(bw.buf)), 2, 0)

    bw = _FlacBitWriter()
    bw.write(0, 2)
    bw.write(2, 4)  # 4 partitions cannot divide m=6
    bw.align()
    with pytest.raises(ValueError, match="does not divide"):
        _flac_rice_residuals(_FlacBitReader(bytes(bw.buf)), 6, 0)


def test_flac_fixed_predictor_recursion_orders_3_and_4(spark):
    """Orders 3 and 4 (not emitted by the generator) decode through
    the same recursion: craft a single-frame stream whose cubic
    signal s = j^3 has zero order-3 residuals beyond warmup, and a
    quartic-free check for order 4 on a cubic too (4th difference of
    a cubic is 0)."""
    import struct

    from retail_sales_etl_spark.operators.multimodal import (
        _FlacBitWriter,
        _flac_crc8,
        _flac_crc16,
        decode_flac,
    )

    def _stream(order: int, samples: list) -> bytes:
        n = len(samples)
        buf = bytearray(b"fLaC")
        si = _FlacBitWriter()
        si.write(n, 16)
        si.write(n, 16)
        si.write(0, 24)
        si.write(0, 24)
        si.write(8000, 20)
        si.write(0, 3)
        si.write(15, 5)
        si.write(n, 36)
        for _ in range(16):
            si.write(0, 8)
        buf += struct.pack(">B", 0x80) + struct.pack(">I", len(si.buf))[1:]
        buf += si.buf
        hdr = bytearray([0xFF, 0xF8, 0x60, 0x08, 0, n - 1])
        hdr.append(_flac_crc8(bytes(hdr)))
        bw = _FlacBitWriter()
        bw.write((8 + order) << 1, 8)
        for j in range(order):
            bw.write(samples[j], 16)
        bw.write(0, 2)
        bw.write(0, 4)
        bw.write(0, 4)  # k = 0: all residuals zero, pure unary 1s
        for _ in range(n - order):
            bw.write(1, 1)
        bw.align()
        frame = bytes(hdr) + bytes(bw.buf)
        return bytes(buf + frame + struct.pack(">H", _flac_crc16(frame)))

    cubic = [j * j * j for j in range(10)]  # 3rd difference constant=6?
    # third difference of j^3 is 6 (constant, nonzero) -> order 3
    # leaves residual 6; use k=0 all-zero residuals instead with a
    # QUADRATIC under order 3 (3rd difference of j^2 is 0)
    quad = [j * j for j in range(10)]
    got3 = decode_flac(_stream(3, quad))
    assert got3["n_samples"] == 10 and got3["sum_sq"] == sum(
        v * v for v in quad
    )
    got4 = decode_flac(_stream(4, cubic))
    assert got4["n_samples"] == 10 and got4["sum_abs"] == sum(cubic)


def test_flac_lpc_decode_matches_ramp_plan_and_headers_load_bearing(spark):
    """Every LPC frame round-trips the ramp plan (one-tap x1 at shift
    3 on even frames, two-tap 2s1-s2 at shift 2 with a NEGATIVE
    second coefficient on odd frames); n_lpc == n_frames; a flipped
    shift or coefficient bit desyncs and fails loud (CRC or value
    explosion caught by the STREAMINFO sample-count check)."""
    from retail_sales_etl_spark.operators.multimodal import (
        _FLAC_BS,
        _flac_params,
        decode_flac,
        synthesize_flac_lpc,
    )

    ids = [0, 7, 96, 123]
    docs = spark.createDataFrame([(d,) for d in ids], "doc_id bigint")
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthesize_flac_lpc(docs).collect()
    }
    for d in ids:
        rate, n = _flac_params(d)
        nf = (n + _FLAC_BS - 1) // _FLAC_BS
        sum_abs = sum_sq = 0
        peak = 0
        for k in range(nf):
            m = min(_FLAC_BS, n - k * _FLAC_BS)
            b = (d * 7 + k * 13) % 1800 + 100
            t = (d + k) % 16
            for j in range(m):
                s = b + j * t
                sum_abs += s
                sum_sq += s * s
                peak = max(peak, s)
        got = decode_flac(payloads[d])
        assert got["n_lpc"] == got["n_frames"] == nf, d
        assert (got["sum_abs"], got["peak"], got["sum_sq"]) == (
            sum_abs, peak, sum_sq,
        ), d


def test_flac_lpc_general_coefficients_and_gates(spark):
    """The LPC path is GENERAL, not a ramp trick: a crafted stream
    with coefficients [3] at shift 1 (x1.5, floor) must reproduce
    the exact arithmetic-shift recursion including a NEGATIVE
    prediction sum; precision code 15 and a negative shift fail
    LOUD."""
    import struct

    import pytest

    from retail_sales_etl_spark.operators.multimodal import (
        _FlacBitWriter,
        _flac_crc8,
        _flac_crc16,
        decode_flac,
    )

    def _stream(prec_code, shift5, coefs, warmup, residuals, k4=4):
        n = len(warmup) + len(residuals)
        order = len(warmup)
        buf = bytearray(b"fLaC")
        si = _FlacBitWriter()
        si.write(n, 16)
        si.write(n, 16)
        si.write(0, 24)
        si.write(0, 24)
        si.write(8000, 20)
        si.write(0, 3)
        si.write(15, 5)
        si.write(n, 36)
        for _ in range(16):
            si.write(0, 8)
        buf += struct.pack(">B", 0x80) + struct.pack(">I", len(si.buf))[1:]
        buf += si.buf
        hdr = bytearray([0xFF, 0xF8, 0x60, 0x08, 0, n - 1])
        hdr.append(_flac_crc8(bytes(hdr)))
        bw = _FlacBitWriter()
        bw.write((32 + order - 1) << 1, 8)
        for v in warmup:
            bw.write(v, 16)
        bw.write(prec_code, 4)
        bw.write(shift5 & 0x1F, 5)
        prec = prec_code + 1
        for c in coefs:
            bw.write(c & ((1 << prec) - 1), prec)
        bw.write(0, 2)
        bw.write(0, 4)
        bw.write(k4, 4)
        for v in residuals:
            mfold = 2 * v if v >= 0 else -2 * v - 1
            bw.write(1, (mfold >> k4) + 1)
            if k4:
                bw.write(mfold & ((1 << k4) - 1), k4)
        bw.align()
        frame = bytes(hdr) + bytes(bw.buf)
        return bytes(buf + frame + struct.pack(">H", _flac_crc16(frame)))

    # x1.5 chain from -7: floor(3*-7/2) = -11, -11 -> floor(-33/2) =
    # -17 (arithmetic shift floors toward -inf), residuals 0
    got = decode_flac(_stream(4, 1, [3], [-7 & 0xFFFF], [0, 0]))
    want = [-7, -11, -17]
    assert got["sum_abs"] == sum(abs(v) for v in want)
    assert got["sum_sq"] == sum(v * v for v in want)

    with pytest.raises(ValueError, match="precision code 15"):
        decode_flac(_stream(15, 1, [3], [5], [0]))
    with pytest.raises(ValueError, match="negative FLAC LPC shift"):
        decode_flac(_stream(4, -1, [3], [5], [0]))


def test_jpeg_gps_roundtrip_and_fail_modes(spark):
    """GPS IFD: round-trip in both byte orders; a no-GPS Exif block
    (the plain EXIF generator) returns None (has-no-geo ≠ corrupt);
    zero-denominator rationals and a non-RATIONAL latitude fail
    LOUD; the RATIONAL fold floors per component deterministically
    for a non-standard denominator."""
    import struct

    import pytest

    from retail_sales_etl_spark.operators.multimodal import (
        _build_exif_app1,
        _build_gps_app1,
        _exif_rational3_cas,
        _gps_fields_for,
        extract_jpeg_gps,
        synthesize_jpeg,
        synthesize_jpeg_gps,
    )

    ids = [4, 11, 120, 123]
    docs = spark.createDataFrame([(d,) for d in ids], "doc_id bigint")
    tagged = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthesize_jpeg_gps(docs).collect()
    }
    for d in ids:
        assert extract_jpeg_gps(tagged[d]) == _gps_fields_for(d), d

    plain = bytes(
        synthesize_jpeg(
            spark.createDataFrame([(9,)], "doc_id bigint")
        ).collect()[0]["payload"]
    )
    assert extract_jpeg_gps(plain) is None  # no Exif APP1 at all
    exif_only = plain[:2] + _build_exif_app1(9) + plain[2:]
    assert extract_jpeg_gps(exif_only) is None  # Exif but no GPS IFD

    # corrupt: zero denominator in the first latitude rational
    p = bytearray(b"\xff\xd8" + _build_gps_app1(4) + b"\xff\xd9")
    body_at = 2 + 4 + 6  # TIFF start (doc 4 = II little-endian)
    lat_off = body_at + 80
    struct.pack_into("<I", p, lat_off + 4, 0)
    with pytest.raises(ValueError, match="zero-denominator"):
        extract_jpeg_gps(bytes(p))

    # deterministic per-component floor on a non-standard denominator
    raw = struct.pack("<IIIIII", 10, 3, 30, 1, 500, 100)
    # 10/3 deg -> floor(10*360000/3) = 1200000; 30 min -> 180000;
    # 500/100 cs -> 500
    assert _exif_rational3_cas("<", (5, 3, raw)) == 1200000 + 180000 + 500

    with pytest.raises(ValueError, match="RATIONAL"):
        _exif_rational3_cas("<", (4, 3, raw))


def test_flac_stereo_reconstruction_matches_all_four_modes(spark):
    """The generator's frames cycle independent/left-side/right-side/
    mid-side; decode must reconstruct EXACT L/R in every mode, so the
    stats equal the pure closed-form sums and the per-mode counts
    split the frame count by k%4."""
    from retail_sales_etl_spark.operators.multimodal import (
        _flac_params,
        _flac_right_sample,
        _wav_sample,
        decode_flac,
        synthesize_flac_stereo,
    )

    docs = spark.createDataFrame([(3,), (8,)], "doc_id bigint")
    payloads = {
        int(r["doc_id"]): bytes(r["payload"])
        for r in synthesize_flac_stereo(docs).collect()
    }
    for d in (3, 8):
        rate, n = _flac_params(d)
        left = [_wav_sample(d, i) for i in range(n)]
        right = [_flac_right_sample(d, i) for i in range(n)]
        nf = (n + 15) // 16
        got = decode_flac(payloads[d])
        assert got["sample_rate"] == rate
        assert got["n_samples"] == n
        assert got["n_frames"] == nf
        assert got["n_indep"] == (nf + 3) // 4
        assert got["n_left_side"] == (nf + 2) // 4
        assert got["n_right_side"] == (nf + 1) // 4
        assert got["n_mid_side"] == nf // 4
        assert got["n_verbatim"] == 2 * nf  # two subframes per frame
        assert got["sum_abs"] == sum(abs(v) for v in left + right)
        assert got["sum_sq"] == sum(v * v for v in left + right)
        assert got["peak"] == max(abs(v) for v in left + right)


def _stereo_one_frame(chan_code: int, sub0: list, sub1: list,
                      w0: int, w1: int) -> bytes:
    """A minimal spec-valid 2-channel FLAC stream with ONE frame of
    the given channel assignment and two VERBATIM subframes."""
    import struct

    from retail_sales_etl_spark.operators.multimodal import (
        _FlacBitWriter,
        _flac_crc8,
        _flac_crc16,
    )

    n = len(sub0)
    buf = bytearray(b"fLaC")
    si = _FlacBitWriter()
    si.write(n, 16)
    si.write(n, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(8000, 20)
    si.write(1, 3)  # stereo
    si.write(15, 5)
    si.write(n, 36)
    for _ in range(16):
        si.write(0, 8)
    buf += struct.pack(">B", 0x80) + struct.pack(">I", len(si.buf))[1:]
    buf += si.buf
    hdr = bytearray([0xFF, 0xF8, 0x60, (chan_code << 4) | 0x08, 0, n - 1])
    hdr.append(_flac_crc8(bytes(hdr)))
    bw = _FlacBitWriter()
    for samples, width in ((sub0, w0), (sub1, w1)):
        bw.write(0x02, 8)
        for v in samples:
            bw.write(v, width)
    bw.align()
    frame = bytes(hdr) + bytes(bw.buf)
    return bytes(buf + frame + struct.pack(">H", _flac_crc16(frame)))


def test_flac_stereo_crafted_per_mode_and_parity_bit_load_bearing(spark):
    """Hand-worked single-frame streams per decorrelation mode with
    NEGATIVE samples and an ODD L+R (the mid/side parity case): each
    must reconstruct the same L/R; re-labeling the assignment code of
    the same bits (CRCs recomputed — structurally valid) changes the
    reconstruction, proving the assignment is load-bearing, not
    cosmetic."""
    from retail_sales_etl_spark.operators.multimodal import decode_flac

    left = [-3, 2000, -2000, 7]
    right = [2, -1999, 1500, 7]
    side = [a - b for a, b in zip(left, right)]  # [-5, 3999, -3500, 0]
    mid = [(a + b) >> 1 for a, b in zip(left, right)]  # floor: -1, 0, ...
    truth_abs = sum(abs(v) for v in left + right)
    truth_sq = sum(v * v for v in left + right)

    indep = decode_flac(_stereo_one_frame(1, left, right, 16, 16))
    ls = decode_flac(_stereo_one_frame(8, left, side, 16, 17))
    rs = decode_flac(_stereo_one_frame(9, side, right, 17, 16))
    ms = decode_flac(_stereo_one_frame(10, mid, side, 16, 17))
    for got, key in ((indep, "n_indep"), (ls, "n_left_side"),
                     (rs, "n_right_side"), (ms, "n_mid_side")):
        assert got["sum_abs"] == truth_abs
        assert got["sum_sq"] == truth_sq
        assert got["peak"] == 2000
        assert got[key] == 1 and got["n_frames"] == 1

    # wrong-reconstruction: the SAME left/side bits re-labeled as
    # mid/side decode structurally fine but reconstruct different
    # samples — the decorrelation arithmetic, not the container walk,
    # carries the values
    mislabeled = decode_flac(_stereo_one_frame(10, left, side, 16, 17))
    assert mislabeled["sum_sq"] != truth_sq


def test_flac_stereo_scope_gates_fail_loud(spark):
    """Channel-layout contradictions and still-gated layouts stay
    LOUD: a stereo frame in a mono stream, a mono frame in a stereo
    stream, >2-channel STREAMINFO, and a reserved assignment code."""
    import struct

    import pytest

    from retail_sales_etl_spark.operators.multimodal import (
        decode_flac,
        synthesize_flac,
        synthesize_flac_stereo,
    )

    docs = spark.createDataFrame([(7,)], "doc_id bigint")
    mono = bytearray(synthesize_flac(docs).collect()[0]["payload"])
    stereo = bytearray(
        synthesize_flac_stereo(docs).collect()[0]["payload"]
    )

    # mono STREAMINFO + stereo frame: flip the mono stream's first
    # frame to chan_code 1 (and fix its CRC-8 so the layout gate, not
    # the checksum, fires). Frame starts after fLaC + STREAMINFO hdr
    # (4+4+34) + PADDING block (4 + 4+(7%3)).
    f0 = 4 + 4 + 34 + 4 + 4 + (7 % 3)
    from retail_sales_etl_spark.operators.multimodal import _flac_crc8

    mono[f0 + 3] = (1 << 4) | 0x08
    mono[f0 + 6] = _flac_crc8(bytes(mono[f0 : f0 + 6]))
    with pytest.raises(ValueError, match="mono stream"):
        decode_flac(bytes(mono))

    # stereo STREAMINFO + mono frame (first stereo frame is at
    # 4 + 4+34: no PADDING in the stereo generator)
    s0 = 4 + 4 + 34
    st = bytearray(stereo)
    st[s0 + 3] = 0x08
    st[s0 + 6] = _flac_crc8(bytes(st[s0 : s0 + 6]))
    with pytest.raises(ValueError, match="stereo stream"):
        decode_flac(bytes(st))

    # 3-channel STREAMINFO: channels-1 = 2 in byte 12 bits 1-3
    three = bytearray(stereo)
    three[4 + 4 + 12] = (three[4 + 4 + 12] & 0xF1) | (2 << 1)
    with pytest.raises(ValueError, match="mono or stereo"):
        decode_flac(bytes(three))

    # reserved assignment code 11 on a stereo stream
    rv = bytearray(stereo)
    rv[s0 + 3] = (11 << 4) | 0x08
    rv[s0 + 6] = _flac_crc8(bytes(rv[s0 : s0 + 6]))
    with pytest.raises(ValueError, match="channel layout"):
        decode_flac(bytes(rv))


def test_exif_oriented_resize_all_eight_orientations(spark):
    """Docs 0-7 walk every EXIF orientation value; an INDEPENDENT
    reference (materialize the stored raster from the closed-form
    block values, rotate/flip it upright with numpy array ops, then
    NN-resize) must agree with the entry's composed source-mapping on
    every channel sum and the 5-8 dims swap."""
    import numpy as np

    from retail_sales_etl_spark.operators.multimodal import (
        PPM_RESIZE_H,
        PPM_RESIZE_W,
        _jpeg_block_val,
        _jpeg_dims,
        resize_jpeg_exif_oriented,
        synthesize_jpeg_exif,
    )

    docs = spark.createDataFrame([(d,) for d in range(8)], "doc_id bigint")
    payloads = {
        int(r["doc_id"]): bytes(r["payload"])
        for r in synthesize_jpeg_exif(docs).collect()
    }
    uprights = {
        1: lambda a: a,
        2: np.fliplr,
        3: lambda a: np.rot90(a, 2),
        4: np.flipud,
        5: lambda a: a.T,
        6: lambda a: np.rot90(a, -1),
        7: lambda a: np.rot90(a.T, 2),
        8: lambda a: np.rot90(a, 1),
    }
    for d in range(8):
        o = d % 8 + 1
        w, h = _jpeg_dims(d)
        got = resize_jpeg_exif_oriented(payloads[d])
        assert got["orientation"] == o
        assert (got["upright_width"], got["upright_height"]) == (
            (w, h) if o <= 4 else (h, w)
        )
        for c, key in ((0, "sum_y"), (1, "sum_cb"), (2, "sum_cr")):
            stored = np.array(
                [
                    [_jpeg_block_val(d, c, x // 8, y // 8) for x in range(w)]
                    for y in range(h)
                ]
            )
            up = uprights[o](stored)
            uh, uw = up.shape
            ref = sum(
                int(up[(y2 * uh) // PPM_RESIZE_H, (x2 * uw) // PPM_RESIZE_W])
                for y2 in range(PPM_RESIZE_H)
                for x2 in range(PPM_RESIZE_W)
            )
            assert got[key] == ref, (d, o, key)

    # ignoring the tag is NOT equivalent: for a doc whose orientation
    # actually moves pixels the oriented sums differ from the plain
    # resize of the stored raster (doc 5 -> orientation 6, non-square)
    from retail_sales_etl_spark.operators.multimodal import resize_jpeg_nn

    plain = resize_jpeg_nn(payloads[5])
    oriented = resize_jpeg_exif_oriented(payloads[5])
    assert (plain["sum_y"], plain["sum_cb"]) != (
        oriented["sum_y"], oriented["sum_cb"],
    )


_MULTIMODAL_ENTRIES = sorted(
    n for n in multimodal.QUERIES if n.startswith("multimodal_")
)


@pytest.fixture(scope="module")
def empty_corpus_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("empty_corpus"))
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, "
            "n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


@pytest.mark.parametrize("name", _MULTIMODAL_ENTRIES)
def test_multimodal_entry_on_empty_corpus(spark, empty_corpus_dir, name):
    """Every multimodal entry over a ``documents`` table with 0 rows
    returns 0 rows and the same columns as its DuckDB oracle over the
    same table — the codec harness's empty-input path."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{empty_corpus_dir}/documents.parquet/*.parquet')"
    )
    got = multimodal.QUERIES[name](spark, empty_corpus_dir)
    want = con.execute(multimodal.ORACLE[name])
    assert sorted(got.columns) == sorted(c[0] for c in want.description)
    assert got.collect() == want.fetchall() == []


def test_one_codec_harness_site():
    """Each codec mechanism has one home in ``multimodal.py``: Arrow
    batches are built only by ``_synthesize`` and ``_map_docs`` (and by
    ``extract_features``, which dispatches on ``mime_type``), the
    nearest-neighbor resize loop lives in ``_nn_sums``, the FLAC
    ``fLaC`` magic is written only by ``_flac_stream`` (the decoder's
    comparison is a read), and the SOF0 component bytes only by
    ``_jpeg_baseline``."""
    import ast
    import inspect

    sites = {
        "mapInPandas": [],
        "range(PPM_RESIZE_H)": [],
        'b"fLaC"': [],
        "SOF0 components": [],
    }

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Compare):
                continue  # reads, not writes
            if isinstance(child, ast.Call):
                called = ast.unparse(child.func)
                args = [ast.unparse(a) for a in child.args]
                if called.endswith(".mapInPandas"):
                    sites["mapInPandas"].append(fn)
                if called == "range" and args == ["PPM_RESIZE_H"]:
                    sites["range(PPM_RESIZE_H)"].append(fn)
                if (
                    called == "bytes"
                    and child.args
                    and isinstance(child.args[0], ast.List)
                    and len(child.args[0].elts) == 9
                    and args[0].startswith("[1, ")
                ):
                    sites["SOF0 components"].append(fn)
            if isinstance(child, ast.Constant) and child.value == b"fLaC":
                sites['b"fLaC"'].append(fn)
            visit(child, fn)

    visit(ast.parse(inspect.getsource(multimodal)), "<module>")
    assert sites == {
        "mapInPandas": ["_synthesize", "_map_docs", "extract_features"],
        "range(PPM_RESIZE_H)": ["_nn_sums"],
        'b"fLaC"': ["_flac_stream"],
        "SOF0 components": ["_jpeg_baseline"],
    }, sites
