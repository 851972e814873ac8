"""Sources layer: JSONL dead-lettering, partitioned sink, training-record
normalization, rate-limited fetch connector (mock fetcher), multimodal
plumbing."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from knowledge_model_spark.sources.corpus import (
    normalize_training_records,
    read_jsonl,
    weighted_corpus_merge,
    write_partitioned,
)
from knowledge_model_spark.sources.fetch_connector import (
    TokenBucket,
    body_cascade,
    fetch_partitioned,
)
from knowledge_model_spark.sources.multimodal import (
    image_features,
    make_synthetic_media,
    sample_frames,
)
from knowledge_model_spark.schemas import TRAINING_RECORD_SCHEMA


def test_read_jsonl_dead_letter(spark, tmp_path):
    p = tmp_path / "corpus.jsonl"
    lines = [
        json.dumps({"pmid": "1", "title": "a", "text": "hello world"}),
        "{broken json",
        json.dumps({"pmid": "2", "title": "b", "text": "more text"}),
        "also not json",
    ]
    p.write_text("\n".join(lines))
    good, dead = read_jsonl(spark, str(p))
    assert good.count() == 2
    assert dead.count() == 2
    assert set(good.columns) == {"pmid", "title", "text"}


def test_write_partitioned_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x", 2024, 1), (2, "y", 2024, 2), (3, "z", 2025, 1)],
        ["id", "v", "year", "month"],
    )
    out = str(tmp_path / "part")
    write_partitioned(df, out)
    back = spark.read.parquet(out)
    assert back.count() == 3
    # partition pruning: only one partition dir read for year=2024/month=1
    pruned = back.filter((F.col("year") == 2024) & (F.col("month") == 1))
    assert pruned.count() == 1
    # idempotent re-write of one partition (dynamic overwrite)
    write_partitioned(
        spark.createDataFrame([(9, "w", 2024, 1)], ["id", "v", "year", "month"]), out
    )
    assert spark.read.parquet(out).count() == 3  # 2024/1 replaced, others kept


def test_normalize_training_records(spark):
    df = spark.createDataFrame(
        [
            ("plain text doc", None, None),
            (None, "Do X", "X done"),
            (None, None, None),
            (None, "orphan instruction", None),
        ],
        schema=TRAINING_RECORD_SCHEMA,
    )
    out = normalize_training_records(df).collect()
    texts = [r["train_text"] for r in out]
    assert len(texts) == 2
    assert "plain text doc" in texts
    assert any("### Instruction:" in t and "X done" in t for t in texts)


def test_weighted_corpus_merge(spark):
    raw = spark.range(800).select(F.concat(F.lit("raw"), "id").alias("train_text"))
    ins = spark.range(800).select(F.concat(F.lit("ins"), "id").alias("train_text"))
    merged = weighted_corpus_merge(raw, ins, raw_weight=0.8)
    n_raw = merged.filter(F.col("train_text").startswith("raw")).count()
    n_ins = merged.filter(F.col("train_text").startswith("ins")).count()
    ratio = n_raw / max(1, n_raw + n_ins)
    assert 0.7 < ratio < 0.9  # ≈80/20 (sampling is approximate)


def test_token_bucket_enforces_rate():
    clock = [0.0]
    slept = [0.0]

    def fake_clock():
        return clock[0]

    def fake_sleep(s):
        slept[0] += s
        clock[0] += s

    b = TokenBucket(rate=10.0, capacity=1.0, clock=fake_clock)
    for _ in range(21):
        b.acquire(sleep=fake_sleep)
    # 21 requests at 10 rps from a 1-token bucket → ≥2s of enforced wait
    assert slept[0] >= 2.0 - 1e-6


def test_fetch_partitioned_mock(spark):
    keys = spark.createDataFrame([(f"PMC{i}",) for i in range(40)], ["pmcid"])

    def factory():
        def fetcher(key: str):
            n = int(key[3:])
            if n % 10 == 7:  # permanently failing keys → quarantine
                raise RuntimeError("404 not found")
            return (f"body of {key}", "FULL" if n % 2 == 0 else "ABSTRACT")

        return fetcher

    fetched, quarantine = fetch_partitioned(
        keys, "pmcid", factory, rate_per_partition=1e6, max_retries=2, num_partitions=4
    )
    f = fetched.collect()
    q = quarantine.collect()
    assert len(f) == 36 and len(q) == 4
    assert all(r["attempts"] == 2 for r in q)  # retried then dead-lettered
    assert {r["section"] for r in f} == {"FULL", "ABSTRACT"}


def test_body_cascade():
    assert body_cascade("full", "pdf", "abs") == ("full", "FULL")
    assert body_cascade(None, "pdf", "abs") == ("pdf", "FULL")
    assert body_cascade(None, None, "abs") == ("abs", "ABSTRACT")
    assert body_cascade(None, None, None) == (None, "NONE")


def test_image_features_plumbing(spark):
    media = make_synthetic_media(spark, n=32)
    feats = image_features(media)
    rows = feats.collect()
    assert len(rows) == 32
    assert all(len(r["features"]) == 16 for r in rows)
    # determinism: same payload → same features
    again = {r["media_id"]: r["features"] for r in image_features(media).collect()}
    for r in rows:
        assert again[r["media_id"]] == r["features"]


def test_image_features_real_mode_stubbed(spark):
    media = make_synthetic_media(spark, n=2)
    with pytest.raises(Exception):  # NotImplementedError inside executor
        image_features(media, decode="REAL").collect()


def test_sample_frames_explosion(spark):
    media = make_synthetic_media(spark, n=8, kind="video")
    frames = sample_frames(media, every_ms=1000)
    per = frames.groupBy("media_id").count().collect()
    durations = {r["media_id"]: r["duration_ms"] for r in media.collect()}
    for r in per:
        assert r["count"] == max(1, durations[r["media_id"]] // 1000)


def test_audio_features_windows(spark):
    from knowledge_model_spark.sources.multimodal import audio_features

    media = make_synthetic_media(spark, n=16, kind="audio")
    wins = audio_features(media, window_ms=500)
    per = {r["media_id"]: r["n"] for r in wins.groupBy("media_id").count().withColumnRenamed("count", "n").collect()}
    durations = {r["media_id"]: r["duration_ms"] for r in media.collect()}
    for mid, n in per.items():
        assert n == max(1, durations[mid] // 500)
    rows = wins.collect()
    assert all(r["rms"] >= 0 for r in rows)
    # determinism
    again = sorted(map(tuple, audio_features(media, window_ms=500).collect()))
    assert again == sorted(map(tuple, rows))


def test_audio_features_real_mode_stubbed(spark):
    from knowledge_model_spark.sources.multimodal import audio_features

    media = make_synthetic_media(spark, n=2, kind="audio")
    with pytest.raises(Exception):
        audio_features(media, decode="REAL").collect()


def test_upsert_partitioned_latest_wins(spark, tmp_path):
    from knowledge_model_spark.sources.corpus import upsert_partitioned

    sink = str(tmp_path / "merge")
    base = spark.createDataFrame(
        [(1, "v1", 10, 2024, 1), (2, "v1", 10, 2024, 1), (3, "v1", 10, 2024, 2)],
        ["id", "val", "ver", "year", "month"],
    )
    upsert_partitioned(spark, base, sink, ["id"], "ver")
    # update id=1, insert id=4 — only partition 2024/1 is touched
    upd = spark.createDataFrame(
        [(1, "v2", 20, 2024, 1), (4, "new", 20, 2024, 1)],
        ["id", "val", "ver", "year", "month"],
    )
    upsert_partitioned(spark, upd, sink, ["id"], "ver")
    got = {r["id"]: r["val"] for r in spark.read.parquet(sink).collect()}
    assert got == {1: "v2", 2: "v1", 3: "v1", 4: "new"}
    # stale update (older ver) must NOT win
    stale = spark.createDataFrame(
        [(1, "v0", 5, 2024, 1)], ["id", "val", "ver", "year", "month"]
    )
    upsert_partitioned(spark, stale, sink, ["id"], "ver")
    got = {r["id"]: r["val"] for r in spark.read.parquet(sink).collect()}
    assert got[1] == "v2"


def test_truncate_keep_last(spark):
    from pyspark.sql import functions as F
    from knowledge_model_spark.functions.prompting import truncate_keep_last

    df = spark.createDataFrame([("a b c d e f",)], ["t"])
    out = df.select(truncate_keep_last(F.col("t"), 3).alias("o")).first()["o"]
    assert out == "d e f"  # the TAIL survives (user question side)
    keep = df.select(truncate_keep_last(F.col("t"), 10).alias("o")).first()["o"]
    assert keep == "a b c d e f"


def test_paged_scan_resume_and_fanout(spark):
    from knowledge_model_spark.sources.fetch_connector import paged_scan

    universe = [f"PMID{i}" for i in range(1234)]
    calls = []

    def pages(offset):
        calls.append(offset)
        return universe[offset : offset + 500]

    keys = paged_scan(spark, pages, page_size=500, rate=1e6)
    assert keys.count() == 1234
    assert calls == [0, 500, 1000]  # stops on the short page
    # resume from a persisted offset re-fetches only the tail
    calls.clear()
    tail = paged_scan(spark, pages, page_size=500, start_offset=1000, rate=1e6)
    assert tail.count() == 234 and calls == [1000]


# --- REAL decode paths: pure-numpy codecs for uncompressed formats ---

def _make_ppm(img):
    import numpy as np
    h, w, _ = img.shape
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(img).tobytes()


def _make_bmp(img):
    import struct
    import numpy as np
    h, w, _ = img.shape
    row_size = (w * 3 + 3) & ~3
    raster = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = img[y][:, ::-1].tobytes()  # RGB → BGR
        raster += row + b"\x00" * (row_size - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    return header + info + bytes(raster)


def _make_wav(wave_f32, rate):
    import struct
    import numpy as np
    pcm = (np.clip(wave_f32, -1, 1) * 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )


def test_real_image_decode_ppm_and_bmp(spark):
    import numpy as np
    from knowledge_model_spark.sources.multimodal import image_features

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(5, 6, 3), dtype=np.uint8)
    rows = [(0, _make_ppm(img), 0, 0), (1, _make_bmp(img), 0, 0)]
    df = spark.createDataFrame(rows, "media_id long, payload binary, width int, height int")
    got = {r["media_id"]: r for r in image_features(df, decode="REAL").collect()}

    # both containers hold the same pixels → identical REAL features
    assert got[0]["width"] == 6 and got[0]["height"] == 5  # from pixel data
    assert got[0]["features"] == got[1]["features"]
    x = img.astype(np.float64) / 255.0
    want_mean_r = float(x.reshape(-1, 3).mean(axis=0)[0])
    assert abs(got[0]["features"][0] - want_mean_r) < 1e-6
    assert len(got[0]["features"]) == 16
    assert abs(sum(got[0]["features"][8:]) - 1.0) < 1e-6  # luma histogram


def test_real_image_compressed_raises(spark):
    import pytest
    from knowledge_model_spark.sources.multimodal import image_features

    # JPEG is the remaining codec seam; a TRUNCATED PNG must also fall
    # through to the seam (decode_png returns None), never misdecode
    for payload in (b"\xff\xd8\xff\xe0JFIF....", b"\x89PNG\r\n\x1a\n...."):
        df = spark.createDataFrame(
            [(0, payload, 0, 0)],
            "media_id long, payload binary, width int, height int",
        )
        with pytest.raises(Exception) as ei:
            image_features(df, decode="REAL").collect()
        assert "NotImplementedError" in str(ei.value) or "Pillow" in str(ei.value)


# --- PNG/GIF: real compressed-format decode, zero new dependencies ---

def _png_filter_row(raw, prior, ft, bpp):
    """Forward PNG filter (encoder side) for test fixtures."""
    out = bytearray(len(raw))
    for x in range(len(raw)):
        a = raw[x - bpp] if x >= bpp else 0
        b = prior[x]
        c = prior[x - bpp] if x >= bpp else 0
        if ft == 0:
            pred = 0
        elif ft == 1:
            pred = a
        elif ft == 2:
            pred = b
        elif ft == 3:
            pred = (a + b) >> 1
        else:  # Paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out[x] = (raw[x] - pred) & 0xFF
    return bytes(out)


def _make_png(planes, color_type, filters, plte=None):
    """Minimal PNG encoder for fixtures: ``planes`` is (H, W, C) uint8
    (C per color type), per-row filter types from ``filters`` cycling."""
    import struct
    import zlib

    h, w, c = planes.shape
    scan = bytearray()
    prior = bytes(w * c)
    for y in range(h):
        ft = filters[y % len(filters)]
        raw = planes[y].tobytes()
        scan.append(ft)
        scan += _png_filter_row(raw, prior, ft, c)
        prior = raw

    def chunk(typ, body):
        base = typ + body
        return struct.pack(">I", len(body)) + base + struct.pack(
            ">I", zlib.crc32(base)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", plte.tobytes())
    out += chunk(b"IDAT", zlib.compress(bytes(scan)))
    return out + chunk(b"IEND", b"")


def test_png_decode_all_filters_pixel_exact():
    import numpy as np
    from knowledge_model_spark.sources.multimodal import decode_png

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(10, 7, 3), dtype=np.uint8)
    # every row uses a different filter type → all five unfilter paths
    got = decode_png(_make_png(img, 2, filters=[0, 1, 2, 3, 4]))
    assert got is not None and np.array_equal(got, img)


def test_png_decode_color_types_pixel_exact():
    import numpy as np
    from knowledge_model_spark.sources.multimodal import decode_png

    rng = np.random.RandomState(12)
    # gray (0) → replicate to RGB
    g = rng.randint(0, 256, size=(5, 4, 1), dtype=np.uint8)
    got = decode_png(_make_png(g, 0, filters=[1, 4]))
    assert np.array_equal(got, np.repeat(g, 3, axis=2))
    # gray+alpha (4) → alpha dropped
    ga = rng.randint(0, 256, size=(5, 4, 2), dtype=np.uint8)
    got = decode_png(_make_png(ga, 4, filters=[3, 2]))
    assert np.array_equal(got, np.repeat(ga[..., :1], 3, axis=2))
    # RGBA (6) → alpha dropped
    rgba = rng.randint(0, 256, size=(6, 5, 4), dtype=np.uint8)
    got = decode_png(_make_png(rgba, 6, filters=[4]))
    assert np.array_equal(got, rgba[..., :3])
    # palette (3) → resolved through PLTE
    plte = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, size=(7, 6, 1), dtype=np.uint8)
    got = decode_png(_make_png(idx, 3, filters=[0, 1], plte=plte))
    assert np.array_equal(got, plte[idx[..., 0]])
    # truncated → None (seam), never misdecode
    assert decode_png(b"\x89PNG\r\n\x1a\nnot-a-chunk") is None


def test_png_16bit_downconverts_by_high_byte():
    """16-bit PNGs decode with the standard high-byte take; the
    filters operate on BYTES with bpp = 2×channels, pinned by running
    Sub/Paeth rows through a 16-bit fixture."""
    import struct
    import zlib

    import numpy as np
    from knowledge_model_spark.sources.multimodal import decode_png

    rng = np.random.RandomState(17)
    img16 = rng.randint(0, 65536, size=(6, 5, 3), dtype=np.uint16)
    h, w, c = img16.shape
    scan = bytearray()
    prior = bytes(w * c * 2)
    for y in range(h):
        ft = [0, 1, 2, 3, 4][y % 5]
        raw = img16[y].astype(">u2").tobytes()  # big-endian per spec
        scan.append(ft)
        scan += _png_filter_row(raw, prior, ft, c * 2)
        prior = raw

    def chunk(typ, body):
        base = typ + body
        return struct.pack(">I", len(body)) + base + struct.pack(
            ">I", zlib.crc32(base)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    b = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scan))) + chunk(b"IEND", b"")
    )
    got = decode_png(b)
    assert got is not None
    assert np.array_equal(got, (img16 >> 8).astype(np.uint8))


def _make_png_adam7(img, filters):
    """Adam7-interlaced PNG encoder for fixtures: each pass is filtered
    as its own sub-image, passes concatenated in spec order."""
    import struct
    import zlib

    h, w, c = img.shape
    ADAM7 = (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    )
    scan = bytearray()
    for pi, (x0, y0, dx, dy) in enumerate(ADAM7):
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        ph, pw = sub.shape[:2]
        prior = bytes(pw * c)
        for y in range(ph):
            ft = filters[(pi + y) % len(filters)]
            raw = sub[y].tobytes()
            scan.append(ft)
            scan += _png_filter_row(raw, prior, ft, c)
            prior = raw

    def chunk(typ, body):
        base = typ + body
        return struct.pack(">I", len(body)) + base + struct.pack(
            ">I", zlib.crc32(base)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)  # interlace=1
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scan)))
        + chunk(b"IEND", b"")
    )


def test_png_adam7_interlaced_pixel_exact():
    import numpy as np
    from knowledge_model_spark.sources.multimodal import decode_png

    rng = np.random.RandomState(21)
    # odd dims so several passes have ragged sub-grids
    img = rng.randint(0, 256, size=(13, 11, 3), dtype=np.uint8)
    got = decode_png(_make_png_adam7(img, filters=[0, 1, 2, 3, 4]))
    assert got is not None and np.array_equal(got, img)
    # tiny image where some passes are EMPTY (w<5 kills pass 2 etc.)
    small = rng.randint(0, 256, size=(3, 3, 3), dtype=np.uint8)
    got = decode_png(_make_png_adam7(small, filters=[4]))
    assert got is not None and np.array_equal(got, small)


def test_wav_g711_mulaw_alaw_decode_conformance(spark):
    """μ-law / A-law WAV decode pinned against the stdlib audioop
    (CCITT reference) encoder: fixtures come from lin2ulaw/lin2alaw,
    never from this repo's own code."""
    import struct

    import numpy as np
    import pytest

    audioop = pytest.importorskip("audioop")
    from knowledge_model_spark.sources.multimodal import decode_wav_pcm16

    rate = 8000
    t = np.arange(rate // 4)
    wave = (0.6 * np.sin(2 * np.pi * 440 * t / rate)).astype(np.float32)
    pcm = (wave * 32767).astype("<i2").tobytes()

    def wav(fmt_code, data, bps):
        fmt = struct.pack("<HHIIHH", fmt_code, 1, rate, rate * bps // 8, bps // 8, bps)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    for fmt_code, data in ((7, audioop.lin2ulaw(pcm, 2)), (6, audioop.lin2alaw(pcm, 2))):
        got = decode_wav_pcm16(wav(fmt_code, data, 8))
        assert got is not None
        w, r = got
        assert r == rate and len(w) == len(wave)
        # G.711 is logarithmic 8-bit: compand error well under 5%
        assert np.abs(w - wave).max() < 0.05
    # IEEE float32 (fmt 3) decodes exactly
    f32 = wave.astype("<f4").tobytes()
    got = decode_wav_pcm16(wav(3, f32, 32))
    assert got is not None
    np.testing.assert_allclose(got[0], wave, atol=1e-7)
    # unsupported format still falls to the seam
    assert decode_wav_pcm16(wav(2, b"\x00" * 100, 4)) is None  # MS-ADPCM


def test_wav_ima_adpcm_decode_conformance_vs_audioop(spark):
    """WAV-IMA ADPCM (fmt 0x11) pinned against stdlib audioop's
    Intel/DVI adpcm2lin: the SAME step/index arithmetic, differing
    only in framing — WAV packs the first sample in the LOW nibble and
    carries a per-block (pred, index) header which IS the block's
    first output sample.  The fixture's nibble stream comes from
    audioop.lin2adpcm (never this repo's code), swapped to WAV order."""
    import struct

    import numpy as np
    import pytest

    audioop = pytest.importorskip("audioop")
    from knowledge_model_spark.sources.multimodal import decode_wav_pcm16

    rate = 8000
    t = np.arange(1024)
    wave = (0.5 * np.sin(2 * np.pi * 300 * t / rate)).astype(np.float32)
    pcm = (wave * 32767).astype("<i2").tobytes()
    adpcm, (final_pred, final_idx) = audioop.lin2adpcm(pcm, 2, None)
    # audioop packs first-sample-HIGH; WAV packs first-sample-LOW
    swapped = bytes(((x & 0x0F) << 4) | (x >> 4) for x in adpcm)
    # one mono block: header pred=0 index=0 (audioop's initial state),
    # so the expected output is [0] + audioop's own decode of its stream
    block = struct.pack("<hBB", 0, 0, 0) + swapped
    block_align = len(block)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, rate, rate // 2, block_align, 4, 2,
        (block_align - 4) * 2 + 1,
    )
    wav = (
        b"RIFF" + struct.pack("<I", 28 + len(fmt) + len(block)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(block)) + block
    )
    got = decode_wav_pcm16(wav)
    assert got is not None
    w, r = got
    assert r == rate
    ref = np.frombuffer(
        audioop.adpcm2lin(adpcm, 2, (0, 0))[0], dtype="<i2"
    ).astype(np.float32) / 32768.0
    assert len(w) == len(ref) + 1 and w[0] == 0.0  # header sample
    np.testing.assert_allclose(w[1:], ref, atol=1e-6)  # bit-identical ints
    # source error: ADPCM adapts from (0,0) so the attack lags (slope
    # overload — audioop's own output lags identically); gate the tail
    assert np.abs(w[1:][-512:] - wave[: len(ref)][-512:]).max() < 0.05


def test_sample_frames_real_avi_roundtrip(spark):
    """REAL video demux end to end: uncompressed-DIB AVI built by the
    fixture writer, frames sampled through the Spark surface, each
    emitted payload a PPM that decodes back to the EXACT source frame."""
    import numpy as np
    import pytest

    from knowledge_model_spark.sources.multimodal import (
        decode_avi_frames,
        decode_ppm,
        encode_simple_avi,
        sample_frames,
    )

    rng = np.random.RandomState(31)
    frames = [
        rng.randint(0, 256, size=(6, 5, 3), dtype=np.uint8) for _ in range(8)
    ]
    avi = encode_simple_avi(frames, fps=4.0)  # 2 s of video
    got = decode_avi_frames(avi)
    assert got is not None and len(got[0]) == 8 and got[1] == 4.0
    for a, b in zip(got[0], frames):
        assert np.array_equal(a, b)

    df = spark.createDataFrame(
        [(0, avi, 2000)], "media_id long, payload binary, duration_ms long"
    )
    rows = sorted(
        sample_frames(df, every_ms=500, decode="REAL").collect(),
        key=lambda r: r["frame_index"],
    )
    assert [r["frame_ts_ms"] for r in rows] == [0, 500, 1000, 1500]
    for r in rows:
        img = decode_ppm(bytes(r["frame_payload"]))
        k = r["frame_ts_ms"] * 4 // 1000
        assert img is not None and np.array_equal(img, frames[k])

    bad = spark.createDataFrame(
        [(1, b"\x00\x00\x01\xba mpeg-ps", 1000)],
        "media_id long, payload binary, duration_ms long",
    )
    with pytest.raises(Exception) as ei:
        sample_frames(bad, decode="REAL").collect()
    assert "NotImplementedError" in str(ei.value) or "ffmpeg" in str(ei.value)


def _gif_lzw_encode(indices, min_code_size):
    """GIF LZW encoder mirroring giflib's EGifCompress: emit at current
    width, grow width when the running code counter reaches capacity
    BEFORE the add of this emission's entry."""
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    running = eoi + 1
    table = {(i,): i for i in range(clear)}
    buf = 0
    nbits = 0
    out = bytearray()

    def put(code):
        nonlocal buf, nbits, code_size
        buf |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8
        # giflib: growth check uses the counter BEFORE this code's add
        if running >= (1 << code_size) and code_size < 12:
            code_size += 1

    put(clear)
    wseq = ()
    for k in indices:
        cand = wseq + (int(k),)
        if cand in table:
            wseq = cand
        else:
            put(table[wseq])
            table[cand] = running
            running += 1
            wseq = (int(k),)
    if wseq:
        put(table[wseq])
    put(eoi)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _make_gif(idx2d, palette, interlaced=False, mcs=None):
    import struct

    import numpy as np

    h, w = idx2d.shape
    n = len(palette)
    size_field = max(1, int(np.ceil(np.log2(n))) if n > 1 else 1)
    table_n = 1 << size_field
    pal = np.zeros((table_n, 3), np.uint8)
    pal[:n] = palette
    mcs = mcs or max(2, size_field)
    rows = idx2d
    if interlaced:
        order = [*range(0, h, 8), *range(4, h, 8), *range(2, h, 4), *range(1, h, 2)]
        rows = idx2d[order]  # stream stores rows in pass order
    data = _gif_lzw_encode(rows.ravel().tolist(), mcs)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (size_field - 1), 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlaced else 0)
    out.append(mcs)
    for i in range(0, len(data), 255):
        blk = data[i : i + 255]
        out.append(len(blk))
        out += blk
    out += b"\x00\x3b"
    return bytes(out)


# --- JPEG: baseline codec (pure numpy/stdlib) ---

def _psnr(a, b):
    import numpy as np

    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


def test_jpeg_roundtrip_psnr_and_shapes():
    import numpy as np
    from knowledge_model_spark.sources.jpeg import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:24, 0:40]
    img = np.stack(
        [
            (128 + 100 * np.sin(xx / 8)).clip(0, 255),
            (128 + 100 * np.cos(yy / 6)).clip(0, 255),
            ((xx * 3 + yy * 5) % 256),
        ],
        axis=2,
    ).astype(np.uint8)
    for q, floor in ((95, 43), (75, 37)):
        got = decode_jpeg(encode_jpeg(img, quality=q))
        assert got is not None and got.shape == img.shape
        assert _psnr(img, got) > floor
    # flat color is near-exact; non-multiple-of-8 dims crop correctly
    flat = np.full((16, 16, 3), 130, np.uint8)
    got = decode_jpeg(encode_jpeg(flat, 90))
    assert np.abs(got.astype(int) - 130).max() <= 1
    odd = np.random.RandomState(3).randint(0, 256, (17, 19, 3), np.uint8)
    got = decode_jpeg(encode_jpeg(odd, 95))
    assert got.shape == odd.shape and _psnr(odd, got) > 25
    assert decode_jpeg(b"\xff\xd8broken") is None
    assert decode_jpeg(b"not a jpeg") is None


def _tiny_gray_jpeg(dc_code_bits, entropy_bits, dc_vals, ac_vals, ac_bits,
                    hv=0x11):
    """Hand-assemble a spec-conformant 8x8 single-component JPEG with an
    identity quant table and caller-supplied Huffman tables/entropy —
    independent of sources/jpeg.py's encoder."""
    import struct

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += (b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8, 1)
            + bytes([1, hv, 0]))
    for tc_th, bits, vals in ((0x00, dc_code_bits, dc_vals), (0x10, ac_bits, ac_vals)):
        out += b"\xff\xc4" + struct.pack(">H", 3 + 16 + len(vals))
        out += bytes([tc_th]) + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + b"\x01\x00\x00\x3f\x00"
    # pack entropy bits MSB-first, pad with 1s
    padded = entropy_bits + "1" * (-len(entropy_bits) % 8)
    out += bytes(int(padded[i : i + 8], 2) for i in range(0, len(padded), 8))
    out += b"\xff\xd9"
    return bytes(out)


def _spec_idct_pixel(F, r, c):
    """Direct ITU-T T.81 A.3.3 arithmetic (double loop, no matrices) —
    the independent oracle for the decoder's IDCT + zigzag."""
    import numpy as np

    s = 0.0
    for u in range(8):
        for v in range(8):
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            s += (
                cu * cv * F[u][v]
                * np.cos((2 * r + 1) * u * np.pi / 16)
                * np.cos((2 * c + 1) * v * np.pi / 16)
            )
    return s / 4 + 128.0


def test_jpeg_decoder_idct_and_zigzag_pinned_by_hand_fixtures():
    """Single-coefficient fixtures with expected pixels computed from
    the spec formula directly: a mirrored encoder/decoder bug (wrong
    IDCT normalization, transposed zigzag) cannot hide here because the
    expectation never touches sources/jpeg.py."""
    import numpy as np
    from knowledge_model_spark.sources.jpeg import decode_jpeg

    # fixture A: DC=50 (category 6), AC at scan pos 1 (= F[0][1]) = 35
    # (category-6 positive values need the MSB set: 100011 = +35;
    #  011110 would decode as -33 per the EXTEND rule)
    # DC table: one len-2 code "00" -> category 6
    # AC table: len-2 codes "00"->EOB(0x00), "01"->(run0,size6), "10"->(run1,size6)
    dc_bits = [0, 1] + [0] * 14
    ac_bits = [0, 3] + [0] * 14
    ac_vals = [0x00, 0x06, 0x16]
    bits_a = "00" + "110010" + "01" + "100011" + "00"  # DC 50, AC 35, EOB
    img = decode_jpeg(_tiny_gray_jpeg(dc_bits, bits_a, [6], ac_vals, ac_bits))
    assert img is not None and img.shape == (8, 8, 3)
    F = [[0] * 8 for _ in range(8)]
    F[0][0], F[0][1] = 50, 35
    for r, c in ((0, 0), (0, 7), (3, 2), (7, 7)):
        want = int(np.clip(round(_spec_idct_pixel(F, r, c)), 0, 255))
        assert abs(int(img[r, c, 0]) - want) <= 1, (r, c, img[r, c, 0], want)
    # horizontal frequency: varies along columns, constant down rows
    assert np.all(img[:, :, 0].std(axis=0) < 1.0)

    # fixture B: DC=0 (needs a category-0 code), AC at scan pos 2
    # (one zero run) -> F[1][0]: VERTICAL frequency. A transposed
    # zigzag would put it at F[0][1] and fail the axis assertions.
    dc_bits_b = [0, 2] + [0] * 14  # "00"->cat6, "01"->cat0
    bits_b = "01" + "10" + "100011" + "00"  # DC 0, (run1,size6) 35, EOB
    img_b = decode_jpeg(
        _tiny_gray_jpeg(dc_bits_b, bits_b, [6, 0], ac_vals, ac_bits)
    )
    assert img_b is not None
    Fb = [[0] * 8 for _ in range(8)]
    Fb[1][0] = 35
    for r, c in ((0, 0), (5, 5), (7, 0)):
        want = int(np.clip(round(_spec_idct_pixel(Fb, r, c)), 0, 255))
        assert abs(int(img_b[r, c, 0]) - want) <= 1, (r, c)
    assert np.all(img_b[:, :, 0].std(axis=1) < 1.0)  # constant along rows


class _Bits:
    def __init__(self):
        self.s = ""

    def put(self, code, length):
        self.s += format(code, f"0{length}b")

    def bytes(self):
        padded = self.s + "1" * (-len(self.s) % 8)
        return bytes(int(padded[i : i + 8], 2) for i in range(0, len(padded), 8))


def test_jpeg_progressive_hand_fixture_matches_spec_arithmetic():
    """A hand-assembled 4-scan progressive stream (DC first at Al=1,
    DC refinement, AC first at Al=1, AC refinement at Al=0 that both
    corrects existing coefficients AND inserts a ±1 newcomer) must
    reconstruct the exact coefficient block — pinned against the
    spec's direct IDCT arithmetic, never against this repo's encoder.
    Target coefficients (zigzag): DC=50, k1=35, k3=-8, k5=1."""
    import struct

    import numpy as np
    from knowledge_model_spark.sources.jpeg import decode_jpeg

    def dht(tc_th, bits, vals):
        return (
            b"\xff\xc4"
            + struct.pack(">H", 3 + 16 + len(vals))
            + bytes([tc_th])
            + bytes(bits)
            + bytes(vals)
        )

    def sos(dc_ac, ss, se, ah, al, payload):
        return (
            b"\xff\xda"
            + struct.pack(">HB", 8, 1)
            + bytes([1, dc_ac, ss, se, (ah << 4) | al])
            + payload
        )

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + b"\x01\x11\x00"
    # DC table 0: one len-2 code "00" -> category 5
    out += dht(0x00, [0, 1] + [0] * 14, [5])
    # AC table 0 (first scan): "00"->(0,5) "01"->(1,3) "10"->EOB
    out += dht(0x10, [0, 3] + [0] * 14, [0x05, 0x13, 0x00])
    # AC table 1 (refine scan): "00"->EOB "01"->(2,1)
    out += dht(0x11, [0, 2] + [0] * 14, [0x00, 0x21])

    # scan 1: DC first, Al=1 -> sends 50>>1 = 25 (category 5)
    bits = _Bits(); bits.put(0b00, 2); bits.put(25, 5)
    out += sos(0x00, 0, 0, 0, 1, bits.bytes())
    # scan 2: DC refinement -> appends bit 50&1 = 0
    bits = _Bits(); bits.put(0, 1)
    out += sos(0x00, 0, 0, 1, 0, bits.bytes())
    # scan 3: AC first, Al=1 -> k1: 35//2=17 (cat 5); k3: -8/2=-4
    # (cat 3, one zero run); k5 invisible at this precision; EOB
    bits = _Bits()
    bits.put(0b00, 2); bits.put(17, 5)          # (0,5) +17
    bits.put(0b01, 2); bits.put(-4 + 7, 3)      # (1,3) -4
    bits.put(0b10, 2)                           # EOB
    out += sos(0x00, 1, 63, 0, 1, bits.bytes())
    # scan 4: AC refinement, Al=0 -> (2,1) inserts +1 at k5 after two
    # zero-history skips; correction bits for k1 (35&1=1) and k3
    # (8&1=0) ride between the sign bit and the next code; EOB drains
    bits = _Bits()
    bits.put(0b01, 2)  # (2,1)
    bits.put(1, 1)     # sign: positive
    bits.put(1, 1)     # correction for k1: 34 -> 35
    bits.put(0, 1)     # correction for k3: -8 stays
    bits.put(0b00, 2)  # EOB
    out += sos(0x01, 1, 63, 1, 0, bits.bytes())
    out += b"\xff\xd9"

    img = decode_jpeg(bytes(out))
    assert img is not None and img.shape == (8, 8, 3)
    F = [[0] * 8 for _ in range(8)]
    F[0][0], F[0][1], F[2][0], F[0][2] = 50, 35, -8, 1  # zigzag 0,1,3,5
    for r in range(8):
        for c in range(8):
            want = int(np.clip(round(_spec_idct_pixel(F, r, c)), 0, 255))
            assert abs(int(img[r, c, 0]) - want) <= 1, (r, c, img[r, c, 0], want)


def test_jpeg_decodes_external_progressive_files():
    """Conformance anchor for SOF2: progressive JPEGs written by real
    encoders (nodejs doc images shipped in the container — skipped if
    absent) decode with correct dimensions and semantically-plausible
    content (the 'white stripe' images are mostly white)."""
    import os

    import pytest

    from knowledge_model_spark.sources.jpeg import decode_jpeg

    fixtures = [
        ("/usr/share/doc/nodejs/thin-white-stripe.jpg", (58, 493, 3)),
        ("/usr/share/doc/nodejs/full-white-stripe.jpg", (312, 493, 3)),
    ]
    if not any(os.path.exists(p) for p, _ in fixtures):
        pytest.skip("external progressive JPEG fixtures not present")
    for path, shape in fixtures:
        if not os.path.exists(path):
            continue
        img = decode_jpeg(open(path, "rb").read())
        assert img is not None and img.shape == shape
        assert img.mean() > 180  # mostly white, per the images' content


def test_jpeg_decodes_external_libjpeg_files():
    """Conformance anchor: JPEGs written by real encoders (stdlib /
    IPython test data shipped in the container — skipped if absent)."""
    import os

    import numpy as np
    import pytest

    from knowledge_model_spark.sources.jpeg import decode_jpeg

    stdlib = os.path.dirname(os.__file__)
    fixtures = [
        (os.path.join(stdlib, "test/test_email/data/python.jpg"), (16, 16, 3)),
        (os.path.join(stdlib, "test/imghdrdata/python.jpg"), (16, 16, 3)),
    ]
    try:
        import IPython

        fixtures.append(
            (
                os.path.join(
                    os.path.dirname(IPython.__file__), "core/tests/2x2.jpg"
                ),
                (2, 2, 3),
            )
        )
    except ImportError:
        pass
    if not any(os.path.exists(p) for p, _ in fixtures):
        pytest.skip("external JPEG fixtures not present")
    for path, shape in fixtures:
        if not os.path.exists(path):
            continue
        img = decode_jpeg(open(path, "rb").read())
        assert img is not None and img.shape == shape
        assert 0 <= img.min() and img.max() <= 255
        # decoding is deterministic
        assert np.array_equal(img, decode_jpeg(open(path, "rb").read()))


def test_image_features_real_jpeg_close_to_lossless_twin(spark):
    """A JPEG payload must flow through the SAME REAL feature kernel as
    the lossless containers, with features close (not equal — JPEG is
    lossy) to the PPM of the same pixels."""
    import numpy as np
    from knowledge_model_spark.sources.jpeg import encode_jpeg
    from knowledge_model_spark.sources.multimodal import image_features

    yy, xx = np.mgrid[0:16, 0:16]
    img = np.stack(
        [(xx * 16) % 256, (yy * 16) % 256, ((xx + yy) * 8) % 256], axis=2
    ).astype(np.uint8)
    rows = [(0, _make_ppm(img), 0, 0), (1, encode_jpeg(img, 95), 0, 0)]
    df = spark.createDataFrame(
        rows, "media_id long, payload binary, width int, height int"
    )
    got = {r["media_id"]: r for r in image_features(df, decode="REAL").collect()}
    assert got[1]["width"] == 16 and got[1]["height"] == 16
    a = np.array(got[0]["features"])
    b = np.array(got[1]["features"])
    assert np.abs(a - b).max() < 0.05  # channel means/stds/histogram close


# --- PDF: real text extraction (FlateDecode via stdlib zlib) ---

def test_pdf_roundtrip_compressed_and_raw():
    from knowledge_model_spark.sources.pdf import (
        decode_pdf_pages,
        decode_pdf_text,
        encode_simple_pdf,
    )

    pages = [
        "Hello World\nSecond line with (parens) and \\ backslash",
        "Page two: special )( chars\nand a tab\tinside",
        "",  # blank page must SURVIVE as '' — the reference joins
        # every page.get_text() including empty ones (r5 ADVICE)
        "Final page",
    ]
    for compress in (True, False):
        b = encode_simple_pdf(pages, compress=compress)
        assert decode_pdf_pages(b) == pages
        assert decode_pdf_text(b) == "\n".join(pages)
    assert decode_pdf_text(b"not a pdf") is None
    assert decode_pdf_text(b"%PDF-1.4\nno streams") == ""


def test_pdf_text_roundtrip_gate_all_three_filters(spark):
    """multimodal_pdf_text's in-plan equality column must be TRUE for
    every document — and since r6 the fixture writer rotates the
    stream filter per doc (FlateDecode / LZWDecode / uncompressed),
    this one gate certifies all three in-container decode paths
    end-to-end on the executors."""
    from knowledge_model_spark.plans import load_registry

    R = load_registry()
    rows = R["multimodal_pdf_text"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 3  # all three filters really appear (id % 3)
    bad = [r["media_id"] for r in rows if not r["roundtrip_ok"]]
    assert not bad, bad


def test_pdf_passages_furniture_and_hyphens_are_invertible(spark):
    """multimodal_pdf_passages now builds REFERENCE-SHAPED fixture PDFs
    (r5 verdict item 8): Page-N-of-M headers, copyright footers, bare
    page-number lines, and hyphen linebreaks.  Because the noise is
    invertible by construction, the registered query's output must be
    IDENTICAL to a twin pipeline fed the same pagination with no noise
    — proving strip_page_furniture and rejoin_hyphen_linebreaks do
    real, lossless work on realistic input inside the SAME query."""
    from collections.abc import Iterator

    import pandas as pd

    from knowledge_model_spark.functions.chunking import explode_passages
    from knowledge_model_spark.functions.text_cleaning import (
        clean_text,
        rejoin_hyphen_linebreaks,
        strip_page_furniture,
    )
    from knowledge_model_spark.plans import load_registry
    from knowledge_model_spark.session import load_tables
    from knowledge_model_spark.sources.pdf import (
        decode_pdf_text,
        encode_simple_pdf,
        make_reference_shaped_pages,
        pdf_text_extract,
    )

    sf = "/root/testdata/sf0.001"
    R = load_registry()
    noisy = {
        (r["media_id"], r["chunk_index"]): (r["char_start"], r["n_chars"], r["chunk_crc"])
        for r in R["multimodal_pdf_passages"].fn(spark, sf).collect()
    }
    assert noisy  # the query produced passages

    docs = load_tables(spark, sf)["documents"].select("doc_id", "text").filter(
        F.col("doc_id") < 100
    )

    def build_clean(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "payload": [
                        encode_simple_pdf(
                            make_reference_shaped_pages(t, furniture=False)
                        )
                        for t in pdf["text"]
                    ],
                }
            )

    media = docs.mapInPandas(build_clean, "media_id long, payload binary")
    body = pdf_text_extract(media, decode="REAL").select(
        "media_id",
        clean_text(
            rejoin_hyphen_linebreaks(strip_page_furniture(F.col("text")))
        ).alias("body"),
    )
    clean = {
        (r["media_id"], r["chunk_index"]): (r["char_start"], r["n_chars"], r["chunk_crc"])
        for r in explode_passages(body, "body", ["media_id"], size=300, overlap=50)
        .select(
            "media_id",
            F.col("chunk_index").cast("long").alias("chunk_index"),
            F.col("char_start").cast("long").alias("char_start"),
            F.length("chunk_text").cast("long").alias("n_chars"),
            F.crc32(F.col("chunk_text")).alias("chunk_crc"),
        )
        .collect()
    }
    assert noisy == clean

    # non-vacuity: the noisy fixtures really carry the artifacts BEFORE
    # the strip/rejoin stage, so the equality above proves real work
    sample = docs.limit(1).collect()[0]["text"]
    raw = decode_pdf_text(encode_simple_pdf(make_reference_shaped_pages(sample)))
    assert "Page 1 of" in raw
    assert "© 2024 Example Press. All rights reserved." in raw
    assert "-\n" in raw  # at least one hyphen linebreak split landed


def test_pdf_lzw_content_stream_roundtrip():
    """/LZWDecode content streams decode through the shared LZW core
    (r5 verdict item 5): a fixture PDF whose pages are LZW-compressed
    round-trips exactly, and the PDF variant's EARLY-CHANGE width
    growth (PDF 32000-1 §7.4.4.2, EarlyChange default 1) is really
    what's implemented — the same bitstream read with EarlyChange=0
    diverges once the code width crosses a growth boundary, and a
    stream declaring /EarlyChange 0 is honored."""
    from knowledge_model_spark.sources.lzw import (
        lzw_decode_pdf,
        lzw_encode_pdf,
    )
    from knowledge_model_spark.sources.pdf import (
        decode_pdf_pages,
        decode_pdf_text,
        encode_simple_pdf,
    )

    pages = [
        "LZW page one: the quick brown fox jumps over the lazy dog. " * 30,
        "Second page with (parens), \\ backslash, and repeats " * 40,
        "",
        "Final page",
    ]
    b = encode_simple_pdf(pages, compress="lzw")
    assert b"/LZWDecode" in b
    assert decode_pdf_pages(b) == pages
    assert decode_pdf_text(b) == "\n".join(pages)

    # the early-change rule is observable: this payload drives >253
    # dictionary adds, crossing the 9->10-bit boundary, where
    # EarlyChange=1 and =0 streams disagree by construction
    payload = bytes(range(256)) * 4
    assert lzw_decode_pdf(lzw_encode_pdf(payload)) == payload
    assert lzw_decode_pdf(lzw_encode_pdf(payload), early_change=0) != payload
    assert (
        lzw_decode_pdf(lzw_encode_pdf(payload, early_change=0), early_change=0)
        == payload
    )
    # table-full path: forces a mid-stream Clear code and reset
    import random

    rnd = random.Random(11)
    big = bytes(rnd.randrange(256) for _ in range(30000))
    assert lzw_decode_pdf(lzw_encode_pdf(big)) == big
    # garbage tolerance: undecodable bits -> None, never a lie
    assert lzw_decode_pdf(b"\xff\xff\xf0\x0d") is None

    # /DecodeParms << /EarlyChange 0 >> is parsed and honored inside a
    # real PDF object — the text is long and varied enough to cross
    # the 9->10-bit boundary, so honoring the parm is OBSERVABLE: the
    # same stream without it (default EarlyChange=1) mis-decodes
    text = "".join(chr(33 + ((i * 7) % 90)) for i in range(1500))
    text = text.replace("(", "_").replace(")", "_").replace("\\", "_")
    content = b"BT (" + text.encode() + b") Tj ET"
    data0 = lzw_encode_pdf(content, early_change=0)
    obj = (
        b"<< /Length %d /Filter /LZWDecode "
        b"/DecodeParms << /EarlyChange 0 >> >>\n"
        b"stream\n" % len(data0)
    ) + data0 + b"\nendstream"
    raw = b"%PDF-1.4\n1 0 obj\n" + obj + b"\nendobj\n"
    assert decode_pdf_text(raw) == text
    obj_noparm = (
        b"<< /Length %d /Filter /LZWDecode >>\nstream\n" % len(data0)
    ) + data0 + b"\nendstream"
    raw_noparm = b"%PDF-1.4\n1 0 obj\n" + obj_noparm + b"\nendobj\n"
    assert decode_pdf_text(raw_noparm) != text


def test_aiff_au_wav_cross_container_conformance():
    """r6 audio additions: AIFF/AIFF-C and Sun .au decode, plus
    PCM-8/24/32 and WAVE_FORMAT_EXTENSIBLE WAV.  The stdlib ships the
    SAME pluck recording in every container/depth — externally-written
    cross-format anchors: 24/32-bit must be BIT-IDENTICAL float
    waveforms across wav/aiff/au; 16/8-bit within requantization
    distance; G.711 variants within companding error of the PCM-16
    master; the 80-bit extended-float AIFF sample rate must parse to
    the exact rate."""
    import glob
    import os

    import numpy as np

    from knowledge_model_spark.sources.multimodal import (
        decode_aiff,
        decode_au,
        decode_audio_any,
        decode_wav_pcm16,
    )

    hits = glob.glob(
        "/root/.pyenv/versions/*/lib/python*/test/audiodata/pluck-pcm24.au"
    )
    if not hits:
        pytest.skip("stdlib audiodata fixtures not present")
    base = os.path.dirname(hits[0])

    def rd(name):
        return open(os.path.join(base, name), "rb").read()

    ref, rate = decode_wav_pcm16(rd("pluck-pcm16.wav"))
    assert rate == 11025 and len(ref) == 3307
    for depth, tol in (("8", 1 / 128 + 1e-6), ("16", 1e-4), ("24", 0.0), ("32", 0.0)):
        w, rw = decode_wav_pcm16(rd(f"pluck-pcm{depth}.wav"))
        a, ra = decode_aiff(rd(f"pluck-pcm{depth}.aiff"))
        u, ru = decode_au(rd(f"pluck-pcm{depth}.au"))
        assert rw == ra == ru == 11025
        assert len(w) == len(a) == len(u) == 3307
        if tol == 0.0:
            assert np.array_equal(w, a) and np.array_equal(w, u), depth
        else:
            assert np.abs(w - a).max() <= tol, depth
            assert np.abs(w - u).max() <= tol, depth
        # the dispatcher routes all three containers
        assert decode_audio_any(rd(f"pluck-pcm{depth}.aiff")) is not None
    for name, dec in (
        ("pluck-ulaw.au", decode_au),
        ("pluck-ulaw.aifc", decode_aiff),
        ("pluck-alaw.aifc", decode_aiff),
    ):
        wave, r = dec(rd(name))
        assert r == 11025 and len(wave) == 3307
        assert np.abs(wave - ref).max() <= 0.03, name  # companding error


def test_netpbm_ras_sgi_decode_and_external_conformance():
    """r6 codec additions: the full Netpbm P1-P6 family, Sun Raster
    (standard/RGB-order/RLE), and SGI (verbatim/RLE, bottom-up).
    Conformance: the stdlib's externally-written python.ras and
    python.sgi decode pixel-IDENTICAL to the same image's external PNG
    through this repo's independent decoders (layouts pinned by real
    files, not by this repo's own writers); python.pgm stays within
    luma-transform distance; round-trips cover both RLE paths."""
    import glob
    import os

    import numpy as np

    from knowledge_model_spark.sources.multimodal import (
        decode_image_any,
        decode_png,
        decode_ppm,
        decode_ras,
        decode_sgi,
        encode_simple_ras,
        encode_simple_sgi,
    )

    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, (19, 13, 3), np.uint8)
    flat = np.full((9, 31, 3), 128, np.uint8)  # long-run RLE paths
    for pic in (img, flat):
        for rle in (False, True):
            assert (decode_ras(encode_simple_ras(pic, rle)) == pic).all()
            assert (decode_sgi(encode_simple_sgi(pic, rle)) == pic).all()
            assert (decode_image_any(encode_simple_sgi(pic, rle)) == pic).all()
    assert decode_ras(b"garbage") is None
    assert decode_sgi(b"\x01\xda" + b"\0" * 40) is None

    # Netpbm family on hand fixtures (P6 is covered everywhere else)
    assert (
        decode_ppm(b"P1\n# c\n3 2\n0 1 0 1 1 0")[..., 0]
        == np.array([[255, 0, 255], [0, 0, 255]])
    ).all()
    assert (
        decode_ppm(b"P2\n2 2\n255\n0 128 255 64")[..., 0]
        == np.array([[0, 128], [255, 64]])
    ).all()
    assert (
        decode_ppm(b"P3\n1 2\n255\n1 2 3 4 5 6").reshape(2, 3)
        == np.array([[1, 2, 3], [4, 5, 6]])
    ).all()
    got = decode_ppm(b"P4\n10 2\n" + bytes([0b10100000, 0, 0b01000000, 0]))
    want_bits = np.array(
        [[1, 0, 1, 0, 0, 0, 0, 0, 0, 0], [0, 1, 0, 0, 0, 0, 0, 0, 0, 0]]
    )
    assert (got[..., 0] == np.where(want_bits == 1, 0, 255)).all()
    assert (decode_ppm(b"P5\n2 1\n255\n\x10\x20")[..., 0] == [[16, 32]]).all()
    # maxval != 255 rescales
    assert (decode_ppm(b"P5\n2 1\n100\nd2")[..., 0] == [[255, 127]]).all()

    hits = glob.glob(
        "/root/.pyenv/versions/*/lib/python*/test/imghdrdata/python.ras"
    )
    if not hits:
        pytest.skip("stdlib imghdrdata fixtures not present")
    base = os.path.dirname(hits[0])

    def rd(name):
        return open(os.path.join(base, name), "rb").read()

    png = decode_png(rd("python.png"))
    assert (decode_ras(rd("python.ras")) == png).all()
    assert (decode_sgi(rd("python.sgi")) == png).all()
    pgm = decode_ppm(rd("python.pgm"))
    luma = (
        png[..., 0].astype(np.int64) * 299
        + png[..., 1].astype(np.int64) * 587
        + png[..., 2].astype(np.int64) * 114
    ) // 1000
    assert np.abs(pgm[..., 0].astype(np.int64) - luma).max() <= 8
    pbm = decode_ppm(rd("python.pbm"))
    assert pbm.shape == (16, 16, 3) and set(np.unique(pbm)) <= {0, 255}
    # XBM (C-source bitmap, LSB-first) must match the SAME image's PBM
    # (binary bitmap, MSB-first) bit for bit — two externally-written
    # encodings of one bitmap through two independent parsers
    from knowledge_model_spark.sources.multimodal import decode_xbm

    xbm = decode_xbm(rd("python.xbm"))
    assert xbm is not None and (xbm == pbm).all()
    assert decode_xbm(b"int main() { return 0; }") is None


def test_tiff_roundtrip_all_paths_and_external_conformance():
    """Baseline TIFF decode (r6): round-trips through every supported
    path (none/LZW/PackBits × predictor 1/2 × single/multi-strip) and
    — the conformance anchor — the stdlib-shipped EXTERNALLY-WRITTEN
    ``python.tiff`` decodes pixel-identical to the same image's
    external PNG and PPM through this repo's independent decoders.
    TIFF LZW is the PDF early-change variant, so this also exercises
    the shared core (sources/lzw.py) against a file this repo did not
    write."""
    import glob
    import os

    import numpy as np

    from knowledge_model_spark.sources.multimodal import (
        decode_image_any,
        decode_png,
        decode_ppm,
        decode_tiff,
        encode_simple_tiff,
    )

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (23, 17, 3), dtype=np.uint8)
    for comp in ("none", "lzw", "packbits"):
        for pred in (1, 2):
            for rps in (None, 7):
                t = encode_simple_tiff(img, comp, pred, rps)
                got = decode_tiff(t)
                assert got is not None and (got == img).all(), (comp, pred, rps)
                # and the any-codec dispatcher routes TIFF correctly
                assert (decode_image_any(t) == img).all()
    assert decode_tiff(b"garbage") is None
    assert decode_tiff(b"II*\x00\xff\xff\xff\xff") is None

    hits = glob.glob(
        "/root/.pyenv/versions/*/lib/python*/test/imghdrdata/python.tiff"
    )
    if not hits:
        pytest.skip("stdlib imghdrdata fixtures not present")
    base = os.path.dirname(hits[0])
    t = decode_tiff(open(os.path.join(base, "python.tiff"), "rb").read())
    p = decode_png(open(os.path.join(base, "python.png"), "rb").read())
    m = decode_ppm(open(os.path.join(base, "python.ppm"), "rb").read())
    assert t is not None and t.shape == (16, 16, 3)
    assert p is not None and (t == p).all()
    assert m is not None and (t == m).all()


def test_image_codec_matrix_query_gate(spark):
    """multimodal_image_codec_matrix end to end: every lossless codec
    (PPM, TIFF none/LZW/PackBits, RAS ±RLE, SGI ±RLE, and the r8
    CCITT fax TIFFs — G4, multi-strip 2-D G3, inverted-photometric
    MH) decodes pixel-EXACT through the same decode_image_any
    dispatcher, and JPEG(q90) lands above 28 dB PSNR, for all 64
    media rows × 12 codecs."""
    from knowledge_model_spark.plans import load_registry

    R = load_registry()
    rows = R["multimodal_image_codec_matrix"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 64 * 12
    assert {r["codec"] for r in rows} >= {"ccitt_g4", "ccitt_g3_2d", "ccitt_mh"}
    for r in rows:
        assert r["width"] > 0 and r["height"] > 0, (r["media_id"], r["codec"])
        if r["codec"] == "jpeg":
            assert r["psnr"] > 28.0, (r["media_id"], r["psnr"])
        else:
            assert r["lossless_ok"] and r["psnr"] == 99.0, (
                r["media_id"], r["codec"], r["psnr"],
            )


def test_audio_codec_matrix_query_gate(spark):
    """multimodal_audio_codec_matrix end to end: all seven containers
    (WAV pcm16/f32, AIFF, AIFF-C sowt, .au 16/24-bit, FLAC) decode
    BIT-IDENTICAL float waveforms for all 48 media rows."""
    from knowledge_model_spark.plans import load_registry

    R = load_registry()
    rows = R["multimodal_audio_codec_matrix"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 48 * 7
    assert sum(1 for r in rows if r["codec"] == "flac") == 48
    bad = [(r["media_id"], r["codec"]) for r in rows if not r["lossless_ok"]]
    assert not bad, bad[:5]


def test_pdf_embedded_image_extraction_unit():
    """decode_pdf_images recovers /DCTDecode XObjects byte-identical
    (they are standalone JPEGs per spec) and re-emits Flate/raw
    8-bit DeviceRGB/DeviceGray sample images as P6 PPM; non-image and
    unsupported-filter objects are skipped."""
    import zlib as _z

    import numpy as np

    from knowledge_model_spark.sources.jpeg import decode_jpeg, encode_jpeg
    from knowledge_model_spark.sources.pdf import (
        decode_pdf_images,
        decode_pdf_pages,
        encode_simple_pdf,
    )

    yy, xx = np.mgrid[0:24, 0:32]
    img = np.stack(
        [(xx * 8) % 256, (yy * 10) % 256, ((xx + yy) * 4) % 256], axis=2
    ).astype(np.uint8)
    j1 = encode_jpeg(img, 90)
    j2 = encode_jpeg(img[::-1].copy(), 75)
    b = encode_simple_pdf(["Figure page", "Second page"], images=[j1, j2])
    assert decode_pdf_images(b) == [j1, j2]
    # embedding images must not disturb text extraction
    assert decode_pdf_pages(b) == ["Figure page", "Second page"]
    # and the recovered payload really decodes through the JPEG codec
    assert decode_jpeg(decode_pdf_images(b)[0]).shape == (24, 32, 3)
    assert decode_pdf_images(b"not a pdf") is None
    assert decode_pdf_images(encode_simple_pdf(["plain"])) == []

    px = img.tobytes()
    z = _z.compress(px)
    raw = (
        b"%%PDF-1.4\n1 0 obj\n<< /Type /XObject /Subtype /Image /Width 32 "
        b"/Height 24 /ColorSpace /DeviceRGB /BitsPerComponent 8 "
        b"/Filter /FlateDecode /Length %d >>\nstream\n" % len(z)
    ) + z + b"\nendstream\nendobj\n"
    assert decode_pdf_images(raw) == [b"P6\n32 24\n255\n" + px]
    # unsupported image filter: skipped, not mangled
    raw2 = (
        b"%PDF-1.4\n1 0 obj\n<< /Subtype /Image /Width 8 /Height 8 "
        b"/Filter /JPXDecode /Length 4 >>\nstream\njunk\nendstream\nendobj\n"
    )
    assert decode_pdf_images(raw2) == []


def test_pdf_images_query_gate(spark):
    """multimodal_pdf_images end to end at sf0.001: every embedded
    figure is recovered byte-identical (extract_ok), each document
    carries 1 + doc_id%2 figures with contiguous indices, and the
    real-decode statistics are populated."""
    from knowledge_model_spark.plans import load_registry

    R = load_registry()
    rows = R["multimodal_pdf_images"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        assert r["extract_ok"], (r["media_id"], r["image_index"])
        assert r["width"] > 0 and r["height"] > 0 and r["n_bytes"] > 0
        assert 0.0 <= r["mean_luma"] <= 255.0
        by_doc.setdefault(r["media_id"], []).append(r["image_index"])
    for did, idxs in by_doc.items():
        assert sorted(idxs) == list(range(1 + did % 2)), (did, idxs)


def test_pdf_object_stream_members_resolved():
    """PDF 1.5 object streams (spec 7.5.7): modern writers compress the
    catalog/page-tree dictionaries into a /Type /ObjStm stream.  The
    fixture packs catalog+pages+both page dicts into one ObjStm and
    stores the two content streams top-level in REVERSED file order —
    so the byte-order fallback would emit the pages backwards, and the
    correct output proves the page tree was resolved THROUGH the
    object stream."""
    import zlib as _z

    from knowledge_model_spark.sources.pdf import (
        decode_pdf_pages,
        decode_pdf_text,
    )

    m1 = b"<< /Type /Catalog /Pages 2 0 R >>"
    m2 = b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>"
    m3 = b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>"
    m4 = b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>"
    bodies = [m1, m2, m3, m4]
    offs, pos = [], 0
    packed = b""
    for m in bodies:
        offs.append(pos)
        packed += m + b" "
        pos += len(m) + 1
    header = b"1 %d 2 %d 3 %d 4 %d " % tuple(offs)
    payload = _z.compress(header + packed)

    def stream_obj(num: int, head: bytes, data: bytes) -> bytes:
        return (
            b"%d 0 obj\n<< %s /Length %d >>\nstream\n" % (num, head, len(data))
            + data
            + b"\nendstream\nendobj\n"
        )

    c_page2 = b"BT (second page) Tj ET"
    c_page1 = b"BT (first page) Tj ET"
    pdf = (
        b"%PDF-1.5\n"
        # content streams in REVERSED file order (page 2's first)
        + stream_obj(5, b"", c_page2)
        + stream_obj(6, b"", c_page1)
        + stream_obj(
            7,
            b"/Type /ObjStm /N 4 /First %d /Filter /FlateDecode"
            % len(header),
            payload,
        )
        + b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    assert decode_pdf_pages(pdf) == ["first page", "second page"]
    assert decode_pdf_text(pdf) == "first page\nsecond page"


def test_pdf_indirect_length_reference():
    """Indirect /Length N 0 R (the incremental-writer shape — length
    object written after the stream): the fixture's literal string
    contains the bytes 'endstream', so the lazy-regex fallback would
    truncate mid-string; full text proves the reference was resolved."""
    from knowledge_model_spark.sources.pdf import decode_pdf_text

    data = b"BT (endstream test) Tj ET"
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 2 0 R >>\nstream\n"
        + data
        + b"\nendstream\nendobj\n2 0 obj\n%d\nendobj\n" % len(data)
    )
    assert decode_pdf_text(pdf) == "endstream test"


def test_pdf_ascii_filters_and_chains():
    """/ASCIIHexDecode and /ASCII85Decode streams (stdlib binascii /
    base64) decode, including the classic chained form
    [/ASCII85Decode /FlateDecode] PostScript-era tools emit; predictor
    streams and unknown filters still skip honestly."""
    import base64
    import zlib as _z

    from knowledge_model_spark.sources.pdf import decode_pdf_text

    def one_obj(head: bytes, data: bytes) -> bytes:
        return (
            b"%%PDF-1.4\n1 0 obj\n<< /Length %d %s >>\nstream\n"
            % (len(data), head)
            + data
            + b"\nendstream\nendobj\n"
        )

    content = b"BT (Hex text) Tj ET"
    hexdata = content.hex().encode() + b">"
    assert decode_pdf_text(
        one_obj(b"/Filter /ASCIIHexDecode", hexdata)
    ) == "Hex text"
    # whitespace inside hex is ignored (spec 7.4.2)
    h = content.hex().encode()
    spaced = b" ".join(h[i : i + 2] for i in range(0, len(h), 2)) + b">"
    assert decode_pdf_text(
        one_obj(b"/Filter /ASCIIHexDecode", spaced)
    ) == "Hex text"
    # odd hex digit count: implicit trailing zero — 'BT (A4' + odd '4'
    # decodes the final byte as 0x40 '@'; just pin no-crash + prefix
    oddhex = (b"BT (Odd) Tj ET".hex().encode())[:-1] + b">"
    assert decode_pdf_text(one_obj(b"/Filter /ASCIIHexDecode", oddhex)) is not None

    content85 = b"BT (A85 text) Tj ET"
    a85 = base64.a85encode(content85) + b"~>"
    assert decode_pdf_text(
        one_obj(b"/Filter /ASCII85Decode", a85)
    ) == "A85 text"

    chained = base64.a85encode(_z.compress(b"BT (Chained) Tj ET")) + b"~>"
    assert decode_pdf_text(
        one_obj(b"/Filter [ /ASCII85Decode /FlateDecode ]", chained)
    ) == "Chained"

    # RunLengthDecode (spec 7.4.5): literal runs, repeat runs, EOD
    def rle(chunks: list[bytes | tuple[int, int]]) -> bytes:
        out = bytearray()
        for c in chunks:
            if isinstance(c, tuple):
                out += bytes([257 - c[1], c[0]])
            else:
                out += bytes([len(c) - 1]) + c
        return bytes(out) + b"\x80"

    rled = rle([b"BT (R", (ord("L"), 3), b"E run) Tj ET"])
    assert decode_pdf_text(
        one_obj(b"/Filter /RunLengthDecode", rled)
    ) == "RLLLE run"

    # a predictor-DECLARED stream whose data is NOT actually
    # row-filtered (first tag byte is 'B', not a filter type) must
    # refuse honestly, never misdecode; unknown filters likewise
    flate = _z.compress(b"BT (x) Tj ET")
    assert decode_pdf_text(one_obj(
        b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 4 >>",
        flate,
    )) == ""
    assert decode_pdf_text(one_obj(b"/Filter /DCTDecode", b"\xff\xd8junk")) == ""


def test_pdf_predictor_streams_decode():
    """/DecodeParms row predictors (r6 verdict item 1): PNG predictor
    12 over FlateDecode and TIFF predictor 2 over LZWDecode — the forms
    modern writers give ObjStm/xref streams — decode through the shared
    predictor core instead of refusing.  Fixtures are hand-assembled
    (predictor filtering via sources/predictors.filter_rows, the
    encoder twin; the decoder inverts through an independent path)."""
    import zlib as _z

    from knowledge_model_spark.sources.lzw import lzw_encode_pdf
    from knowledge_model_spark.sources.pdf import decode_pdf_text
    from knowledge_model_spark.sources.predictors import filter_rows

    def one_obj(head: bytes, data: bytes) -> bytes:
        return (
            b"%%PDF-1.4\n1 0 obj\n<< /Length %d %s >>\nstream\n"
            % (len(data), head)
            + data
            + b"\nendstream\nendobj\n"
        )

    body = b"BT (predictor twelve) Tj 0 -14 Td (second line) Tj ET"
    cols = 16
    padded = body + b" " * (-len(body) % cols)

    # PNG predictor 12 over Flate, rotating all five row filter types
    data = _z.compress(filter_rows(padded, 12, cols, filter_types=[0, 1, 2, 3, 4]))
    pdf = one_obj(
        b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns %d >>"
        % cols,
        data,
    )
    assert decode_pdf_text(pdf) == "predictor twelve\nsecond line"

    # TIFF predictor 2 over LZW (content-stream form of task 1's
    # "predictor-2 LZW content stream round-trip")
    data2 = lzw_encode_pdf(filter_rows(padded, 2, cols))
    pdf2 = one_obj(
        b"/Filter /LZWDecode /DecodeParms << /Predictor 2 /Columns %d >>"
        % cols,
        data2,
    )
    assert decode_pdf_text(pdf2) == "predictor twelve\nsecond line"

    # array-form DecodeParms aligned with an array-form filter chain
    pdf3 = one_obj(
        b"/Filter [ /FlateDecode ] /DecodeParms "
        b"[ << /Predictor 12 /Columns %d >> ]" % cols,
        data,
    )
    assert decode_pdf_text(pdf3) == "predictor twelve\nsecond line"

    # non-row-aligned predictor data: honest refusal (empty text)
    bad = _z.compress(
        filter_rows(padded, 12, cols, filter_types=[0]) + b"\x00"
    )
    pdf4 = one_obj(
        b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns %d >>"
        % cols,
        bad,
    )
    assert decode_pdf_text(pdf4) == ""


def test_pdf_object_stream_predictor12():
    """A predictor-12 Flate ObjStm (the exact stream modern writers
    predictor-compress) resolves its members: same reversed-content
    fixture as test_pdf_object_stream_members_resolved, so correct page
    order proves the tree was reached THROUGH the predictor-coded
    object stream."""
    import zlib as _z

    from knowledge_model_spark.sources.pdf import (
        decode_pdf_pages,
        decode_pdf_text,
    )
    from knowledge_model_spark.sources.predictors import filter_rows

    m1 = b"<< /Type /Catalog /Pages 2 0 R >>"
    m2 = b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>"
    m3 = b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>"
    m4 = b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>"
    offs, pos, packed = [], 0, b""
    for m in (m1, m2, m3, m4):
        offs.append(pos)
        packed += m + b" "
        pos += len(m) + 1
    header = b"1 %d 2 %d 3 %d 4 %d " % tuple(offs)
    cols = 24
    plain = header + packed
    padded = plain + b" " * (-len(plain) % cols)
    payload = _z.compress(filter_rows(padded, 12, cols, filter_types=[2, 4, 1, 3, 0]))

    def stream_obj(num: int, head: bytes, data: bytes) -> bytes:
        return (
            b"%d 0 obj\n<< %s /Length %d >>\nstream\n" % (num, head, len(data))
            + data
            + b"\nendstream\nendobj\n"
        )

    pdf = (
        b"%PDF-1.5\n"
        + stream_obj(5, b"", b"BT (second page) Tj ET")
        + stream_obj(6, b"", b"BT (first page) Tj ET")
        + stream_obj(
            7,
            b"/Type /ObjStm /N 4 /First %d /Filter /FlateDecode "
            b"/DecodeParms << /Predictor 12 /Columns %d >>"
            % (len(header), cols),
            payload,
        )
        + b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    assert decode_pdf_pages(pdf) == ["first page", "second page"]
    assert decode_pdf_text(pdf) == "first page\nsecond page"


def test_pdf_phantom_object_inside_stream_payload():
    """A binary stream payload containing the byte pattern
    ``endobj N 0 obj … endobj`` (r6 ADVICE: embedded JPEG bytes can
    collide) must not shadow a real object: the leading ``endobj``
    truncates the enclosing object's regex match, so a naive scan would
    then match the phantom ``1 0 obj`` as a real (last-wins) catalog
    redefinition pointing at a dangling page tree.  Content streams are
    stored in REVERSED file order, so only genuine tree resolution
    through the REAL catalog yields the right page order — the
    byte-order fallback a shadowed catalog forces would emit the pages
    backwards."""
    from knowledge_model_spark.sources.pdf import (
        decode_pdf_pages,
        decode_pdf_text,
    )

    phantom = (
        b"\xff\xd8 jpeg-ish bytes endobj 1 0 obj "
        b"<< /Type /Catalog /Pages 9 0 R >> endobj \xff\xd9"
    )
    c2 = b"BT (second page) Tj ET"
    c1 = b"BT (first page) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>\nendobj\n"
        + b"7 0 obj\n<< /Length %d >>\nstream\n" % len(phantom)
        + phantom
        + b"\nendstream\nendobj\n"
        # content streams in REVERSED file order (page 2's first)
        + b"5 0 obj\n<< /Length %d >>\nstream\n" % len(c2)
        + c2
        + b"\nendstream\nendobj\n"
        + b"6 0 obj\n<< /Length %d >>\nstream\n" % len(c1)
        + c1
        + b"\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    assert decode_pdf_pages(pdf) == ["first page", "second page"]
    assert decode_pdf_text(pdf) == "first page\nsecond page"


def test_pdf_text_operators_hand_authored():
    """TJ kerning arrays, hex strings, T* and ' line advances — the
    operator set every real-world text PDF uses — on a hand-authored
    uncompressed content stream (spec-conformant, not produced by this
    repo's encoder)."""
    from knowledge_model_spark.sources.pdf import decode_pdf_text

    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 95 >>\nstream\n"
        b"BT /F1 12 Tf 72 720 Td [(Kerned ) -250 (text)] TJ "
        b"0 -14 Td <48692068657821> Tj T* (next) ' ET\n"
        b"endstream\nendobj\n"
    )
    assert decode_pdf_text(raw) == "Kerned text\nHi hex!\nnext"
    # octal + line-continuation escapes
    raw2 = (
        b"%PDF-1.4\n1 0 obj\n<< >>\nstream\n"
        b"BT (A\\101\\tB) Tj (cont\\\ninued) Tj ET\n"
        b"endstream\nendobj\n"
    )
    assert decode_pdf_text(raw2) == "AA\tBcontinued"
    # an unsupported filter must be skipped, never misdecoded
    raw3 = (
        b"%PDF-1.4\n1 0 obj\n<< /Filter /DCTDecode >>\nstream\n"
        b"\xff\xd8\xff\xe0 jpeg bytes BT (fake) Tj ET\nendstream\nendobj\n"
    )
    assert decode_pdf_text(raw3) == ""


def test_pdf_stream_extent_honors_length_over_delimiters():
    """A stream whose DATA contains the literal bytes 'endstream' (or
    'endobj') must still extract fully: a direct /Length is
    authoritative over the lazy delimiter fallback — compressed bytes
    can contain either delimiter by chance."""
    import zlib

    from knowledge_model_spark.sources.pdf import decode_pdf_pages

    body = b"BT (hello endstream world) Tj ET"
    comp = zlib.compress(body)
    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(comp)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + comp
        + b"\nendstream\nendobj\n"
    )
    assert decode_pdf_pages(raw) == ["hello endstream world"]
    body2 = b"BT (fake endobj inside) Tj ET"
    raw2 = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(body2)).encode()
        + b" >>\nstream\n" + body2 + b"\nendstream\nendobj\n"
    )
    assert decode_pdf_pages(raw2) == ["fake endobj inside"]


def test_pdf_page_tree_order_beats_byte_order():
    """Pages must come out in PAGE-TREE order: swapping the two content
    objects' byte positions (structurally valid — real readers follow
    the tree) must NOT swap the extracted pages."""
    import re

    from knowledge_model_spark.sources.pdf import (
        decode_pdf_pages,
        encode_simple_pdf,
    )

    b = encode_simple_pdf(["page one", "page two"])
    m = {
        int(x.group(1)): x
        for x in re.finditer(rb"(\d+) 0 obj(.*?)endobj\n", b, re.DOTALL)
    }
    s4, s6 = m[4], m[6]  # the two content streams per the writer layout
    swapped = (
        b[: s4.start()] + b[s6.start() : s6.end()]
        + b[s4.end() : s6.start()] + b[s4.start() : s4.end()]
        + b[s6.end() :]
    )
    assert decode_pdf_pages(swapped) == ["page one", "page two"]


def test_pdf_contents_array_is_one_page():
    """A page whose /Contents is an ARRAY of streams is ONE page (the
    reference's get_text would report one page too) — n_pages is an
    output column of the registered operator, so this is contract."""
    import struct
    import zlib

    from knowledge_model_spark.sources.pdf import decode_pdf_pages

    def obj(num, body):
        return b"%d 0 obj\n" % num + body + b"\nendobj\n"

    def stream(body):
        data = zlib.compress(body)
        return (
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(data)
            + data + b"\nendstream"
        )

    out = bytearray(b"%PDF-1.4\n")
    out += obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    out += obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    out += obj(
        3, b"<< /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >>"
    )
    out += obj(4, stream(b"BT (first half) Tj ET"))
    out += obj(5, stream(b"BT (second half) Tj ET"))
    out += b"trailer\n<< /Size 6 /Root 1 0 R >>\n%%EOF\n"
    pages = decode_pdf_pages(bytes(out))
    assert pages == ["first half\nsecond half"]  # ONE page, both streams


def test_pdf_inline_image_and_operand_strings():
    """Inline images (BI..ID <binary> EI) must be skipped — their raw
    bytes would derail the string parser; strings that are operands of
    non-show operators (BDC /ActualText, orphan Td operands) must not
    leak into the output; TJ kerning numbers must NOT clear a pending
    show."""
    from knowledge_model_spark.sources.pdf import decode_pdf_text

    raw = (
        b"%PDF-1.4\n1 0 obj\n<< >>\nstream\n"
        b"BT (before) Tj ET BI /W 2 /H 2 /BPC 8 /CS /G ID \x28\x01\x02\x9f"
        b" EI BT (after) Tj ET\nendstream\nendobj\n"
    )
    assert decode_pdf_text(raw) == "before\nafter"
    raw2 = (
        b"%PDF-1.4\n1 0 obj\n<< >>\nstream\n"
        b"BT /Span <</ActualText (LEAK)>> BDC (Hello) Tj EMC ET\n"
        b"endstream\nendobj\n"
    )
    assert decode_pdf_text(raw2) == "Hello"
    raw3 = (
        b"%PDF-1.4\n1 0 obj\n<< >>\nstream\n"
        b"BT (orphan) 0 0 Td (shown) Tj [(a) -250 (b)] TJ ET\n"
        b"endstream\nendobj\n"
    )
    got = decode_pdf_text(raw3)
    assert "orphan" not in got and "shownab" in got.replace("\n", "")


def test_pdf_text_extract_spark_surface(spark):
    """The mapInPandas operator end to end: REAL extraction over a
    binary payload column, non-PDF payload raises at the seam."""
    import pytest

    from knowledge_model_spark.sources.pdf import (
        encode_simple_pdf,
        pdf_text_extract,
    )

    rows = [
        (0, encode_simple_pdf(["alpha\nbeta", "gamma"])),
        (1, encode_simple_pdf(["solo page"], compress=False)),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in pdf_text_extract(df, decode="REAL").collect()}
    assert got[0]["n_pages"] == 2 and got[0]["text"] == "alpha\nbeta\ngamma"
    assert got[1]["n_pages"] == 1 and got[1]["text"] == "solo page"
    assert got[0]["n_chars"] == len("alpha\nbeta\ngamma")

    bad = spark.createDataFrame([(2, b"\xff\xd8jpeg")], "media_id long, payload binary")
    with pytest.raises(Exception) as ei:
        pdf_text_extract(bad, decode="REAL").collect()
    assert "NotImplementedError" in str(ei.value) or "PyMuPDF" in str(ei.value)


def test_gif_decode_known_external_fixture():
    """A hand-verified 35-byte 1×1 red GIF (the classic minimal GIF,
    produced by standard encoders — NOT by this repo's test encoder):
    validates the bit reader, clear/EOI handling, and palette resolve
    against real-world bytes."""
    import numpy as np
    from knowledge_model_spark.sources.multimodal import decode_gif

    b = bytes.fromhex(
        "474946383961"  # GIF89a
        "010001008000"  # 1x1, GCT of 2
        "00ff00000000" "00"  # palette: red, black; bg
        "2c00000000010001000002024401003b"
    )
    got = decode_gif(b)
    assert got is not None and got.shape == (1, 1, 3)
    assert np.array_equal(got[0, 0], np.array([255, 0, 0], np.uint8))


def test_gif_roundtrip_pixel_exact_and_interlace():
    import numpy as np
    from knowledge_model_spark.sources.multimodal import decode_gif

    rng = np.random.RandomState(13)
    palette = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
    # big enough that the LZW code width grows past 2 boundaries
    idx = rng.randint(0, 8, size=(23, 17)).astype(np.uint8)
    want = palette[idx]
    got = decode_gif(_make_gif(idx, palette))
    assert got is not None and np.array_equal(got, want)
    got_i = decode_gif(_make_gif(idx, palette, interlaced=True))
    assert got_i is not None and np.array_equal(got_i, want)


def test_image_features_real_png_gif_match_ppm(spark):
    """The SAME pixels through PPM, PNG, and GIF containers must give
    IDENTICAL REAL features — content-level codec parity, the r4
    verdict's 'shrink the codec seam' ask."""
    import numpy as np
    from knowledge_model_spark.sources.multimodal import image_features

    rng = np.random.RandomState(14)
    palette = rng.randint(0, 256, size=(32, 3), dtype=np.uint8)
    idx = rng.randint(0, 32, size=(9, 8)).astype(np.uint8)
    img = palette[idx]  # palette-expressible so GIF holds it losslessly
    rows = [
        (0, _make_ppm(img), 0, 0),
        (1, _make_png(img, 2, filters=[0, 1, 2, 3, 4]), 0, 0),
        (2, _make_gif(idx, palette), 0, 0),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, payload binary, width int, height int"
    )
    got = {r["media_id"]: r for r in image_features(df, decode="REAL").collect()}
    assert got[0]["width"] == 8 and got[0]["height"] == 9
    assert got[0]["features"] == got[1]["features"] == got[2]["features"]


def test_real_audio_decode_wav(spark):
    import numpy as np
    from knowledge_model_spark.sources.multimodal import audio_features

    rate = 8000
    t = np.arange(rate)  # 1 s
    wave = 0.5 * np.sin(2 * np.pi * 440 * t / rate)
    df = spark.createDataFrame(
        [(0, _make_wav(wave, rate), 1000)],
        "media_id long, payload binary, duration_ms long",
    )
    rows = sorted(
        audio_features(df, window_ms=250, decode="REAL").collect(),
        key=lambda r: r["window_index"],
    )
    # 1 s at 250 ms windows = 4 real windows cut by the fmt-chunk rate
    assert len(rows) == 4
    assert [r["start_ms"] for r in rows] == [0, 250, 500, 750]
    # RMS of a 0.5-amplitude sine ≈ 0.5/√2
    for r in rows:
        assert abs(r["rms"] - 0.5 / np.sqrt(2)) < 0.01
        assert r["zero_crossings"] > 0


# ---------------------------------------------- Python Data Source API


def test_paged_datasource_reads_all_pages(spark):
    from knowledge_model_spark.sources.paged_source import register_paged_source

    register_paged_source(spark)
    df = (
        spark.read.format("paged_records")
        .option("total", 250)
        .option("page_size", 100)
        .load()
    )
    assert df.count() == 250
    assert df.rdd.getNumPartitions() == 3  # one partition per page
    rows = {r["rec_id"]: r for r in df.collect()}
    assert rows[0]["pmid"] == "10000000" and rows[0]["page"] == 0
    assert rows[249]["page"] == 2
    # deterministic transport: re-read is identical
    again = {r["rec_id"]: r for r in df.collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_paged_datasource_offset_resume(spark):
    from knowledge_model_spark.sources.paged_source import register_paged_source

    register_paged_source(spark)

    def load(offset):
        return (
            spark.read.format("paged_records")
            .option("total", 300)
            .option("page_size", 100)
            .option("offset", offset)
            .load()
        )

    full = {tuple(r) for r in load(0).collect()}
    resumed = {tuple(r) for r in load(100).collect()}
    assert len(resumed) == 200
    assert resumed < full  # the resumed read is exactly the tail
    first_ids = {r[0] for r in full - resumed}
    assert first_ids == set(range(100))


def test_paged_datasource_empty_read(spark):
    from knowledge_model_spark.sources.paged_source import register_paged_source

    register_paged_source(spark)
    df = (
        spark.read.format("paged_records")
        .option("total", 0)
        .option("page_size", 100)
        .load()
    )
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "rec_id",
        "pmid",
        "title",
        "body",
        "page",
    ]


def test_paged_datasource_streaming_incremental_resume(spark, tmp_path):
    """Streaming cursor over the paged source: AvailableNow drains to
    the current total in bounded micro-batches; restarting against a
    GROWN total resumes from the checkpointed cursor and reads only the
    tail (the reference's monthly continuous pull, natively)."""
    from knowledge_model_spark.sources.paged_source import register_paged_source

    register_paged_source(spark)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def drain(total):
        q = (
            spark.readStream.format("paged_records")
            .option("total", total)
            .option("page_size", 50)
            .option("max_pages_per_batch", 1)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(180)
        return spark.read.parquet(sink).collect()

    # AvailableNow processes the prefetched batch(es) per run; each run
    # resumes from the checkpointed cursor against the durable parquet
    # sink, so looping until the sink stops growing exercises
    # restart-resume on every iteration.
    def drain_all(total, max_runs=12):
        seen = -1
        rows = []
        for _ in range(max_runs):
            rows = drain(total)
            if len(rows) == seen:
                break
            seen = len(rows)
        return rows

    first = drain_all(150)
    assert {r["rec_id"] for r in first} == set(range(150))
    # upstream grew; the resumed stream reads ONLY the tail 150..249
    second = drain_all(250)
    ids = [r["rec_id"] for r in second]
    assert set(ids) == set(range(250))
    assert len(ids) == 250  # exactly-once across every restart


def test_map_in_arrow_byte_stats(spark):
    from pyspark.sql import functions as F

    from knowledge_model_spark.sources.multimodal import arrow_byte_stats

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.encode(F.concat(F.lit("payload-"), F.col("id")), "utf-8").alias("payload"),
    )
    out = arrow_byte_stats(df).collect()
    assert len(out) == 100
    byid = {r["doc_id"]: r for r in out}
    # cross-check against a driver-side reference
    for i in (0, 7, 99):
        b = f"payload-{i}".encode()
        assert byid[i]["n_bytes"] == len(b)
        assert byid[i]["first_byte"] == b[0]
        assert byid[i]["byte_sum_mod"] == sum(b) % 1_000_003


def test_quarantine_tsv_writer_two_phase_commit(spark, tmp_path):
    import glob
    import os

    from pyspark.sql import functions as F

    from knowledge_model_spark.sources.paged_source import register_quarantine_sink

    register_quarantine_sink(spark)
    out = str(tmp_path / "quarantine")
    df = spark.range(100).select(
        F.concat(F.lit("PMID"), F.col("id")).alias("pmid"),
        F.when(F.col("id") % 2 == 0, "fetch_timeout")
        .otherwise("parse_error")
        .alias("reason"),
    ).repartition(4)
    df.write.format("quarantine_tsv").option("path", out).mode("append").save()
    files = sorted(glob.glob(os.path.join(out, "part-*.tsv")))
    assert files and not glob.glob(os.path.join(out, "_staging-*"))
    lines = []
    for f in files:
        lines += open(f, encoding="utf-8").read().splitlines()
    assert len(lines) == 100
    recs = dict(l.split("\t") for l in lines)
    assert recs["PMID0"] == "fetch_timeout" and recs["PMID1"] == "parse_error"


def test_read_csv_deadletter(spark, tmp_path):
    from pyspark.sql import types as T

    from knowledge_model_spark.sources.corpus import read_csv_deadletter

    p = tmp_path / "in.tsv"
    p.write_text(
        "id\tname\tscore\n"          # header
        "1\talpha\t0.5\n"             # good
        "2\tbeta\t0.75\n"             # good
        "3\tgamma\n"                  # missing field -> dead
        "4\tdelta\t0.1\textra\n"      # extra field -> dead
        "notanint\teps\t0.2\n"        # type failure -> dead
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    good, dead = read_csv_deadletter(spark, str(p), schema, sep="\t")
    rows = sorted(map(tuple, good.collect()))
    assert rows == [(1, "alpha", 0.5), (2, "beta", 0.75)]
    assert good.schema == schema
    dead_rows = {r["_corrupt_record"] for r in dead.collect()}
    assert dead_rows == {
        "3\tgamma",
        "4\tdelta\t0.1\textra",
        "notanint\teps\t0.2",
    }


def test_perceptual_hash_real_ahash_near_dups(spark):
    import numpy as np

    from knowledge_model_spark.operators.dedup import hash64_hamming_pairs
    from knowledge_model_spark.sources.multimodal import perceptual_hash

    # 32x32 gradient, a near-identical copy (one pixel nudged), and the
    # inverted image: aHash must pair the twins, not the opposite
    g = np.tile(np.arange(32, dtype=np.uint8) * 8, (32, 1))
    img_a = np.stack([g, g, g], axis=-1)
    img_b = img_a.copy()
    img_b[5, 5] = [255, 255, 255]
    img_c = 255 - img_a
    rows = [(1, _make_ppm(img_a)), (2, _make_ppm(img_b)), (3, _make_ppm(img_c))]
    media = spark.createDataFrame(rows, ["media_id", "payload"])
    sigs = perceptual_hash(media, decode="REAL")
    pairs = {
        (r.id_a, r.id_b): r.distance
        for r in hash64_hamming_pairs(sigs, max_distance=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # determinism across partitionings
    again = {
        (r.id_a, r.id_b): r.distance
        for r in hash64_hamming_pairs(
            perceptual_hash(media.repartition(5), decode="REAL"), max_distance=3
        ).collect()
    }
    assert again == pairs


def test_perceptual_hash_deterministic_mode_exact_dups(spark):
    from knowledge_model_spark.operators.dedup import hash64_hamming_pairs
    from knowledge_model_spark.sources.multimodal import (
        make_synthetic_media,
        perceptual_hash,
    )
    from pyspark.sql import functions as F

    media = make_synthetic_media(spark, n=16).withColumn(
        "payload", F.sha2(F.pmod("media_id", F.lit(8)).cast("string"), 256).cast("binary")
    )
    pairs = hash64_hamming_pairs(
        perceptual_hash(media, decode="DETERMINISTIC"), max_distance=3
    ).collect()
    # 8 payload twins -> 8 distance-0 pairs, nothing else (sha256 spreads)
    assert len(pairs) == 8
    assert all(r.distance == 0 and r.id_b == r.id_a + 8 for r in pairs)


# ------------------------------------------------- versioned snapshots

def test_versioned_snapshot_time_travel_and_rollback(spark, tmp_path):
    from pyspark.sql import functions as F

    from knowledge_model_spark.sources.versioned import (
        diff_versions,
        list_versions,
        read_snapshot,
        rollback,
        write_snapshot,
    )

    base = str(tmp_path / "vtab")
    v1_df = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    assert write_snapshot(v1_df, base, note="initial") == 1
    # v2: update k=1, delete k=4, insert k=9
    v2_df = spark.createDataFrame(
        [(0, 0), (1, 999), (2, 20), (3, 30), (9, 90)], "k long, v long"
    )
    assert write_snapshot(v2_df, base, note="march ingest") == 2

    # time travel: both versions readable, latest is v2
    assert read_snapshot(spark, base, 1).count() == 5
    latest = {(r["k"], r["v"]) for r in read_snapshot(spark, base).collect()}
    assert (1, 999) in latest and (4, 40) not in latest

    # CDC composition: the minimal changelog between versions
    ops = {
        (r["k"], r["op"])
        for r in diff_versions(spark, base, 1, 2, ["k"]).collect()
    }
    assert ops == {(1, "U"), (4, "D"), (9, "I")}

    # rollback restores v1 content as a NEW version (append-only history)
    v3 = rollback(spark, base, to_version=1)
    assert v3 == 3
    restored = {(r["k"], r["v"]) for r in read_snapshot(spark, base).collect()}
    assert restored == {(r["k"], r["v"]) for r in v1_df.collect()}
    m = list_versions(base)
    assert m["latest"] == 3 and m["versions"]["3"]["note"] == "rollback to v1"


def test_versioned_snapshot_crash_before_manifest_is_invisible(spark, tmp_path):
    import os

    from knowledge_model_spark.sources.versioned import (
        read_snapshot,
        write_snapshot,
    )

    base = str(tmp_path / "vtab2")
    write_snapshot(spark.range(3), base)
    # simulate a crashed writer: staging dir exists, manifest unchanged
    os.makedirs(os.path.join(base, "_staging_v2"))
    assert read_snapshot(spark, base).count() == 3  # still v1
    # the next writer cleans the leftover staging and succeeds
    v = write_snapshot(spark.range(7), base)
    assert v == 2 and read_snapshot(spark, base).count() == 7


def test_write_partitioned_orc_roundtrip_and_pruning(spark, tmp_path):
    from knowledge_model_spark.sources.corpus import write_partitioned

    df = spark.createDataFrame(
        [(1, "a", 2024, 1), (2, "b", 2024, 2), (3, "c", 2024, 2)],
        "id long, payload string, year int, month int",
    )
    path = str(tmp_path / "orc_tbl")
    write_partitioned(df, path, fmt="orc")
    back = spark.read.orc(path)
    assert sorted((r["id"], r["payload"]) for r in back.collect()) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    # partition pruning: the month filter must reach the scan as a
    # partition filter, not a post-scan filter
    plan = back.filter("month = 2")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "month" in plan
    assert back.filter("month = 2").count() == 2
    # dynamic overwrite rewrites only the touched partition
    upd = spark.createDataFrame(
        [(9, "z", 2024, 2)], "id long, payload string, year int, month int"
    )
    write_partitioned(upd, path, fmt="orc")
    assert sorted(r["id"] for r in spark.read.orc(path).collect()) == [1, 9]


def test_read_evolved_merges_grown_schema(spark, tmp_path):
    from knowledge_model_spark.sources.corpus import read_evolved, write_partitioned

    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame(
        [(1, "a", 2024, 1)], "id long, payload string, year int, month int"
    )
    write_partitioned(v1, path)
    # month 2 arrives with a NEW column; dynamic overwrite leaves month 1 alone
    v2 = spark.createDataFrame(
        [(2, "b", 0.9, 2024, 2)],
        "id long, payload string, quality double, year int, month int",
    )
    write_partitioned(v2, path)
    merged = read_evolved(spark, path)
    assert "quality" in merged.columns
    rows = {r["id"]: r["quality"] for r in merged.collect()}
    assert rows[2] == 0.9 and rows[1] is None


def test_versioned_vacuum_retention(spark, tmp_path):
    from knowledge_model_spark.sources.versioned import (
        read_snapshot,
        vacuum,
        write_snapshot,
    )

    base = str(tmp_path / "vtbl")
    for i in range(1, 5):
        df = spark.createDataFrame([(i, f"v{i}")], "id long, payload string")
        write_snapshot(df, base, note=f"batch {i}")
    removed = vacuum(base, keep_last=2)
    assert removed == [1, 2]
    import os
    assert not os.path.exists(f"{base}/v=1") and not os.path.exists(f"{base}/v=2")
    # retained versions still read, latest unchanged
    assert read_snapshot(spark, base, 3).collect()[0]["payload"] == "v3"
    assert read_snapshot(spark, base).collect()[0]["payload"] == "v4"
    # vacuumed version errors like a never-written one
    import pytest as _pytest
    with _pytest.raises(ValueError):
        read_snapshot(spark, base, 1)
    # idempotent
    assert vacuum(base, keep_last=2) == []


def test_versioned_snapshot_crash_between_rename_and_manifest(spark, tmp_path):
    """Fault injection for the OTHER half of the two-phase write: the
    snapshot rename lands (v=2 on disk) but the process dies before the
    manifest flip.  Invariants: (a) readers still see v1 — the orphan is
    unreferenced; (b) the RETRY must succeed and supersede the orphan's
    data (rename(2) cannot clobber a non-empty dir, so write_snapshot
    has to sweep the unreferenced v=2 first)."""
    import os

    from knowledge_model_spark.sources.versioned import (
        list_versions,
        read_snapshot,
        write_snapshot,
    )

    base = str(tmp_path / "vtab3")
    write_snapshot(spark.range(3), base)
    # simulate: v=2 fully renamed in, manifest never flipped
    spark.range(100).write.parquet(os.path.join(base, "v=2"))
    assert read_snapshot(spark, base).count() == 3  # (a) orphan invisible
    assert list_versions(base)["latest"] == 1
    v = write_snapshot(spark.range(7), base)  # (b) retry
    assert v == 2
    assert read_snapshot(spark, base).count() == 7  # retry's data, not orphan's
    assert list_versions(base)["latest"] == 2


def test_versioned_vacuum_crash_resweeps_orphans(spark, tmp_path):
    """Fault injection for vacuum's two phases: manifest rewritten
    (entries dropped) but the process dies before the directory
    deletes.  A later vacuum must re-collect the unreferenced dirs —
    the doomed set comes from the filesystem, not the manifest."""
    import json
    import os

    from knowledge_model_spark.sources.versioned import (
        read_snapshot,
        vacuum,
        write_snapshot,
    )

    base = str(tmp_path / "vtab4")
    for i in range(1, 5):
        write_snapshot(spark.range(i), base, note=f"batch {i}")
    # simulate the crash: drop v1/v2 from the manifest BY HAND, leave dirs
    mpath = os.path.join(base, "_manifest.json")
    manifest = json.load(open(mpath))
    del manifest["versions"]["1"]
    del manifest["versions"]["2"]
    json.dump(manifest, open(mpath, "w"))
    assert os.path.exists(f"{base}/v=1") and os.path.exists(f"{base}/v=2")
    # the re-run vacuum finds the orphans on disk and deletes them
    assert vacuum(base, keep_last=2) == [1, 2]
    assert not os.path.exists(f"{base}/v=1") and not os.path.exists(f"{base}/v=2")
    assert read_snapshot(spark, base).count() == 4  # latest untouched


def test_write_partitioned_zstd_compression(spark, tmp_path):
    from knowledge_model_spark.sources.corpus import write_partitioned

    df = spark.createDataFrame(
        [(i, "payload " * 20, 2024, 1) for i in range(200)],
        "id long, payload string, year int, month int",
    )
    p_zstd = str(tmp_path / "zstd_tbl")
    write_partitioned(df, p_zstd, compression="zstd")
    import glob
    files = glob.glob(f"{p_zstd}/year=2024/month=1/*.parquet")
    assert files and all(".zstd." in f for f in files)
    assert spark.read.parquet(p_zstd).count() == 200


def test_first_pdf_link_mirrors_reference_scrape_rule(spark):
    """Fixture sweep of the landing-page scrape rule (reference
    download_pdf.py:83-105): first anchor in document order wins; match
    on anchor text containing 'pdf' OR href ending '.pdf', both
    case-insensitive; root-relative links get the https: prefix; no
    qualifying anchor -> NULL."""
    from pyspark.sql import functions as F

    from knowledge_model_spark.functions.html import anchors, first_pdf_link

    rows = [
        # href-suffix match
        ('<a href="https://x.org/p.pdf">x</a>', "https://x.org/p.pdf"),
        # anchor-text match even when href is not a .pdf
        ('<a href="https://x.org/view/9">Download PDF</a>',
         "https://x.org/view/9"),
        # FIRST qualifying anchor wins over a later .pdf href
        ('<a href="https://x.org/v">get pdf</a>'
         '<a href="https://x.org/real.pdf">f</a>', "https://x.org/v"),
        # non-matching anchors are skipped, later match found
        ('<a href="https://x.org/home">home</a>'
         '<a href="https://x.org/P.PDF">f</a>', "https://x.org/P.PDF"),
        # root-relative link gets the https: prefix (reference literal)
        ('<a href="/files/1.pdf">d</a>', "https:/files/1.pdf"),
        # no qualifying anchor
        ('<a href="https://x.org/about">About</a>', None),
        # no anchors at all
        ("<p>plain page</p>", None),
        # href containing '>' must NOT leak into the anchor text: the
        # pre-fix first->...< span would capture pdf">download (false
        # positive vs the reference's get_text() == "download")
        ('<a href="https://x.org/view?next=>pdf">download</a>', None),
        # ...while a genuine text match still qualifies despite the '>'
        ('<a href="https://x.org/v?a=>1">Get PDF</a>',
         "https://x.org/v?a=>1"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in rows], "html string")
    got = [
        r["link"]
        for r in df.select(
            first_pdf_link(F.col("html")).alias("link")
        ).collect()
    ]
    assert got == [want for _, want in rows]
    n = df.select(F.size(anchors(F.col("html"))).alias("n")).collect()
    assert [r["n"] for r in n] == [1, 1, 2, 2, 1, 1, 0, 1, 1]


def test_s3a_path_layout_and_validation():
    from knowledge_model_spark.sources.objectstore import s3a_path

    import pytest as _pytest

    # the reference's {prefix}/YYYY/MM/{name} key layout (upload_s3.py)
    assert (
        s3a_path("corpus", "clean", 2026, "08", "part.parquet")
        == "s3a://corpus/clean/2026/08/part.parquet"
    )
    assert s3a_path("b", "/lead/", "trail/") == "s3a://b/lead/trail"
    with _pytest.raises(ValueError):
        s3a_path("s3a://bucket", "x")
    with _pytest.raises(ValueError):
        s3a_path("bucket/with/path")
    with _pytest.raises(ValueError):
        s3a_path("b", "")


def test_s3a_session_confs_commit_protocol():
    from knowledge_model_spark.sources.objectstore import s3a_session_confs

    import pytest as _pytest

    c = s3a_session_confs()
    # the three keys that turn off rename-based commit — missing any one
    # silently degrades to O(data) copy-commit on an object store
    assert c["spark.hadoop.fs.s3a.committer.name"] == "magic"
    assert c["spark.sql.sources.commitProtocolClass"].endswith(
        "PathOutputCommitProtocol"
    )
    assert (
        "S3ACommitterFactory"
        in c["spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a"]
    )
    # staging committers carry their conflict mode; magic must not
    assert "spark.hadoop.fs.s3a.committer.staging.conflict-mode" not in c
    d = s3a_session_confs(committer="partitioned")
    assert (
        d["spark.hadoop.fs.s3a.committer.staging.conflict-mode"] == "append"
    )
    e = s3a_session_confs(
        committer="directory", endpoint="https://minio.local:9000",
        path_style_access=True, upload_part_mb=16,
    )
    assert e["spark.hadoop.fs.s3a.endpoint"] == "https://minio.local:9000"
    assert e["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert e["spark.hadoop.fs.s3a.multipart.size"] == "16M"
    with _pytest.raises(ValueError):
        s3a_session_confs(committer="rename")
    with _pytest.raises(ValueError):
        s3a_session_confs(upload_part_mb=1)


def test_vad_segments_exact_boundaries_real_wav(spark):
    """REAL-decode VAD on a synthesized WAV with a known
    speech/silence/speech pattern must recover the exact segment
    boundaries: 0-200ms tone, 200-400ms silence, 400-1000ms tone."""
    import numpy as np
    from knowledge_model_spark.sources.multimodal import audio_vad_segments

    rate = 8000
    t = np.arange(rate)  # 1 s
    tone = 0.5 * np.sin(2 * np.pi * 440 * t / rate)
    wave = tone.copy()
    wave[int(0.2 * rate):int(0.4 * rate)] = 0.0
    df = spark.createDataFrame(
        [(7, _make_wav(wave, rate), 1000)],
        "media_id long, payload binary, duration_ms long",
    )
    segs = sorted(
        audio_vad_segments(df, frame_ms=20, threshold=0.1, decode="REAL").collect(),
        key=lambda r: r["seg_index"],
    )
    assert [(s["start_ms"], s["end_ms"]) for s in segs] == [(0, 200), (400, 1000)]
    assert all(abs(s["mean_rms"] - 0.5 / 2**0.5) < 0.02 for s in segs)


def test_vad_segments_deterministic_mode_partition_invariant(spark):
    from knowledge_model_spark.sources.multimodal import (
        audio_vad_segments,
        make_synthetic_media,
    )

    media = make_synthetic_media(spark, n=64, kind="audio")
    a = sorted(
        audio_vad_segments(media, decode="DETERMINISTIC").collect(),
        key=lambda r: (r["media_id"], r["seg_index"]),
    )
    b = sorted(
        audio_vad_segments(media.repartition(7), decode="DETERMINISTIC").collect(),
        key=lambda r: (r["media_id"], r["seg_index"]),
    )
    assert a == b and len(a) > 0


def test_png_sub_byte_depths_pixel_exact():
    """1/2/4-bit gray and 4-bit palette PNGs: MSB-first bit packing
    with byte-aligned rows, spec sample-depth scaling for gray, PLTE
    resolve for palette — the legacy-icon formats."""
    import struct
    import zlib

    import numpy as np
    from knowledge_model_spark.sources.multimodal import decode_png

    def make(bitd, colort, samples2d, plte=None, filters=(0,)):
        h, w = samples2d.shape
        stride = (w * bitd + 7) // 8
        scan = bytearray()
        prior = bytes(stride)
        for y in range(h):
            bits = "".join(format(int(v), f"0{bitd}b") for v in samples2d[y])
            bits += "0" * (stride * 8 - len(bits))
            raw = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
            ft = filters[y % len(filters)]
            scan.append(ft)
            scan += _png_filter_row(raw, prior, ft, 1)
            prior = raw

        def chunk(typ, body):
            base = typ + body
            return struct.pack(">I", len(body)) + base + struct.pack(
                ">I", zlib.crc32(base)
            )

        out = b"\x89PNG\r\n\x1a\n" + chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, bitd, colort, 0, 0, 0)
        )
        if plte is not None:
            out += chunk(b"PLTE", plte.tobytes())
        return out + chunk(b"IDAT", zlib.compress(bytes(scan))) + chunk(b"IEND", b"")

    rng = np.random.RandomState(23)
    for bitd in (1, 2, 4):
        maxv = (1 << bitd) - 1
        g = rng.randint(0, maxv + 1, size=(5, 11), dtype=np.uint8)
        got = decode_png(make(bitd, 0, g, filters=(0, 1, 2, 3, 4)))
        want = (g.astype(np.uint16) * 255 // maxv).astype(np.uint8)
        assert got is not None and np.array_equal(got[..., 0], want)
        assert np.array_equal(got[..., 0], got[..., 1])
    # 4-bit palette
    plte = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, size=(6, 7), dtype=np.uint8)
    got = decode_png(make(4, 3, idx, plte=plte, filters=(0, 2)))
    assert got is not None and np.array_equal(got, plte[idx])


def test_jpeg_single_component_scan_uses_component_grid():
    """A single-component SEQUENTIAL scan is non-interleaved per T.81
    A.2: with sampling 2x2 on an 8x8 image the component grid is ONE
    block while the MCU grid would be four — a grid mix-up either
    garbles the plane or raises; the fix decodes the one block."""
    import numpy as np
    from knowledge_model_spark.sources.jpeg import decode_jpeg

    dc_bits = [0, 1] + [0] * 14
    ac_bits = [0, 1] + [0] * 14
    bits = "00" + "110010" + "00"  # DC 50 (cat 6... cat5 bits) wait
    # DC category 5: code "00" -> 5; bits 11001 = 25 -> DC = 25
    bits = "00" + "11001" + "00"  # DC 25, then AC EOB
    img = decode_jpeg(
        _tiny_gray_jpeg(dc_bits, bits, [5], [0x00], ac_bits, hv=0x22)
    )
    assert img is not None and img.shape == (8, 8, 3)
    # uniform block: 128 + 25/8 rounds to 131
    assert abs(int(img[0, 0, 0]) - 131) <= 1
    assert img[..., 0].std() == 0


def test_jpeg_missing_component_scan_returns_none():
    """A 3-component frame whose only scan covers component 1 must
    return None — never a grayscale-replicated image with the chroma
    silently dropped."""
    import struct

    from knowledge_model_spark.sources.jpeg import decode_jpeg

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, 8, 8, 3)
    for cid in (1, 2, 3):
        out += bytes([cid, 0x11, 0])
    out += (
        b"\xff\xc4" + struct.pack(">H", 3 + 16 + 1) + b"\x00"
        + bytes([0, 1] + [0] * 14) + bytes([5])
    )
    out += (
        b"\xff\xc4" + struct.pack(">H", 3 + 16 + 1) + b"\x10"
        + bytes([0, 1] + [0] * 14) + bytes([0x00])
    )
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    out += bytes([0b00110010])  # DC cat5=25, EOB, padded
    out += b"\xff\xd9"
    assert decode_jpeg(bytes(out)) is None


def test_tiff_pdf_lzw_malformed_payload_fuzz_never_raises():
    """Same None-on-garbage contract for the r6 decoders: byte
    mutations and truncations of valid TIFF files, LZW-compressed PDFs,
    and figure-bearing PDFs must never escape as exceptions from
    decode_tiff / decode_pdf_pages / decode_pdf_images /
    lzw_decode_pdf."""
    import numpy as np

    from knowledge_model_spark.sources.jpeg import encode_jpeg
    from knowledge_model_spark.sources.lzw import lzw_decode_pdf, lzw_encode_pdf
    from knowledge_model_spark.sources.multimodal import (
        decode_tiff,
        encode_simple_tiff,
    )
    from knowledge_model_spark.sources.pdf import (
        decode_pdf_images,
        decode_pdf_pages,
        encode_simple_pdf,
    )

    from knowledge_model_spark.sources.multimodal import (
        decode_aiff,
        decode_au,
        decode_ras,
        decode_sgi,
        encode_simple_aiff,
        encode_simple_au,
        encode_simple_ras,
        encode_simple_sgi,
    )

    rng = np.random.RandomState(17)
    img = rng.randint(0, 256, (13, 11, 3), np.uint8)
    pcm = rng.randint(-32768, 32768, 400).astype(np.int16)
    goods = [
        ("tiff", encode_simple_tiff(img, "lzw", 2, 5)),
        ("pdf", encode_simple_pdf(["mutate me", "twice"], compress="lzw",
                                  images=[encode_jpeg(img, 85)])),
        ("lzw", lzw_encode_pdf(img.tobytes())),
        ("ras", encode_simple_ras(img, rle=True)),
        ("sgi", encode_simple_sgi(img, rle=True)),
        ("aiff", encode_simple_aiff(pcm, 8000, sowt=True)),
        ("au", encode_simple_au(pcm, 8000, 24)),
    ]
    for kind, good in goods:
        for trial in range(150):
            b = bytearray(good)
            for _ in range(rng.randint(1, 4)):
                b[rng.randint(0, len(b))] = rng.randint(0, 256)
            cut = rng.randint(0, len(b) + 1)
            for payload in (bytes(b), bytes(b[:cut])):
                if kind == "tiff":
                    out = decode_tiff(payload)  # must not raise
                    assert out is None or out.ndim == 3
                elif kind == "pdf":
                    decode_pdf_pages(payload)
                    decode_pdf_images(payload)
                elif kind == "lzw":
                    lzw_decode_pdf(payload)
                elif kind == "ras":
                    out = decode_ras(payload)
                    assert out is None or out.ndim == 3
                elif kind == "sgi":
                    out = decode_sgi(payload)
                    assert out is None or out.ndim == 3
                elif kind == "aiff":
                    out = decode_aiff(payload)
                    assert out is None or out[1] != 0
                else:
                    out = decode_au(payload)
                    assert out is None or len(out) == 2


def test_jpeg_malformed_payload_fuzz_never_raises():
    """decode_jpeg's contract is None-on-garbage: byte mutations and
    truncations of a valid file must never escape as exceptions (a
    crash would kill the Spark task that fed an arbitrary payload
    through decode_image_any)."""
    import numpy as np
    from knowledge_model_spark.sources.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(41)
    good = encode_jpeg(
        rng.randint(0, 256, (16, 16, 3), np.uint8), 90
    )
    for trial in range(300):
        b = bytearray(good)
        for _ in range(rng.randint(1, 4)):
            b[rng.randint(0, len(b))] = rng.randint(0, 256)
        cut = rng.randint(0, len(b) + 1)
        for payload in (bytes(b), bytes(b[:cut])):
            out = decode_jpeg(payload)  # must not raise
            assert out is None or out.ndim == 3


def test_ccitt_g4_code_tables_structural():
    """The T.4/T.6 code tables must be prefix-free within each decode
    context (white runs, black runs, 2-D modes) — the structural
    property that catches transcription typos — and carry the exact
    spec anchors every G4 description reproduces (white-0 = 00110101,
    black-0 = 0000110111, white-64 makeup = 11011, black-64 makeup =
    0000001111, EOL = 000000000001)."""
    from knowledge_model_spark.sources.ccitt import (
        BLACK_MAKEUP,
        BLACK_TERMINATING,
        EOFB,
        EXT_MAKEUP,
        MODE_CODES,
        WHITE_MAKEUP,
        WHITE_TERMINATING,
    )

    def assert_prefix_free(codes, label):
        codes = sorted(codes)
        for a, b in zip(codes, codes[1:]):
            assert not b.startswith(a), (label, a, b)

    white = list(WHITE_TERMINATING.values()) + list(WHITE_MAKEUP.values()) + list(EXT_MAKEUP.values())
    black = list(BLACK_TERMINATING.values()) + list(BLACK_MAKEUP.values()) + list(EXT_MAKEUP.values())
    assert len(set(white)) == len(white) and len(set(black)) == len(black)
    assert_prefix_free(white, "white")
    assert_prefix_free(black, "black")
    assert_prefix_free(list(MODE_CODES), "modes")
    # spec anchors
    assert WHITE_TERMINATING[0] == "00110101"
    assert BLACK_TERMINATING[0] == "0000110111"
    assert WHITE_MAKEUP[64] == "11011"
    assert BLACK_MAKEUP[64] == "0000001111"
    assert WHITE_MAKEUP[1728] == "010011011"
    assert EXT_MAKEUP[2560] == "000000011111"
    assert EOFB == "000000000001" * 2
    # run-length coverage: every terminating 0-63, every makeup multiple
    assert sorted(WHITE_TERMINATING) == list(range(64))
    assert sorted(BLACK_TERMINATING) == list(range(64))
    assert sorted(WHITE_MAKEUP) == [64 * i for i in range(1, 28)]
    assert sorted(BLACK_MAKEUP) == [64 * i for i in range(1, 28)]
    assert sorted(EXT_MAKEUP) == [1792 + 64 * i for i in range(13)]


def test_ccitt_g4_hand_vectors():
    """Hand-computed T.6 streams: an all-white page is one V0 bit per
    line then EOFB; an all-black first line is horizontal mode with a
    zero-length white run then the black width — bit patterns checked
    against the spec tables, not against this repo's own decoder."""
    import numpy as np

    from knowledge_model_spark.sources.ccitt import EOFB, g4_decode, g4_encode

    white = np.zeros((5, 64), bool)
    bits = "".join(f"{b:08b}" for b in g4_encode(white))
    assert bits.startswith("1" * 5 + EOFB)
    assert set(bits[5 + len(EOFB):]) <= {"0"}

    black = np.ones((1, 16), bool)
    bits_b = "".join(f"{b:08b}" for b in g4_encode(black))
    # H mode (001) + white run 0 (00110101) + black run 16 (0000010111)
    assert bits_b.startswith("001" + "00110101" + "0000010111")

    # decode side: hand-assemble "V0 V0 V0" for a 3-line white page
    hand = "111" + EOFB
    hand += "0" * (-len(hand) % 8)
    data = bytes(int(hand[i : i + 8], 2) for i in range(0, len(hand), 8))
    got = g4_decode(data, 40)
    assert got is not None and got.shape == (3, 40) and not got.any()


def test_ccitt_g4_pdf_image_extraction():
    """A /CCITTFaxDecode K=-1 image XObject decodes through
    decode_pdf_images to the exact P6 raster, honoring the BlackIs1
    and /Decode [1 0] writer conventions."""
    import numpy as np

    from knowledge_model_spark.sources.ccitt import g4_encode
    from knowledge_model_spark.sources.multimodal import decode_image_any
    from knowledge_model_spark.sources.pdf import (
        decode_pdf_images,
        encode_simple_pdf,
    )

    rng = np.random.RandomState(3)
    bitmap = rng.rand(24, 40) < 0.4
    pdf = encode_simple_pdf(["scanned page"], images=[("g4", bitmap)])
    imgs = decode_pdf_images(pdf)
    assert imgs is not None and len(imgs) == 1
    luma = np.where(bitmap, 0, 255).astype(np.uint8)
    expect = b"P6\n40 24\n255\n" + np.repeat(luma, 3).tobytes()
    assert imgs[0] == expect
    px = decode_image_any(imgs[0])
    assert px is not None and px.shape == (24, 40, 3)
    assert np.array_equal(px[..., 0] == 0, bitmap)

    # BlackIs1 true (no Decode): the literal rendering pipeline inverts
    data = g4_encode(bitmap)
    xobj = (
        b"%%PDF-1.4\n1 0 obj\n<< /Type /XObject /Subtype /Image "
        b"/Width 40 /Height 24 /ColorSpace /DeviceGray "
        b"/BitsPerComponent 1 /Filter /CCITTFaxDecode "
        b"/DecodeParms << /K -1 /Columns 40 /Rows 24 /BlackIs1 true >> "
        b"/Length %d >>\nstream\n" % len(data)
        + data
        + b"\nendstream\nendobj\n"
    )
    inv = decode_pdf_images(xobj)
    assert inv is not None and len(inv) == 1
    luma_inv = np.where(bitmap, 255, 0).astype(np.uint8)
    assert inv[0] == b"P6\n40 24\n255\n" + np.repeat(luma_inv, 3).tobytes()


def test_p1_ascii_rejects_non_bit_bytes():
    """A malformed P1 whose body carries bytes other than '0'/'1'/
    whitespace/comments must refuse (r6 ADVICE: the old filter silently
    dropped them and decoded a SHIFTED raster)."""
    from knowledge_model_spark.sources.multimodal import decode_ppm

    good = b"P1\n# comment\n3 2\n0 1 0\n101\n"
    px = decode_ppm(good)
    assert px is not None and px.shape == (2, 3, 3)
    assert decode_ppm(b"P1\n3 2\n0 2 1 0 1 0 1\n") is None  # stray digit
    assert decode_ppm(b"P1\n3 2\nab0101x0\n") is None  # letters
    assert decode_ppm(b"P1\n3 2\n010101 junk\n") is None  # trailing junk
    # comments inside the raster stay legal
    assert decode_ppm(b"P1\n3 2\n010# junk ok\n101\n") is not None


def test_ccitt_g3_1d_pdf_image_extraction():
    """Group 3 one-dimensional (/K 0, the PDF default) image XObjects
    decode through decode_pdf_images; the G3 encoder twin's EOL mode
    exercises the decoder's fill/EOL tolerance."""
    import numpy as np

    from knowledge_model_spark.sources.ccitt import g3_1d_decode, g3_1d_encode
    from knowledge_model_spark.sources.pdf import (
        decode_pdf_images,
        encode_simple_pdf,
    )

    rng = np.random.RandomState(9)
    bitmap = rng.rand(12, 33) < 0.5
    pdf = encode_simple_pdf(["fax page"], images=[("g3", bitmap)])
    imgs = decode_pdf_images(pdf)
    assert imgs is not None and len(imgs) == 1
    luma = np.where(bitmap, 0, 255).astype(np.uint8)
    assert imgs[0] == b"P6\n33 12\n255\n" + np.repeat(luma, 3).tobytes()
    # EOL-per-line stream decodes identically (fill/EOL tolerance)
    assert np.array_equal(
        g3_1d_decode(g3_1d_encode(bitmap, with_eol=True), 33), bitmap
    )


def test_pdf_predictor_coded_raw_image_decodes():
    """A raw-sample Flate image whose samples are ALSO predictor-coded
    (/DecodeParms /Predictor 12 on the image stream — common for
    screenshots) decodes through the shared predictor core instead of
    being skipped (the r6 docstring's declared seam, now closed)."""
    import zlib

    import numpy as np

    from knowledge_model_spark.sources.pdf import decode_pdf_images
    from knowledge_model_spark.sources.predictors import filter_rows

    rng = np.random.RandomState(4)
    w, h = 21, 9
    px = rng.randint(0, 256, (h, w, 3), np.uint8)
    filtered = filter_rows(px.tobytes(), 12, w, colors=3)
    data = zlib.compress(filtered)
    pdf = (
        b"%%PDF-1.4\n1 0 obj\n<< /Type /XObject /Subtype /Image "
        b"/Width %d /Height %d /ColorSpace /DeviceRGB "
        b"/BitsPerComponent 8 /Filter /FlateDecode /DecodeParms "
        b"<< /Predictor 12 /Colors 3 /Columns %d >> /Length %d "
        b">>\nstream\n" % (w, h, w, len(data))
        + data
        + b"\nendstream\nendobj\n"
    )
    imgs = decode_pdf_images(pdf)
    assert imgs is not None and len(imgs) == 1
    assert imgs[0] == b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def test_ccitt_predictor_malformed_payload_fuzz_never_raises():
    """Same None-on-garbage contract for the r7 decoders: byte
    mutations and truncations of valid G4/G3 streams, predictor-coded
    PDF streams, and fax-bearing PDFs must never escape as exceptions
    from g4_decode / g3_1d_decode / unfilter_rows / decode_pdf_pages /
    decode_pdf_images."""
    import numpy as np

    from knowledge_model_spark.sources.ccitt import (
        g3_1d_decode,
        g3_1d_encode,
        g4_decode,
        g4_encode,
    )
    from knowledge_model_spark.sources.pdf import (
        decode_pdf_images,
        decode_pdf_pages,
        encode_simple_pdf,
    )
    from knowledge_model_spark.sources.predictors import (
        filter_rows,
        unfilter_rows,
    )

    rng = np.random.RandomState(23)
    bitmap = rng.rand(15, 37) < 0.45
    rowdata = rng.randint(0, 256, 12 * 20, np.uint8).tobytes()
    from knowledge_model_spark.sources.ccitt import (
        g3_mixed_decode,
        g3_mixed_encode,
    )

    from knowledge_model_spark.sources.multimodal import (
        decode_tiff as _dec_tiff,
        encode_bilevel_tiff as _enc_btiff,
    )

    goods = [
        ("g4", g4_encode(bitmap)),
        ("g3", g3_1d_encode(bitmap, with_eol=True)),
        ("g3m", g3_mixed_encode(bitmap, k=4)),
        ("ctiff", _enc_btiff(bitmap, compression="g3_2d", rows_per_strip=5)),
        ("pred", filter_rows(rowdata, 12, 20)),
        ("pdf", encode_simple_pdf(
            ["fax page", "pred page"],
            compress="flate-pred12",
            images=[("g4", bitmap), ("g3", bitmap)],
        )),
    ]
    for kind, good in goods:
        for trial in range(150):
            b = bytearray(good)
            for _ in range(rng.randint(1, 4)):
                b[rng.randint(0, len(b))] = rng.randint(0, 256)
            cut = rng.randint(0, len(b) + 1)
            for payload in (bytes(b), bytes(b[:cut])):
                if kind == "g4":
                    out = g4_decode(payload, 37)
                    assert out is None or out.ndim == 2
                elif kind == "g3":
                    out = g3_1d_decode(payload, 37)
                    assert out is None or out.ndim == 2
                elif kind == "g3m":
                    out = g3_mixed_decode(payload, 37)
                    assert out is None or out.ndim == 2
                elif kind == "pred":
                    out = unfilter_rows(payload, 12, 20)
                    assert out is None or isinstance(out, bytes)
                elif kind == "ctiff":
                    out = _dec_tiff(payload)
                    assert out is None or out.ndim == 3
                else:
                    decode_pdf_pages(payload)
                    decode_pdf_images(payload)


def test_resize_image_hand_pinned_kernels():
    """resize_image (r7): nearest on an integer-factor downscale picks
    exactly the strided center pixels; bilinear is exact on constant
    images, identity at equal size, and keeps a linear ramp linear —
    hand-computed anchors independent of the query's self-comparison."""
    import numpy as np

    from knowledge_model_spark.sources.multimodal import resize_image

    img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    assert np.array_equal(resize_image(img, 2, 2, "nearest"), img[1::2, 1::2])
    up = resize_image(img, 8, 8, "nearest")
    assert np.array_equal(up[::2, ::2], img) and np.array_equal(up[1::2, 1::2], img)
    const = np.full((7, 5, 3), 77, np.uint8)
    assert (resize_image(const, 3, 9, "bilinear") == 77).all()
    assert np.array_equal(resize_image(img, 4, 4, "bilinear"), img)
    ramp = np.tile(np.arange(0, 160, 10, dtype=np.uint8)[None, :, None], (4, 1, 3))
    out = resize_image(ramp, 4, 8, "bilinear")
    diffs = np.diff(out[0, :, 0].astype(int))
    assert (diffs[1:-1] == diffs[1]).all()


def test_image_resize_query_gate(spark):
    """multimodal_image_resize end to end: every row's resize output is
    pixel-identical to the resize of the regenerated source, for both
    methods over all three rotating codecs, and resampling keeps mean
    luma within 1.5 of the source image's."""
    from knowledge_model_spark.plans import load_registry

    R = load_registry()
    rows = R["multimodal_image_resize"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 64 * 2
    for r in rows:
        assert r["resize_ok"], (r["media_id"], r["method"])
        assert r["width"] > 0 and r["height"] > 0
        assert r["out_bytes"] == 48 * 64 * 3


def test_ccitt_g3_mixed_and_byte_align_pdf_extraction():
    """The full /CCITTFaxDecode /K family (r7): mixed-mode K>0 image
    XObjects (EOL + tag-bit framing, 2-D lines against the previous
    line) and /EncodedByteAlign per-line fill both decode through
    decode_pdf_images."""
    import numpy as np

    from knowledge_model_spark.sources.ccitt import (
        g3_mixed_encode,
        g4_encode,
    )
    from knowledge_model_spark.sources.pdf import decode_pdf_images

    rng = np.random.RandomState(13)
    bitmap = rng.rand(17, 41) < 0.5
    luma = np.where(bitmap, 0, 255).astype(np.uint8)
    want = b"P6\n41 17\n255\n" + np.repeat(luma, 3).tobytes()

    def xobj(parms: bytes, data: bytes) -> bytes:
        return (
            b"%%PDF-1.4\n1 0 obj\n<< /Type /XObject /Subtype /Image "
            b"/Width 41 /Height 17 /ColorSpace /DeviceGray "
            b"/BitsPerComponent 1 /Filter /CCITTFaxDecode "
            b"/DecodeParms << %s >> /Length %d >>\nstream\n"
            % (parms, len(data))
            + data
            + b"\nendstream\nendobj\n"
        )

    # K > 0 mixed mode
    data = g3_mixed_encode(bitmap, k=4)
    imgs = decode_pdf_images(xobj(b"/K 4 /Columns 41 /Rows 17", data))
    assert imgs is not None and len(imgs) == 1 and imgs[0] == want

    # K = -1 with EncodedByteAlign
    data2 = g4_encode(bitmap, byte_align=True)
    imgs2 = decode_pdf_images(
        xobj(b"/K -1 /Columns 41 /Rows 17 /EncodedByteAlign true", data2)
    )
    assert imgs2 is not None and len(imgs2) == 1 and imgs2[0] == want


def test_ccitt_g3_mixed_rtc_trailer_rows_none():
    """r8 (driver advice): a spec-legal RTC trailer — six EOL+tag-1
    sequences (T.4 §2.2.3) — at the end of a G3 mixed-mode stream is
    end-of-data, not a malformed 1-D line, even when the caller
    supplies no row count (rows=None): after the trailer's tag-1 the
    next bits are another EOL, which no MH run code can open."""
    import numpy as np

    from knowledge_model_spark.sources.ccitt import (
        _encode_1d_line,
        _encode_2d_line,
        _pack_bits,
        _transitions,
        g3_mixed_decode,
    )

    rng = np.random.RandomState(31)
    bitmap = rng.rand(11, 29) < 0.4
    bits = []
    ref = [29, 29]
    for y in range(11):
        one_d = y % 4 == 0
        bits.append("000000000001" + ("1" if one_d else "0"))
        if one_d:
            bits.append(_encode_1d_line(bitmap[y], 29))
        else:
            bits.append(_encode_2d_line(bitmap[y], ref, 29))
        ref = _transitions(bitmap[y]) + [29, 29]
    bits.append(("000000000001" + "1") * 6)  # RTC trailer
    payload = _pack_bits("".join(bits))

    out = g3_mixed_decode(payload, 29, rows=None)
    assert out is not None and np.array_equal(out, bitmap)
    # rows supplied still decodes (loop stops before the trailer)
    out2 = g3_mixed_decode(payload, 29, rows=11)
    assert out2 is not None and np.array_equal(out2, bitmap)


def test_pdf_decode_parms_array_positional():
    """r8 (driver advice): the array form of /DecodeParms is index-
    aligned with /Filter — a predictor entry inverts only at the stage
    it parameterizes.  A double-Flate chain whose predictor belongs to
    the SECOND stage must not unpredict the intermediate zlib bytes."""
    import zlib as _z

    from knowledge_model_spark.sources.pdf import decode_pdf_text
    from knowledge_model_spark.sources.predictors import filter_rows

    def one_obj(head: bytes, data: bytes) -> bytes:
        return (
            b"%%PDF-1.4\n1 0 obj\n<< /Length %d %s >>\nstream\n"
            % (len(data), head)
            + data
            + b"\nendstream\nendobj\n"
        )

    body = b"BT (array parms) Tj 0 -14 Td (stage aligned) Tj ET"
    cols = 16
    padded = body + b" " * (-len(body) % cols)

    # decode order: Flate(stage 0, no parms) -> Flate(stage 1, pred 12)
    data = _z.compress(_z.compress(filter_rows(padded, 12, cols)))
    pdf = one_obj(
        b"/Filter [/FlateDecode /FlateDecode] "
        b"/DecodeParms [null << /Predictor 12 /Columns %d >>]" % cols,
        data,
    )
    assert decode_pdf_text(pdf) == "array parms\nstage aligned"

    # ASCII85 outer stage, predictor on the inner Flate stage
    import base64

    data2 = base64.a85encode(
        _z.compress(filter_rows(padded, 12, cols))
    ) + b"~>"
    pdf2 = one_obj(
        b"/Filter [/ASCII85Decode /FlateDecode] "
        b"/DecodeParms [null << /Predictor 12 /Columns %d >>]" % cols,
        data2,
    )
    assert decode_pdf_text(pdf2) == "array parms\nstage aligned"

    # scalar form on a single filter: unchanged behavior
    data3 = _z.compress(filter_rows(padded, 12, cols))
    pdf3 = one_obj(
        b"/Filter /FlateDecode "
        b"/DecodeParms << /Predictor 12 /Columns %d >>" % cols,
        data3,
    )
    assert decode_pdf_text(pdf3) == "array parms\nstage aligned"


def test_predictor_tiff_sub_byte_refusal():
    """r8 (verdict item 8): TIFF predictor 2 differencing acts on
    packed sub-byte samples — unfilter_rows refuses bpc<8 (and any
    non-8-bit depth) rather than risk a silent misdecode.  Pin the
    refusal so a future change can't quietly flip it to wrong output."""
    from knowledge_model_spark.sources.predictors import (
        filter_rows,
        unfilter_rows,
    )

    data = bytes(range(64))
    assert unfilter_rows(data, 2, 16, colors=1, bpc=8) is not None
    for bpc in (1, 2, 4, 16):
        assert unfilter_rows(data, 2, 16, colors=1, bpc=bpc) is None
    # the encoder twin refuses symmetrically (8-bit only)
    assert filter_rows(data, 2, 16) is not None


def test_ccitt_tiff_roundtrip_all_compressions():
    """r8 (r7 verdict item 4): CCITT payloads inside TIFF — compression
    tags 2 (G3 MH, byte-aligned rows), 3 (T.4 G3, 1-D and 2-D via
    T4Options bit 0), 4 (T.6 G4) — decode through decode_tiff /
    decode_image_any via the encoder twin encode_bilevel_tiff, across
    strip layouts and both PhotometricInterpretation senses; the
    uncompressed-mode option bit is refused honestly."""
    import struct

    import numpy as np

    from knowledge_model_spark.sources.multimodal import (
        decode_image_any,
        decode_tiff,
        encode_bilevel_tiff,
    )

    rng = np.random.RandomState(7)
    bitmap = rng.rand(23, 41) < 0.4
    want = np.where(bitmap, 0, 255).astype(np.uint8)
    for comp in ("mh", "g3_1d", "g3_2d", "g4"):
        for rps in (None, 7):
            for photo in (0, 1):
                tif = encode_bilevel_tiff(
                    bitmap, compression=comp, rows_per_strip=rps,
                    photometric=photo,
                )
                img = decode_tiff(tif)
                assert img is not None, (comp, rps, photo)
                assert np.array_equal(img[..., 0], want), (comp, rps, photo)
                assert np.array_equal(img[..., 0], img[..., 1])
                assert decode_image_any(tif) is not None

    # honest refusal: T4Options uncompressed-mode bit
    tif = encode_bilevel_tiff(bitmap, compression="g3_1d")
    b = bytearray(tif)
    idx = b.rfind(struct.pack("<HHII", 292, 4, 1, 0))
    assert idx >= 0
    b[idx : idx + 12] = struct.pack("<HHII", 292, 4, 1, 0b10)
    assert decode_tiff(bytes(b)) is None


def test_avi_mjpeg_roundtrip_and_seam():
    """r8 (r7 verdict item 5): Motion-JPEG AVI — '00dc' chunks each a
    complete JPEG — demuxes through decode_avi_frames via the existing
    sources/jpeg.py decoder; DIB stays bit-exact; a '00dc' chunk that
    is NOT a JPEG (H.264-style) still returns None (the ffmpeg seam)."""
    import struct

    import numpy as np

    from knowledge_model_spark.sources.multimodal import (
        decode_avi_frames,
        encode_simple_avi,
    )

    rng = np.random.RandomState(3)
    frames = [rng.randint(0, 256, (8, 8, 3), np.uint8) for _ in range(4)]
    avi = encode_simple_avi(frames, fps=2.0, codec="mjpg", quality=90)
    dec = decode_avi_frames(avi)
    assert dec is not None
    got, fps = dec
    assert len(got) == 4 and fps == 2.0
    for a, b in zip(frames, got):
        assert a.shape == b.shape
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        assert 10 * np.log10(255.0**2 / mse) >= 25.0  # q90 on noise

    # non-JPEG compressed chunks stay on the seam: swap every JPEG SOI
    # for fake H.264-ish bytes -> no decodable frames -> None
    b = bytearray(avi)
    i = 0
    while True:
        i = b.find(b"\xff\xd8\xff", i)
        if i < 0:
            break
        b[i : i + 3] = b"\x00\x00\x01"
        i += 3
    assert decode_avi_frames(bytes(b)) is None


def test_exif_round_trip_both_endians():
    """parse_exif inverts build_exif_app1 for every field in both byte
    orders, through a real JPEG APP1 insertion; a bare TIFF block
    parses identically; a JPEG without APP1 yields None."""
    import numpy as np

    from knowledge_model_spark.sources.jpeg import encode_jpeg
    from knowledge_model_spark.sources.multimodal import (
        build_exif_app1,
        insert_jpeg_app1,
        parse_exif,
    )

    fields = {
        "make": "CAM2", "model": "KM-100", "orientation": 6,
        "datetime": "2024:03:01 12:34:56", "iso": 400,
        "pixel_x": 32, "pixel_y": 24, "exposure_num": 1, "exposure_den": 125,
    }
    jpg = encode_jpeg(np.zeros((24, 32, 3), np.uint8), 90)
    for endian, order in (("<", "II"), (">", "MM")):
        app1 = build_exif_app1(fields, endian)
        got = parse_exif(insert_jpeg_app1(jpg, app1))
        assert got is not None and got["byte_order"] == order
        for k, v in fields.items():
            assert got[k] == v, (endian, k)
        # the TIFF block alone (after the 6-byte Exif header) also parses
        assert parse_exif(app1[6:])["model"] == "KM-100"
    assert parse_exif(jpg) is None  # no APP1
    # partial fields: absent tags come back None, present ones intact
    got = parse_exif(build_exif_app1({"orientation": 3})[6:])
    assert got["orientation"] == 3 and got["make"] is None
    assert got["iso"] is None and got["exposure_num"] is None


def test_exif_malformed_never_raises():
    """Bit-flipped and truncated EXIF payloads parse to None or a
    partial dict — never an exception (the decoder-contract fuzz)."""
    import hashlib

    import numpy as np

    from knowledge_model_spark.sources.jpeg import encode_jpeg
    from knowledge_model_spark.sources.multimodal import (
        build_exif_app1,
        insert_jpeg_app1,
        parse_exif,
    )

    fields = {"make": "CAM0", "orientation": 1, "iso": 200,
              "exposure_num": 1, "exposure_den": 64}
    base = insert_jpeg_app1(
        encode_jpeg(np.zeros((8, 8, 3), np.uint8), 90),
        build_exif_app1(fields),
    )
    for i in range(400):
        h = hashlib.md5(b"exif%d" % i).digest()
        payload = bytearray(base)
        payload[h[0] % len(payload)] = h[1]
        payload[(h[2] | h[3] << 8) % len(payload)] = h[4]
        parse_exif(bytes(payload))
        parse_exif(bytes(payload[: max(2, h[5] * len(payload) // 255)]))


def test_multimodal_exif_extract_gate(spark):
    """The registered query's exif_ok gate holds for every variant
    (II, MM, and the no-APP1 control), and the plan is two mapInPandas
    over a range scan with zero shuffle."""
    from knowledge_model_spark.plans import load_registry

    df = load_registry()["multimodal_exif_extract"].fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = df.collect()
    assert len(rows) == 64 + 8  # one exif row each + every-8th control
    assert all(r["exif_ok"] for r in rows)
    variants = {r["variant"] for r in rows}
    assert variants == {"exif_ii", "exif_mm", "plain"}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "MapInPandas" in plan


def test_exif_type_confused_tags_never_raise():
    """r8 review fix: a bitflipped TYPE field can make the Exif pointer
    a str/rational or the exposure a scalar — parse_exif must degrade
    to a partial dict, never raise (the documented contract)."""
    from knowledge_model_spark.sources.multimodal import (
        build_exif_app1,
        parse_exif,
    )

    fields = {"make": "CAM1", "orientation": 3, "iso": 200,
              "exposure_num": 1, "exposure_den": 64}
    tiff = bytearray(build_exif_app1(fields)[6:])
    # walk IFD0 entries and corrupt the TYPE of tags 34665 and 33434
    import struct

    def corrupt(buf, target_tag, new_type):
        (ifd0,) = struct.unpack("<I", buf[4:8])
        (n,) = struct.unpack("<H", buf[ifd0 : ifd0 + 2])
        for i in range(n):
            at = ifd0 + 2 + 12 * i
            tag = struct.unpack("<H", buf[at : at + 2])[0]
            if tag == target_tag:
                buf[at + 2 : at + 4] = struct.pack("<H", new_type)

    for bad_type in (2, 5):
        b1 = bytearray(tiff)
        corrupt(b1, 34665, bad_type)  # Exif pointer as ASCII / RATIONAL
        got = parse_exif(bytes(b1))
        assert got is None or got.get("make") == "CAM1"
    # exposure stored as SHORT (scalar) — must not raise on exp[0]
    app1 = bytearray(build_exif_app1(fields))
    sub_area = bytes(app1)
    # easiest: corrupt EVERY type-5 entry to type 3 anywhere in the blob
    b2 = bytearray(sub_area)
    for i in range(0, len(b2) - 12, 2):
        if b2[i : i + 2] == struct.pack("<H", 33434):
            b2[i + 2 : i + 4] = struct.pack("<H", 3)
    got = parse_exif(bytes(b2[6:]))
    assert got is None or got["exposure_num"] in (None, 1)


def test_exif_walk_skips_standalone_markers():
    """r8 review fix: TEM/RSTn standalone markers and 0xFF fill bytes
    carry no length field — the APP1 behind them must still be found."""
    import numpy as np

    from knowledge_model_spark.sources.jpeg import encode_jpeg
    from knowledge_model_spark.sources.multimodal import (
        build_exif_app1,
        insert_jpeg_app1,
        parse_exif,
    )

    fields = {"make": "CAM9", "orientation": 5}
    jpg = insert_jpeg_app1(
        encode_jpeg(np.zeros((8, 8, 3), np.uint8), 90),
        build_exif_app1(fields),
    )
    # inject fill + TEM + RST0 right after SOI, before the APP1
    noisy = jpg[:2] + b"\xff" + b"\xff\x01" + b"\xff\xd0" + jpg[2:]
    got = parse_exif(noisy)
    assert got is not None and got["make"] == "CAM9" and got["orientation"] == 5


def test_mjpeg_avi_refuses_undecodable_frame():
    """r8 review fix: an MJPEG clip with one recognized-but-undecodable
    frame must refuse the WHOLE clip (None) — silently dropping the
    frame would misalign every later index/timestamp."""
    import struct

    import numpy as np

    from knowledge_model_spark.sources.multimodal import (
        decode_avi_frames,
        encode_simple_avi,
    )

    frames = [
        np.full((16, 16, 3), 40 * (i + 1), np.uint8) for i in range(3)
    ]
    avi = bytearray(encode_simple_avi(frames, fps=5.0, codec="mjpg"))
    # find the SECOND 00dc chunk and truncate its JPEG body to garbage
    # (keep the SOI so it is RECOGNIZED as MJPEG, not the codec seam)
    first = avi.find(b"00dc")
    second = avi.find(b"00dc", first + 4)
    assert second > 0
    size = struct.unpack_from("<I", avi, second + 4)[0]
    body = second + 8
    avi[body + 2 : body + size] = b"\x00" * (size - 2)  # SOI kept, rest zeroed
    assert decode_avi_frames(bytes(avi)) is None
    # the intact clip still decodes
    ok = decode_avi_frames(encode_simple_avi(frames, fps=5.0, codec="mjpg"))
    assert ok is not None and len(ok[0]) == 3


def test_bilevel_tiff_large_dimension_uses_long_type():
    """r8 review fix: dimensions above 65535 must be written as LONG —
    SHORT silently wraps; a 70000-px-wide strip round-trips exactly."""
    import numpy as np

    from knowledge_model_spark.sources.multimodal import (
        decode_tiff,
        encode_bilevel_tiff,
    )

    bitmap = (np.arange(70000) % 97 == 0).reshape(1, 70000)
    t = encode_bilevel_tiff(bitmap, "g4")
    img = decode_tiff(t)
    assert img is not None and img.shape == (1, 70000, 3)
    want = np.where(bitmap[0], 0, 255)
    assert (img[0, :, 0] == want).all()


def test_triage_pdf_pages_shapes():
    """triage_pdf_pages (r10): the four page classes from planted
    shapes — all-text, image-only first page, hybrid + trailing empty
    — with the image /Filter names surfaced for OCR routing; non-PDF
    and garbage refuse with None (never a guess)."""
    import numpy as np

    from knowledge_model_spark.sources.jpeg import encode_jpeg
    from knowledge_model_spark.sources.pdf import (
        encode_simple_pdf,
        triage_pdf_pages,
    )

    gray = (np.mgrid[0:16, 0:24][0] * 9 % 256).astype(np.uint8)
    rgb = np.stack([gray] * 3, axis=2)

    rows = triage_pdf_pages(encode_simple_pdf(["hello world", "page two"]))
    assert [r["triage"] for r in rows] == ["text", "text"]
    assert all(r["n_images"] == 0 for r in rows)

    rows = triage_pdf_pages(
        encode_simple_pdf(["", "body text"], images=[("g4", gray >= 128)])
    )
    assert [r["triage"] for r in rows] == ["image_only", "text"]
    assert rows[0]["image_filters"] == ["CCITTFaxDecode"]
    assert not rows[0]["has_text"] and rows[1]["has_text"]

    rows = triage_pdf_pages(
        encode_simple_pdf(
            ["caption", ""], images=[encode_jpeg(rgb, 90), ("flate", rgb)]
        )
    )
    assert [r["triage"] for r in rows] == ["hybrid", "empty"]
    assert rows[0]["image_filters"] == ["DCTDecode", "FlateDecode"]
    assert rows[0]["n_images"] == 2 and rows[1]["n_images"] == 0

    # predictor-coded content streams still tokenize (shared filters)
    rows = triage_pdf_pages(
        encode_simple_pdf(["pred body"], compress="flate-pred12")
    )
    assert [r["triage"] for r in rows] == ["text"]

    assert triage_pdf_pages(b"not a pdf") is None
    assert triage_pdf_pages(b"") is None
    assert triage_pdf_pages(b"%PDF-1.4\ngarbage with no tree") is None


def test_multimodal_pdf_triage_gate(spark):
    """multimodal_pdf_triage (rows-only in the driver) carries its
    exact gate HERE: every page's class matches the content-addressed
    expected shape (triage_ok all-true), all four classes and at least
    three distinct image filters appear, and no image decode ran (the
    kernel only tokenizes content streams)."""
    from knowledge_model_spark.plans import load_registry

    R = load_registry()
    rows = R["multimodal_pdf_triage"].fn(spark, "/root/testdata/sf0.01").collect()
    assert rows and all(r["triage_ok"] for r in rows)
    classes = {r["triage"] for r in rows}
    assert classes == {"text", "image_only", "hybrid", "empty"}
    filters = {f for r in rows if r["image_filters"] for f in r["image_filters"].split(",")}
    assert {"CCITTFaxDecode", "FlateDecode", "LZWDecode", "DCTDecode"} <= filters


def test_triage_inherits_parent_pages_resources():
    """r10 ADVICE: a scanned-PDF page whose /Resources lives on the
    parent /Pages node (the PDF-spec inheritable attribute) must still
    count its images and triage image_only — not silently classify as
    'empty' and dodge OCR routing."""
    import numpy as np

    from knowledge_model_spark.sources.pdf import (
        encode_simple_pdf,
        triage_pdf_pages,
    )

    gray = (np.mgrid[0:8, 0:12][0] * 31 % 256).astype(np.uint8)
    rgb = np.stack([gray] * 3, axis=2)
    pdf = encode_simple_pdf(["", "second page text"], images=[("flate", rgb)])

    # surgically hoist page 1's /Resources dict onto the parent /Pages
    # node (balanced << >> scan — the dict nests /Font and /XObject)
    start = pdf.index(b"/Resources")
    i = pdf.index(b"<<", start)
    depth, j = 0, i
    while True:
        if pdf[j : j + 2] == b"<<":
            depth, j = depth + 1, j + 2
        elif pdf[j : j + 2] == b">>":
            depth, j = depth - 1, j + 2
            if depth == 0:
                break
        else:
            j += 1
    res = pdf[start:j]
    assert b"/XObject" in res
    hoisted = pdf[:start] + pdf[j:]
    pages_at = hoisted.index(b"/Type /Pages")
    insert_at = hoisted.index(b">>", pages_at)
    hoisted = hoisted[:insert_at] + res + b" " + hoisted[insert_at:]

    rows = triage_pdf_pages(hoisted)
    assert rows is not None
    assert rows[0]["triage"] == "image_only"
    assert rows[0]["n_images"] == 1
    assert rows[0]["image_filters"] == ["FlateDecode"]
    # page 2 declares its OWN /Resources (font-only), which overrides
    # the inherited dict per the spec — so no phantom image appears
    assert rows[1]["has_text"] and rows[1]["triage"] == "text"
    assert rows[1]["n_images"] == 0

    # the un-hoisted original still triages page 1 from its own dict
    orig = triage_pdf_pages(pdf)
    assert orig[0]["triage"] == "image_only" and orig[0]["n_images"] == 1


# ------------------------------------------------------------- FLAC (r11)


def _flac_test_pcm(n=5000, seed=7):
    import numpy as np

    rng = np.random.RandomState(seed)
    t = np.arange(n) / 8000.0
    pcm = (np.sin(2 * np.pi * 220 * t) * 9000).astype(np.int16)
    if n >= 3072:
        pcm[1024:2048] = 777  # constant block
        pcm[2048:3072] = rng.randint(-32768, 32767, 1024).astype(np.int16)
    return pcm


def test_flac_mono_roundtrip_bit_exact():
    """encode_flac → decode_flac is bit-exact for mono 16-bit across the
    rotated subframe strategies (FIXED / VERBATIM / LPC / CONSTANT),
    partition orders, both Rice methods, and the forced escape frames;
    the dispatcher routes FLAC by magic."""
    import numpy as np

    from knowledge_model_spark.sources.flac import decode_flac, encode_flac
    from knowledge_model_spark.sources.multimodal import decode_audio_any

    pcm = _flac_test_pcm()
    b = encode_flac(pcm, 8000)
    assert b[:4] == b"fLaC"
    got, rate = decode_flac(b)
    assert rate == 8000
    assert np.array_equal(got, pcm.astype(np.float32) / 32768.0)
    via = decode_audio_any(b)
    assert via is not None and np.array_equal(via[0], got)


def test_flac_stereo_all_channel_assignments():
    """A stereo stream rotates independent, left/side, right/side, and
    mid/side frames; the exact integer reconstruction then mean-downmix
    must equal the downmix of the source (the WAV convention)."""
    import numpy as np

    from knowledge_model_spark.sources.flac import decode_flac, encode_flac

    pcm = _flac_test_pcm()
    st = np.stack([pcm, np.roll(pcm, 13)], axis=1).astype(np.int16)
    b = encode_flac(st, 44100)
    got, rate = decode_flac(b)
    assert rate == 44100
    want = (
        (st[:, 0].astype(np.float64) + st[:, 1]) / 2 / 32768.0
    ).astype(np.float32)
    assert np.array_equal(got, want)
    # enough frames that all four assignments occurred
    assert len(pcm) > 4 * 1024


def test_flac_wasted_bits_roundtrip():
    """Samples sharing trailing zero bits take the wasted-bits path
    (unary prefix, shifted residuals) and still round-trip exactly."""
    import numpy as np

    from knowledge_model_spark.sources.flac import decode_flac, encode_flac

    t = np.arange(3000) / 8000.0
    pcm = ((np.sin(2 * np.pi * 100 * t) * 4000).astype(np.int16) & ~3)
    b = encode_flac(pcm, 8000)
    got, _ = decode_flac(b)
    assert np.array_equal(got, pcm.astype(np.float32) / 32768.0)


def test_flac_refuses_corruption_and_unsupported():
    """refuse-never-misdecode: CRC damage, truncation, MD5 tampering,
    and out-of-subset STREAMINFO all return None — never wrong
    samples."""
    from knowledge_model_spark.sources.flac import decode_flac, encode_flac

    pcm = _flac_test_pcm(3000)
    b = encode_flac(pcm, 8000)
    assert decode_flac(b"\x00" + b[1:]) is None  # bad magic
    assert decode_flac(b[: len(b) // 2]) is None  # truncated mid-frame
    # flip one byte inside the first frame payload → CRC-16 mismatch
    frame_at = 4 + 4 + 34
    bad = bytearray(b)
    bad[frame_at + 20] ^= 0x40
    assert decode_flac(bytes(bad)) is None
    # tamper the STREAMINFO MD5 → full-stream verification fails
    bad2 = bytearray(b)
    bad2[4 + 4 + 18] ^= 0xFF
    assert decode_flac(bytes(bad2)) is None
    # out-of-subset bits-per-sample (32) in STREAMINFO → refused
    bad3 = bytearray(b)
    # bps-1 is 5 bits spanning the end of byte 12/start of byte 13 of
    # the STREAMINFO body; easiest honest check: declare rate 0
    bad3[4 + 4 + 10] = 0
    bad3[4 + 4 + 11] = 0
    bad3[4 + 4 + 12] &= 0x0F
    assert decode_flac(bytes(bad3)) is None


def test_flac_roundtrip_hypothesis():
    """Property: ANY int16 signal round-trips bit-exactly (mono and
    stereo), across block-size boundaries."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from knowledge_model_spark.sources.flac import decode_flac, encode_flac

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-32768, max_value=32767),
            min_size=1,
            max_size=2600,
        ),
        st.booleans(),
    )
    def check(vals, stereo):
        arr = np.asarray(vals, dtype=np.int16)
        if stereo:
            arr = np.stack([arr, arr[::-1]], axis=1)
            want = (
                (arr[:, 0].astype(np.float64) + arr[:, 1]) / 2 / 32768.0
            ).astype(np.float32)
        else:
            want = arr.astype(np.float32) / 32768.0
        got = decode_flac(encode_flac(arr, 16000))
        assert got is not None and got[1] == 16000
        assert np.array_equal(got[0], want)

    check()


def test_video_pipeline_fused_mux_demux_matches_two_stage(spark):
    """The r11 fused mux→demux kernel in multimodal_video_pipeline must
    emit EXACTLY the rows the two-stage composition (mux mapInPandas →
    sample_frames REAL) produced — same AVI bytes in, same shared
    sampling helper, so frame payloads are bit-identical."""
    import numpy as np

    from knowledge_model_spark.sources.multimodal import (
        encode_simple_avi,
        sample_avi_frames_real,
        sample_frames,
    )

    def _frames(mid):
        rng = np.random.RandomState(int(mid))
        return [rng.randint(0, 256, (8, 8, 3), np.uint8) for _ in range(4)]

    media_rows = []
    for mid in range(6):
        codec = "dib" if mid % 2 == 0 else "mjpg"
        media_rows.append(
            (mid, encode_simple_avi(_frames(mid), fps=2.0, codec=codec), 2000)
        )
    media = spark.createDataFrame(
        media_rows, "media_id long, payload binary, duration_ms long"
    )
    old = sorted(
        (
            (r["media_id"], r["frame_index"], r["frame_ts_ms"],
             bytes(r["frame_payload"]))
            for r in sample_frames(media, every_ms=500, decode="REAL").collect()
        )
    )
    fused = sorted(
        (mid, i, ts, ppm)
        for mid, payload, _ in media_rows
        for i, ts, ppm in sample_avi_frames_real(payload, every_ms=500)
    )
    assert old == fused and len(old) == 24
