"""Multimodal binary-column plumbing: schema, Arrow batching through
mapInPandas, deterministic fake decode pinned against a pure-Python
recomputation, and honest stubs for the absent codecs."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from sanctions_data_pipeline_spark.catalog import load_table
from sanctions_data_pipeline_spark.multimodal.ops import (
    DECODE_SCHEMA, _fake_decode, attach_media, decode_features,
    resize_images, sample_frames,
)


def test_attach_media_schema(spark, sf_dir):
    m = attach_media(load_table(spark, sf_dir, "documents"))
    d = dict(m.dtypes)
    assert d["media"] == "binary"
    assert d["media_type"] == "string"
    assert d["media_meta"].startswith("struct")


def test_decode_matches_python_recomputation(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    out = decode_features(attach_media(docs)).collect()
    assert len(out) == 50
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in out:
        buf = texts[r["doc_id"]].encode("utf-8")
        mtype = ("image", "audio", "video")[r["doc_id"] % 3]
        w, h, nf, feats = _fake_decode(mtype, buf)
        assert (r["media_type"], r["n_bytes"]) == (mtype, len(buf))
        assert (r["width"], r["height"], r["n_frames"]) == (w, h, nf)
        assert np.allclose(r["features"], feats)
        assert abs(sum(feats) - 1.0) < 1e-6  # normalized histogram


def test_decode_is_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    a = decode_features(attach_media(docs)).collect()
    b = decode_features(attach_media(docs.repartition(7))).collect()
    key = lambda r: r["doc_id"]
    assert sorted(map(tuple, a), key=lambda t: t[0]) == \
           sorted(map(tuple, b), key=lambda t: t[0])


def test_decode_plan_prunes_text_column(spark, sf_dir):
    """The projection under mapInPandas must not ship `text`/`media_meta`
    into Python — only (doc_id, media_type, media)."""
    plan = decode_features(attach_media(
        load_table(spark, sf_dir, "documents")))._jdf.queryExecution() \
        .optimizedPlan().toString()
    (head, _, below) = plan.partition("MapInPandas")
    assert "media_meta" not in below


def _has(mod: str) -> bool:
    try:
        __import__(mod)
        return True
    except ImportError:
        return False


@pytest.mark.skipif(_has("PIL"), reason="PIL present: real path active")
def test_real_image_path_without_pil_rejects_non_png(spark, sf_dir):
    """No PIL: the vendored PNG decoder is the real path, and a
    non-PNG payload fails loudly instead of decoding garbage."""
    m = attach_media(load_table(spark, sf_dir, "documents").limit(1))
    img = m.withColumn("media_type", F.lit("image"))
    with pytest.raises(Exception, match="PNG"):
        decode_features(img, use_real_codecs=True).collect()
    with pytest.raises(Exception, match="PNG"):
        resize_images(img, 64, 64, use_real_codecs=True).collect()


@pytest.mark.skipif(_has("av"), reason="pyav present: real path active")
def test_real_video_path_without_pyav_rejects_non_y4m(spark, sf_dir):
    m = attach_media(load_table(spark, sf_dir, "documents").limit(1))
    with pytest.raises(Exception, match="YUV4MPEG2"):
        sample_frames(m, every_n=10, use_real_codecs=True).collect()


def test_real_audio_decode_is_real_dsp(spark):
    """The real-codec AUDIO path needs no external codec (int16 PCM
    numpy DSP), so it runs everywhere: amplitude-octile histogram."""
    import numpy as np

    pcm = np.array([0, 100, -200, 5000, -32768, 32767, 9000, -12], "<i2")
    df = spark.createDataFrame([(1, "audio", bytearray(pcm.tobytes()))],
                               "doc_id long, media_type string, media binary")
    [r] = decode_features(df, use_real_codecs=True).collect()
    assert (r.width, r.height, r.n_frames) == (0, 0, 1)
    mag = np.minimum(np.abs(pcm.astype("int32")), 32767) >> 12
    want = (np.bincount(mag, minlength=8) / pcm.size).round(6)
    assert r.features == pytest.approx(list(want))


@pytest.mark.skipif(not _has("PIL"), reason="PIL not in this image")
def test_pil_decode_and_resize_parity(spark):
    """Where PIL exists the real path decodes actual image dimensions
    and the resized raster equals PIL's own output byte-for-byte."""
    from io import BytesIO

    import numpy as np
    from PIL import Image

    rng = np.random.default_rng(7)
    raster = rng.integers(0, 255, size=(40, 60, 3), dtype=np.uint8)
    buf = BytesIO()
    Image.fromarray(raster, "RGB").save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame([(1, "image", bytearray(png))],
                               "doc_id long, media_type string, media binary")
    [r] = decode_features(df, use_real_codecs=True).collect()
    assert (r.width, r.height, r.n_frames) == (60, 40, 1)
    [rz] = resize_images(df, 16, 8, use_real_codecs=True).collect()
    with Image.open(BytesIO(png)) as img:
        want = np.asarray(img.convert("L").resize((16, 8), Image.NEAREST),
                          dtype=np.uint8).tobytes()
    assert bytes(rz.media) == want and len(want) == 16 * 8


@pytest.mark.skipif(not _has("av"), reason="pyav not in this image")
def test_pyav_frame_sampling_parity(spark):
    from io import BytesIO

    import av
    import numpy as np

    buf = BytesIO()
    with av.open(buf, "w", format="mp4") as container:
        stream = container.add_stream("mpeg4", rate=10)
        stream.width, stream.height = 32, 24
        stream.pix_fmt = "yuv420p"
        for i in range(12):
            frame = av.VideoFrame.from_ndarray(
                np.full((24, 32, 3), i * 20, dtype=np.uint8), format="rgb24")
            for packet in stream.encode(frame):
                container.mux(packet)
        for packet in stream.encode():
            container.mux(packet)
    df = spark.createDataFrame([(1, "video", bytearray(buf.getvalue()))],
                               "doc_id long, media_type string, media binary")
    rows = sample_frames(df, every_n=5, use_real_codecs=True).collect()
    assert [r.frame_idx for r in rows] == [0, 5, 10]
    assert all(len(bytes(r.frame)) == 32 * 24 for r in rows)


def test_decode_schema_stable():
    assert [f.name for f in DECODE_SCHEMA] == [
        "doc_id", "media_type", "n_bytes", "width", "height", "n_frames",
        "features"]


def test_resize_fake_kernel_shapes(spark, sf_dir):
    m = attach_media(load_table(spark, sf_dir, "documents"))
    out = resize_images(m, 32, 8).collect()
    assert len(out) == m.count()
    for r in out:
        assert len(r.media) == 32 * 8
        assert (r.width, r.height) == (32, 8)
    # deterministic: same input -> same bytes
    again = {r.doc_id: r.media for r in resize_images(m, 32, 8).collect()}
    assert all(again[r.doc_id] == r.media for r in out)


def test_sample_frames_fan_out(spark, sf_dir):
    from sanctions_data_pipeline_spark.multimodal.ops import FAKE_FRAME_BYTES

    m = attach_media(load_table(spark, sf_dir, "documents"))
    out = sample_frames(m, every_n=2).collect()
    sizes = {r.doc_id: r.n for r in
             m.select("doc_id", F.octet_length("media").alias("n")).collect()}
    from collections import Counter
    per_doc = Counter(r.doc_id for r in out)
    for doc_id, nbytes in sizes.items():
        n_frames = max(1, -(-nbytes // FAKE_FRAME_BYTES))
        assert per_doc[doc_id] == -(-n_frames // 2)  # ceil(n_frames / every_n)
    for r in out:
        assert r.frame_idx % 2 == 0
        assert 0 < len(r.frame) <= FAKE_FRAME_BYTES


def test_window_audio_matches_numpy_recompute(spark):
    import numpy as np
    from sanctions_data_pipeline_spark.multimodal.ops import window_audio

    rng = np.random.default_rng(7)
    pcm = (rng.integers(-3000, 3000, size=1000)).astype("<i2")
    short = np.zeros(100, dtype="<i2")  # shorter than one window
    df = spark.createDataFrame(
        [(1, bytearray(pcm.tobytes())), (2, bytearray(short.tobytes()))],
        "doc_id long, media binary")
    rows = window_audio(df, frame_len=256, hop_len=128).collect()
    assert {r.doc_id for r in rows} == {1}  # short doc emits nothing
    n_wins = 1 + (1000 - 256) // 128
    assert len(rows) == n_wins
    for r in rows:
        w = pcm[r.win_idx * 128: r.win_idx * 128 + 256].astype("float64")
        assert abs(r.rms - round(float(np.sqrt((w * w).mean())), 6)) < 1e-9
        sb = np.signbit(w)
        assert r.zero_crossings == int((sb[1:] != sb[:-1]).sum())


def test_mm_audio_windows_rollup_is_deterministic(spark, sf_dir):
    from sanctions_data_pipeline_spark.plans import registry
    q = registry.queries()["mm_audio_windows"]
    a = {(r.doc_id, r.n_windows, r.max_rms, r.total_zc)
         for r in q(spark, sf_dir).collect()}
    b = {(r.doc_id, r.n_windows, r.max_rms, r.total_zc)
         for r in q(spark, sf_dir).collect()}
    assert a == b and a


def test_binary_file_source_reads_media_bytes(spark, tmp_path):
    """binaryFile is the real ingest path attach_media stands in for:
    (path, modificationTime, length, content) rows with the exact file
    bytes, filterable by glob before any byte is read."""
    payload = bytes(range(256))
    (tmp_path / "a.bin").write_bytes(payload)
    (tmp_path / "b.txt").write_bytes(b"not media")
    df = (spark.read.format("binaryFile")
          .option("pathGlobFilter", "*.bin").load(str(tmp_path)))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].length == 256 and bytes(rows[0].content) == payload


# ---------------------------------------------------------------------------
# vendored codecs: real PNG / WAV / Y4M paths run IN THIS IMAGE
# ---------------------------------------------------------------------------

def _png_all_filters(w=6, h=5):
    """Hand-assemble an RGB PNG exercising scanline filters 0..4, plus
    the reference raster it must decode to (independent unfilter)."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
    raw = bytearray()
    prev = np.zeros(w * 3, dtype=np.int32)
    for y in range(h):
        line = px[y].ravel().astype(np.int32)
        f = y % 5
        raw.append(f)
        out = np.zeros(w * 3, dtype=np.int32)
        for i in range(w * 3):
            left = line[i - 3] if i >= 3 else 0
            up = prev[i]
            ul = prev[i - 3] if i >= 3 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
            out[i] = (line[i] - pred) & 0xFF
        raw.extend(int(v) for v in out)
        prev = line
    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + \
            struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = sig + chunk(b"IHDR", ihdr) + \
        chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    luma = ((px[:, :, 0].astype(np.uint32) * 299
             + px[:, :, 1].astype(np.uint32) * 587
             + px[:, :, 2].astype(np.uint32) * 114) // 1000).astype(np.uint8)
    return png, luma


def test_vendored_png_decodes_all_filters():
    from sanctions_data_pipeline_spark.multimodal import codecs

    png, want = _png_all_filters()
    w, h, gray = codecs.decode_png(png)
    assert (w, h) == (6, 5)
    assert (gray == want).all()


def test_vendored_png_roundtrip():
    import numpy as np

    from sanctions_data_pipeline_spark.multimodal import codecs

    a = np.arange(64, dtype=np.uint8).reshape(8, 8) * 3
    w, h, back = codecs.decode_png(codecs.encode_png_gray(a))
    assert (w, h) == (8, 8) and (back == a).all()


def test_real_png_decode_through_spark(spark):
    """decode_features(use_real_codecs=True) on real PNG bytes — runs
    here with NO optional libs: vendored zlib decoder."""
    import numpy as np

    from sanctions_data_pipeline_spark.multimodal import codecs

    a = np.tile(np.arange(32, dtype=np.uint8) * 8, (16, 1))
    df = spark.createDataFrame(
        [(1, "image", bytearray(codecs.encode_png_gray(a)))],
        "doc_id long, media_type string, media binary")
    [r] = decode_features(df, use_real_codecs=True).collect()
    assert (r.width, r.height, r.n_frames) == (32, 16, 1)
    hist = np.bincount(a.ravel() >> 5, minlength=8) / a.size
    assert r.features == pytest.approx(list(hist.round(6)))


def test_real_png_resize_through_spark(spark):
    import numpy as np

    from sanctions_data_pipeline_spark.multimodal import codecs

    a = np.arange(256, dtype=np.uint8).reshape(16, 16)
    df = spark.createDataFrame(
        [(1, bytearray(codecs.encode_png_gray(a)))],
        "doc_id long, media binary")
    [r] = resize_images(df, 4, 4, use_real_codecs=True).collect()
    ys = (np.arange(4) * 16) // 4
    want = a[np.ix_(ys, ys)].tobytes()
    assert bytes(r.media) == want and (r.width, r.height) == (4, 4)


def test_real_wav_decode_through_spark(spark):
    """WAV container (written by stdlib wave) -> RIFF walk -> PCM DSP."""
    import io
    import wave

    import numpy as np

    pcm = np.array([0, 1000, -2000, 32767, -32768, 512], "<i2")
    bio = io.BytesIO()
    with wave.open(bio, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(pcm.tobytes())
    df = spark.createDataFrame(
        [(1, "audio", bytearray(bio.getvalue()))],
        "doc_id long, media_type string, media binary")
    [r] = decode_features(df, use_real_codecs=True).collect()
    mag = np.minimum(np.abs(pcm.astype("int32")), 32767) >> 12
    want = (np.bincount(mag, minlength=8) / pcm.size).round(6)
    assert r.features == pytest.approx(list(want))


def test_real_y4m_frames_through_spark(spark):
    import numpy as np

    from sanctions_data_pipeline_spark.multimodal import codecs

    frames = [np.full((4, 6), 10 * i, dtype=np.uint8) for i in range(5)]
    buf = codecs.encode_y4m(frames)
    df = spark.createDataFrame(
        [(7, "video", bytearray(buf))],
        "doc_id long, media_type string, media binary")
    # decode: dims + frame count from the container walk
    [d] = decode_features(df, use_real_codecs=True).collect()
    assert (d.width, d.height, d.n_frames) == (6, 4, 5)
    # sampling: every 2nd frame, exact luma planes
    rows = sorted(sample_frames(df, every_n=2, use_real_codecs=True).collect(),
                  key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in rows] == [0, 2, 4]
    for r, i in zip(rows, (0, 2, 4)):
        assert bytes(r.frame) == frames[i].tobytes()


def test_wav_multichannel_takes_first_channel():
    import io
    import wave

    import numpy as np

    from sanctions_data_pipeline_spark.multimodal import codecs

    stereo = np.array([[1, -1], [2, -2], [3, -3]], "<i2")
    bio = io.BytesIO()
    with wave.open(bio, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(stereo.tobytes())
    rate, mono = codecs.decode_wav_pcm(bio.getvalue())
    assert rate == 8000 and mono.tolist() == [1, 2, 3]


def test_mm_phash_pairs_exact_dups_and_replays(spark, sf_dir):
    import numpy as np

    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.multimodal import codecs
    from sanctions_data_pipeline_spark.plans import registry

    pairs = {(r.i, r.j): r.hamming for r in
             registry.queries()["mm_phash"](spark, sf_dir).collect()}
    assert pairs  # synthetic corpus contains near-dups

    docs = {r.doc_id: r.text
            for r in load_table(spark, sf_dir, "documents").collect()}

    def ahash(text: str) -> int:
        raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
        a = np.resize(raw, (64, 64))
        _w, _h, gray = codecs.decode_png(codecs.encode_png_gray(a))
        blocks = gray.astype("float64").reshape(8, 8, 8, 8).mean(axis=(1, 3))
        ph = 0
        for b in (blocks > blocks.mean()).ravel():
            ph = (ph << 1) | int(b)
        return ph - (1 << 64) if ph >= 1 << 63 else ph

    # python replay agrees on every reported pair's hamming
    for (i, j), h in pairs.items():
        assert bin(ahash(docs[i]) ^ ahash(docs[j])).count("1") == h
    # exact text duplicates must surface as hamming-0 pairs
    by_text: dict = {}
    for d, t in docs.items():
        by_text.setdefault(t, []).append(d)
    for ds in by_text.values():
        for a_, b_ in zip(sorted(ds), sorted(ds)[1:]):
            assert pairs.get((a_, b_)) == 0, (a_, b_)


def test_mm_spectral_matches_numpy_replay(spark, sf_dir):
    """Exact-value pin: the whole FFT chain recomputed independently
    from the same PCM interpretation must match every emitted row."""
    import numpy as np

    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.plans import registry

    from sanctions_data_pipeline_spark.plans.multimodal import (
        mm_spectral_full)

    rows = mm_spectral_full(spark, sf_dir).collect()
    got = {r.doc_id: (r.n_windows, r.dominant_bin, r.spectral_centroid,
                      r.spectral_bandwidth)
           for r in rows}
    # the round-10 oracle lanes hold on every row: exact time-domain
    # energy + the Parseval identity of the rFFT
    assert all(r.parseval_ok and r.window_energy > 0 for r in rows)
    docs = load_table(spark, sf_dir, "documents").collect()
    frame_len, hop = 256, 128
    expect = {}
    for d in docs:
        buf = d.text.encode("utf-8")
        usable = (len(buf) // 2) * 2
        pcm = np.frombuffer(buf[:usable], dtype="<i2")
        if pcm.size < frame_len:
            continue
        n_wins = 1 + (pcm.size - frame_len) // hop
        idx = (np.arange(n_wins)[:, None] * hop
               + np.arange(frame_len)[None, :])
        wins = pcm[idx].astype("float64")
        spec = np.abs(np.fft.rfft(wins, axis=1)).mean(axis=0)
        freqs = np.arange(spec.size, dtype="float64")
        tot = spec.sum()
        centroid = float((freqs * spec).sum() / tot) if tot else 0.0
        bw = (float(np.sqrt((((freqs - centroid) ** 2) * spec).sum() / tot))
              if tot else 0.0)
        expect[d.doc_id] = (n_wins, int(spec.argmax()),
                            round(centroid, 6), round(bw, 6))
    assert got == expect
    assert got, "no doc long enough for a spectral window"
    # physical sanity: centroid within the rFFT bin range, bandwidth >= 0
    for n, dom, c, b in got.values():
        assert 0 <= dom <= frame_len // 2
        assert 0.0 <= c <= frame_len // 2 and b >= 0.0


def test_mm_luma_hist_replay(spark, sf_dir):
    """Pure-python PNG-path replay of the luminance histogram."""
    import math

    import numpy as np

    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.multimodal import codecs
    from sanctions_data_pipeline_spark.plans import registry

    got = {r.doc_id: r for r in
           registry.queries()["mm_luma_hist"](spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").filter(
        "length(text) > 0").collect()
    assert len(got) == len(docs)
    for d in docs:
        raw = np.frombuffer(d.text.encode("utf-8"), dtype=np.uint8)
        a = np.resize(raw, (64, 64))
        _w, _h, gray = codecs.decode_png(codecs.encode_png_gray(a))
        hist = np.bincount(gray.ravel() >> 4, minlength=16)
        p = hist / hist.sum()
        ent = float(-(p[p > 0] * np.log(p[p > 0])).sum()) / math.log(16.0)
        r = got[d.doc_id]
        got_hist = [int(x) for x in r.hist16_csv.split(",")]
        assert got_hist == [int(x) for x in hist]
        assert abs(r.mean_luma - float(gray.mean())) < 1e-5
        assert abs(r.hist_entropy - ent) < 1e-5
        assert sum(got_hist) == 64 * 64
