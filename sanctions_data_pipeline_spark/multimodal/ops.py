"""Multimodal binary-column plumbing: opaque ``binary`` media columns
with typed metadata, decoded / feature-extracted via Arrow-batched
``mapInPandas``.

The Spark-side machinery — schema, partition-parallel batching, UDF
signatures, column pruning before the Python hop — is real and tested.
The image/video codecs are feature-detected at runtime:

- :func:`decode_features`, :func:`resize_images` and
  :func:`sample_frames` run **deterministic fake kernels** (pure
  numpy/bytes math) by default so the full plumbing — projection
  pruning, Arrow batching, binary outputs, 1→many frame fan-out —
  executes for real everywhere and tests pin exact outputs.
- Their ``use_real_codecs=True`` paths are REAL implementations:
  PIL (any image format) with a vendored spec-conformant PNG decoder
  (stdlib zlib, :mod:`.codecs`) as the no-PIL path; RIFF/WAVE parsing
  + int16-PCM numpy DSP for audio; pyav (any container) with a
  vendored YUV4MPEG2 (.y4m) walk as the no-pyav path. The vendored
  formats make the real paths executable in THIS image — PNG/WAV/Y4M
  fixtures decode for real here (tests pin exact rasters); PIL/pyav
  widen coverage to compressed formats wherever they import. Only a
  non-PNG image or non-Y4M video without the optional libs raises
  ``NotImplementedError`` naming the missing codec.

Scale notes: media bytes never leave the executor JVM except through
Arrow record batches (zero-copy to pandas); per-row Python calls are
amortized over ``spark.sql.execution.arrow.maxRecordsPerBatch``-sized
batches; projections below the ``mapInPandas`` prune to exactly the
columns the decoder needs, so a 100 TB scan doesn't ship text columns
into Python alongside the media.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_TYPES = ("image", "audio", "video")

DECODE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("features", T.ArrayType(T.DoubleType())),
])


def attach_media(docs: DataFrame) -> DataFrame:
    """Synthesize an opaque media column on the documents table.

    Deployments read real bytes via ``spark.read.format("binaryFile")``
    (path, modificationTime, length, content) — this helper stands in
    for that source on the synthetic testdata: payload = utf-8 bytes of
    the text, media_type assigned round-robin by doc_id, plus the typed
    metadata struct a binaryFile-style source carries.
    """
    mt = F.element_at(
        F.array(*[F.lit(m) for m in MEDIA_TYPES]),
        (F.col("doc_id") % len(MEDIA_TYPES) + 1).cast("int"))
    return docs.select(
        "doc_id",
        mt.alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("media"),
        F.struct(
            F.col("source").alias("origin"),
            F.octet_length(F.col("text")).cast("long").alias("declared_len"),
        ).alias("media_meta"),
    )


def _fake_decode(media_type: str, buf) -> tuple[int, int, int, list[float]]:
    """Deterministic stand-in for the codec: derives (width, height,
    n_frames, features) purely from the byte content. STUB — replace
    with PIL/librosa/pyav when the codecs exist in the image."""
    import numpy as np

    a = np.frombuffer(buf, dtype=np.uint8)
    n = int(a.size)
    s = int(a.sum())
    width = 16 + (s + n) % 240
    height = 16 + (s * 7 + 3) % 240
    n_frames = 1 + s % 30 if media_type == "video" else 1
    hist = np.bincount(a >> 5, minlength=8).astype("float64")
    # portable 6dp rounding (floor(x*1e6+0.5)): same IEEE tree as the
    # DuckDB oracle's FLOOR form; np.round's half-to-even has no twin
    feats = np.floor(hist / max(n, 1) * 1e6 + 0.5) / 1e6
    return width, height, n_frames, feats.tolist()


def _real_decode(media_type: str, buf) -> tuple[int, int, int, list[float]]:
    """Real per-type decode: PIL for images, int16-PCM DSP for audio,
    pyav for video. Raises NotImplementedError naming the missing codec
    — callers feature-detect by catching it."""
    import numpy as np

    from sanctions_data_pipeline_spark.multimodal import codecs

    if media_type == "image":
        try:
            from io import BytesIO

            from PIL import Image
        except ImportError:
            # vendored spec-conformant PNG decoder (stdlib zlib) — the
            # real path wherever PIL is absent
            w, h, gray = codecs.decode_png(buf)
            a = gray.ravel()
            hist = np.bincount(a >> 5, minlength=8).astype("float64")
            return w, h, 1, (hist / max(a.size, 1)).round(6).tolist()
        with Image.open(BytesIO(bytes(buf))) as img:
            w, h = img.size
            nf = int(getattr(img, "n_frames", 1))
            a = np.asarray(img.convert("L"), dtype=np.uint8).ravel()
        hist = np.bincount(a >> 5, minlength=8).astype("float64")
        return w, h, nf, (hist / max(a.size, 1)).round(6).tolist()
    if media_type == "audio":
        # WAV container via the vendored RIFF walk; else raw int16
        # mono PCM. Real DSP either way: amplitude-octile histogram.
        if codecs.sniff(bytes(buf[:16])) == "wav":
            _rate, pcm = codecs.decode_wav_pcm(buf)
        else:
            usable = (len(buf) // 2) * 2
            pcm = np.frombuffer(bytes(buf)[:usable], dtype="<i2")
        if pcm.size == 0:
            return 0, 0, 1, [0.0] * 8
        mag = np.minimum(np.abs(pcm.astype("int32")), 32767) >> 12  # 8 octiles
        hist = np.bincount(mag, minlength=8).astype("float64")
        return 0, 0, 1, (hist / pcm.size).round(6).tolist()
    if codecs.sniff(bytes(buf[:16])) == "y4m":
        # vendored YUV4MPEG2 parse — real uncompressed-video path
        w, h, offsets = codecs.parse_y4m(buf)
        return w, h, len(offsets), [float(len(offsets)), float(w), float(h),
                                    0.0, 0.0, 0.0, 0.0, 0.0]
    try:
        from io import BytesIO

        import av
    except ImportError as exc:
        raise NotImplementedError("video decode needs pyav") from exc
    with av.open(BytesIO(bytes(buf))) as container:
        stream = container.streams.video[0]
        w, h = stream.codec_context.width, stream.codec_context.height
        nf = sum(1 for _ in container.decode(video=0))
    return w, h, nf, [float(nf), float(w), float(h), 0.0, 0.0, 0.0, 0.0, 0.0]


def decode_features(media_df: DataFrame, use_real_codecs: bool = False) -> DataFrame:
    """Decode media bytes → dimensions + an 8-dim feature vector,
    executed as Arrow-batched ``mapInPandas``.

    ``use_real_codecs=True`` selects the real per-type decoders
    (:func:`_real_decode`: PIL / PCM DSP / pyav); the default is the
    deterministic byte kernel, identical plumbing, pinned by tests.
    """
    kernel = _real_decode if use_real_codecs else _fake_decode

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, mtype, buf in zip(pdf["doc_id"], pdf["media_type"],
                                          pdf["media"]):
                w, h, nf, feats = kernel(mtype, buf)
                rows.append((doc_id, mtype, len(buf), w, h, nf, feats))
            yield pd.DataFrame(rows, columns=[f.name for f in DECODE_SCHEMA])

    # prune to decoder inputs BEFORE the Python hop (checked in tests)
    return media_df.select("doc_id", "media_type", "media") \
                   .mapInPandas(decode, DECODE_SCHEMA)


RESIZE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media", T.BinaryType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])


def resize_images(media_df: DataFrame, width: int, height: int,
                  use_real_codecs: bool = False) -> DataFrame:
    """Resize image payloads to (width, height), as Arrow-batched
    ``mapInPandas``.

    The fake kernel (default) is a deterministic nearest-neighbor byte
    resample — every output payload is exactly ``width*height`` bytes
    drawn from the input buffer — so the full plumbing (projection
    pruning, Arrow batching, binary-out schema) runs and is pinned by
    tests. ``use_real_codecs=True`` decodes with PIL and emits the
    resized grayscale raster (same ``width*height``-byte invariant);
    it raises NotImplementedError where PIL is absent.
    """
    if use_real_codecs:
        try:
            from PIL import Image  # noqa: F401
        except ImportError:
            # vendored real path: spec-conformant PNG decode (stdlib
            # zlib) + numpy nearest-neighbor raster resample
            def _resize_png(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
                import numpy as np
                import pandas as pd

                from sanctions_data_pipeline_spark.multimodal import codecs

                for pdf in batches:
                    rows = []
                    for doc_id, buf in zip(pdf["doc_id"], pdf["media"]):
                        sw, sh, gray = codecs.decode_png(buf)
                        ys = (np.arange(height, dtype=np.int64) * sh) // height
                        xs = (np.arange(width, dtype=np.int64) * sw) // width
                        out = gray[np.ix_(ys, xs)].astype(np.uint8).tobytes()
                        rows.append((doc_id, out, width, height))
                    yield pd.DataFrame(rows,
                                       columns=[f.name for f in RESIZE_SCHEMA])

            return media_df.select("doc_id", "media").mapInPandas(
                _resize_png, RESIZE_SCHEMA)

        def _resize_real(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
            from io import BytesIO

            import numpy as np
            import pandas as pd

            from PIL import Image

            for pdf in batches:
                rows = []
                for doc_id, buf in zip(pdf["doc_id"], pdf["media"]):
                    with Image.open(BytesIO(bytes(buf))) as img:
                        small = img.convert("L").resize(
                            (width, height), Image.NEAREST)
                        out = np.asarray(small, dtype=np.uint8).tobytes()
                    rows.append((doc_id, out, width, height))
                yield pd.DataFrame(rows,
                                   columns=[f.name for f in RESIZE_SCHEMA])

        return media_df.select("doc_id", "media").mapInPandas(
            _resize_real, RESIZE_SCHEMA)

    def _resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        m = width * height
        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["media"]):
                a = np.frombuffer(buf, dtype=np.uint8)
                if a.size == 0:
                    out = np.zeros(m, dtype=np.uint8)
                else:
                    idx = (np.arange(m, dtype=np.int64) * a.size) // m
                    out = a[idx]
                rows.append((doc_id, out.tobytes(), width, height))
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZE_SCHEMA])

    return media_df.select("doc_id", "media").mapInPandas(_resize, RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame", T.BinaryType()),
])


FAKE_FRAME_BYTES = 256


def sample_frames(media_df: DataFrame, every_n: int = 30,
                  use_real_codecs: bool = False) -> DataFrame:
    """Sample every Nth video frame, as Arrow-batched ``mapInPandas``
    with 1→many row fan-out (one output row per sampled frame).

    The fake kernel (default) treats the payload as fixed-size
    ``FAKE_FRAME_BYTES`` chunks and emits chunks 0, N, 2N, … — so the
    genuinely tricky plumbing (a mapInPandas that EXPLODES rows, frame
    indices, binary frame payloads) runs for real and is pinned by
    tests. ``use_real_codecs=True`` iterates real container frames with
    pyav, emitting every Nth frame as a grayscale raster; it raises
    NotImplementedError where pyav is absent.
    """
    if use_real_codecs:
        try:
            import av  # noqa: F401
        except ImportError:
            # vendored real path: YUV4MPEG2 (.y4m) container walk —
            # every Nth luma plane, 1→many fan-out intact
            def _sample_y4m(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
                import pandas as pd

                from sanctions_data_pipeline_spark.multimodal import codecs

                for pdf in batches:
                    rows = []
                    for doc_id, buf in zip(pdf["doc_id"], pdf["media"]):
                        w, h, offsets = codecs.parse_y4m(buf)
                        for fi in range(0, len(offsets), every_n):
                            rows.append((doc_id, fi,
                                         codecs.y4m_luma(buf, offsets[fi],
                                                         w, h).tobytes()))
                    yield pd.DataFrame(rows,
                                       columns=[f.name for f in FRAME_SCHEMA])

            return media_df.select("doc_id", "media").mapInPandas(
                _sample_y4m, FRAME_SCHEMA)

        def _sample_real(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
            from io import BytesIO

            import av
            import pandas as pd

            for pdf in batches:
                rows = []
                for doc_id, buf in zip(pdf["doc_id"], pdf["media"]):
                    with av.open(BytesIO(bytes(buf))) as container:
                        for fi, frame in enumerate(container.decode(video=0)):
                            if fi % every_n == 0:
                                rows.append((doc_id, fi,
                                             frame.to_ndarray(format="gray")
                                                  .tobytes()))
                yield pd.DataFrame(rows,
                                   columns=[f.name for f in FRAME_SCHEMA])

        return media_df.select("doc_id", "media").mapInPandas(
            _sample_real, FRAME_SCHEMA)

    def _sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["media"]):
                n_frames = max(1, -(-len(buf) // FAKE_FRAME_BYTES))
                for fi in range(0, n_frames, every_n):
                    rows.append((doc_id, fi,
                                 bytes(buf[fi * FAKE_FRAME_BYTES:
                                           (fi + 1) * FAKE_FRAME_BYTES])))
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA])

    return media_df.select("doc_id", "media").mapInPandas(_sample, FRAME_SCHEMA)


AUDIO_WINDOW_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("win_idx", T.IntegerType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zero_crossings", T.IntegerType()),
])


def window_audio(media_df: DataFrame, frame_len: int = 256,
                 hop_len: int = 128) -> DataFrame:
    """Frame audio payloads into overlapping windows and extract RMS
    energy + zero-crossing counts per window, as Arrow-batched
    ``mapInPandas`` with 1→many fan-out.

    Unlike the image/video kernels this needs NO codec: payloads are
    interpreted as int16 mono PCM (the layout a real ingest would
    produce), so the whole operator — windowing via numpy stride
    tricks, per-window vectorized features, row explosion — is real
    signal processing, not a stand-in. Only full windows are emitted;
    docs shorter than one window produce no rows.

    Scale: same profile as the other media ops — bytes cross into
    Python once per Arrow batch, the projection below the hop prunes
    to (doc_id, media), and output rows are ~32 bytes of features, so
    the fan-out SHRINKS data volume ~8x rather than growing it.
    """

    def _win(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["media"]):
                usable = (len(buf) // 2) * 2
                pcm = np.frombuffer(buf[:usable], dtype="<i2")
                if pcm.size < frame_len:
                    continue
                n_wins = 1 + (pcm.size - frame_len) // hop_len
                idx = (np.arange(n_wins)[:, None] * hop_len
                       + np.arange(frame_len)[None, :])
                wins = pcm[idx].astype("float64")
                # sums of int16 squares stay exact in float64 (<= 2^38),
                # so the mean/sqrt tree is order-independent; portable
                # floor-rounding matches the DuckDB oracle's FLOOR form
                rms = np.floor(np.sqrt((wins * wins).mean(axis=1))
                               * 1e6 + 0.5) / 1e6
                signs = np.signbit(wins)
                zcr = (signs[:, 1:] != signs[:, :-1]).sum(axis=1)
                rows.extend(
                    (doc_id, int(w), frame_len, float(rms[w]), int(zcr[w]))
                    for w in range(n_wins))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              AUDIO_WINDOW_SCHEMA])

    return media_df.select("doc_id", "media").mapInPandas(
        _win, AUDIO_WINDOW_SCHEMA)


def spectral_features(media_df: DataFrame, frame_len: int = 256,
                      hop_len: int = 128) -> DataFrame:
    """Per-doc FFT spectral profile of the int16-PCM interpretation:
    windows (same framing as :func:`window_audio`) -> rFFT magnitude ->
    mean spectrum -> dominant bin, spectral centroid and bandwidth (the
    classic audio-featurization step before mel filterbanks). Pure
    vectorized numpy per Arrow batch; numpy's pocketfft is
    deterministic for a fixed input, so tests pin exact values against
    an independent recomputation.

    Scale: identical movement profile to window_audio — bytes cross
    into Python once, output is 4 numbers per doc.
    """

    def _spec(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["media"]):
                usable = (len(buf) // 2) * 2
                pcm = np.frombuffer(buf[:usable], dtype="<i2")
                if pcm.size < frame_len:
                    continue
                n_wins = 1 + (pcm.size - frame_len) // hop_len
                idx = (np.arange(n_wins)[:, None] * hop_len
                       + np.arange(frame_len)[None, :])
                wins = pcm[idx].astype("float64")
                mag = np.abs(np.fft.rfft(wins, axis=1))
                spec = mag.mean(axis=0)          # mean spectrum over windows
                freqs = np.arange(spec.size, dtype="float64")
                tot = spec.sum()
                centroid = float((freqs * spec).sum() / tot) if tot else 0.0
                bw = (float(np.sqrt((((freqs - centroid) ** 2) * spec).sum()
                                    / tot)) if tot else 0.0)
                # exact time-domain window energy (int16² ≤ 2^30, so the
                # int64 sum is exact) + the Parseval check of the FFT:
                # Σ_k c_k·|X_k|² / N == Σ_n x_n² per window, c_k = 2 for
                # conjugate-symmetric bins, 1 for DC/Nyquist — a wrong
                # transform length, dtype or scaling breaks the identity
                energy = int((pcm[idx].astype("int64") ** 2).sum())
                c = np.full(mag.shape[1], 2.0)
                c[0] = 1.0
                if frame_len % 2 == 0:
                    c[-1] = 1.0
                fft_energy = float(((mag * mag) * c).sum() / frame_len)
                parseval_ok = bool(
                    abs(fft_energy - energy) <= 1e-6 * max(energy, 1))
                rows.append((doc_id, n_wins, energy, parseval_ok,
                             int(spec.argmax()),
                             round(centroid, 6), round(bw, 6)))
            yield pd.DataFrame(rows, columns=["doc_id", "n_windows",
                                              "window_energy", "parseval_ok",
                                              "dominant_bin",
                                              "spectral_centroid",
                                              "spectral_bandwidth"])

    return media_df.select("doc_id", "media").mapInPandas(
        _spec, schema="doc_id long, n_windows long, window_energy long, "
                      "parseval_ok boolean, dominant_bin int, "
                      "spectral_centroid double, spectral_bandwidth double")
