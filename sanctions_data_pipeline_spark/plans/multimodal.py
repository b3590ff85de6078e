"""Multimodal suite (SURVEY.md §2): binary media columns decoded via
Arrow-batched mapInPandas.

mm_decode gained a SQL oracle in round 8: the deterministic byte
kernel is pure integer math over the utf-8 payload plus two
portably-rounded ratios, and DuckDB CAN explode blob bytes
(hex(encode(text)) -> per-position '0x..'::BIGINT), so the whole fake
codec replays cross-engine. The remaining mm_ ops stay rows-only
(PNG/FFT/PCM float kernels have no SQL twin); determinism and exact
values are pinned by ``tests/test_multimodal.py`` against pure-Python
recomputations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sanctions_data_pipeline_spark.catalog import load_table
from sanctions_data_pipeline_spark.multimodal.ops import attach_media, decode_features
from sanctions_data_pipeline_spark.plans.helpers import persist, pround6
from sanctions_data_pipeline_spark.plans.registry import register

_R6 = "FLOOR(({x}) * 1000000 + 0.5) / 1000000.0"

_DECODE_ORACLE = f"""
WITH b AS (
  SELECT doc_id,
         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1]
           AS media_type,
         hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
),
by AS (
  SELECT doc_id,
         ('0x' || substring(hx, CAST(2 * i - 1 AS INT), 2))::BIGINT AS v
  FROM b, unnest(range(1, n + 1)) u(i)
),
a AS (
  SELECT doc_id, CAST(SUM(v) AS BIGINT) AS s,
         {", ".join(
             f"CAST(SUM(CASE WHEN v // 32 = {k} THEN 1 ELSE 0 END) AS BIGINT)"
             f" AS h{k}" for k in range(8))}
  FROM by GROUP BY doc_id
),
r AS (
  SELECT b.doc_id, b.media_type, b.n,
         coalesce(a.s, 0) AS s,
         {", ".join(
             _R6.format(x=f"coalesce(a.h{k}, 0) * 1.0 /"
                          f" (CASE WHEN b.n = 0 THEN 1 ELSE b.n END)")
             + f" AS r{k}" for k in range(8))}
  FROM b LEFT JOIN a USING (doc_id)
)
SELECT doc_id, media_type, n AS n_bytes,
       CAST(16 + (s + n) % 240 AS INT) AS width,
       CAST(16 + (s * 7 + 3) % 240 AS INT) AS height,
       CAST(CASE WHEN media_type = 'video' THEN 1 + s % 30 ELSE 1 END
            AS INT) AS n_frames,
       r0 AS feat0,
       {_R6.format(x="0.0 + r0 + r1 + r2 + r3 + r4 + r5 + r6 + r7")}
         AS feat_sum
FROM r
"""


@register("mm_decode", headline=True, oracle=_DECODE_ORACLE)
def mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = decode_features(attach_media(docs))
    return feats.select(
        "doc_id", "media_type", "n_bytes", "width", "height", "n_frames",
        pround6(F.element_at("features", 1)).alias("feat0"),
        pround6(F.aggregate("features", F.lit(0.0), lambda a, x: a + x))
        .alias("feat_sum"),
    )


_RESIZE_ORACLE = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
)
SELECT doc_id, CAST(32 AS INT) AS width, CAST(8 AS INT) AS height,
       md5(CASE WHEN n = 0 THEN repeat('00', 256)
                ELSE array_to_string(list_transform(range(0, 256),
                       j -> substring(hx, CAST(2 * ((j * n) // 256) + 1
                                           AS INT), 2)), '')
           END) AS payload_md5
FROM b
"""


@register("mm_resize", oracle=_RESIZE_ORACLE)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: deterministic nearest-neighbor byte
    resample inside the real mapInPandas pipeline; emits sizes + a
    payload digest. Oracle (round 8): output byte j of the 32x8 fake
    resample is input byte (j*n)//256, so DuckDB rebuilds the exact
    payload from hex pairs; the digest crosses as md5(hex(bytes))
    (DuckDB md5 is VARCHAR-only)."""
    from sanctions_data_pipeline_spark.multimodal.ops import resize_images

    docs = load_table(spark, sf_dir, "documents")
    out = resize_images(attach_media(docs), 32, 8)
    return out.select("doc_id", "width", "height",
                      F.md5(F.hex(F.col("media"))).alias("payload_md5"))


# DuckDB cannot md5 a BLOB (VARCHAR only), so binary digests cross the
# oracle as md5-of-HEX — same bytes, hex-encoded identically (uppercase
# pairs) by Spark's hex() and DuckDB's hex().
_FRAMES_ORACLE = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
)
SELECT doc_id,
       CAST((greatest(1, (n + 255) // 256) + 1) // 2 AS BIGINT)
         AS n_frames_sampled,
       md5(substring(hx, 1, CAST(2 * least(256, n) AS INT)))
         AS first_frame_md5
FROM b
"""


@register("mm_frames", oracle=_FRAMES_ORACLE)
def mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: 1→many mapInPandas fan-out;
    emits per-doc sampled-frame counts + a digest of the first frame.
    Oracle (round 8): the fake kernel chunks the utf-8 payload into
    256-byte frames and samples every 2nd, so the per-doc count is
    closed-form from octet_length and the first frame is the payload's
    leading bytes — digested as md5(hex(bytes)) on both engines."""
    from sanctions_data_pipeline_spark.multimodal.ops import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_media(docs), every_n=2)
    return (frames.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_frames_sampled"),
                 F.md5(F.hex(F.min_by("frame", F.col("frame_idx"))))
                 .alias("first_frame_md5")))


_AUDIO_ORACLE = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
),
s AS (
  SELECT doc_id, k,
         CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS smp
  FROM (
    SELECT doc_id, u.k,
           ('0x' || substring(hx, CAST(4 * u.k + 1 AS INT), 2))::BIGINT
           + 256 * ('0x' || substring(hx, CAST(4 * u.k + 3 AS INT), 2))::BIGINT
             AS v
    FROM b, unnest(range(0, n // 2)) u(k)
  )
),
g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ns FROM s GROUP BY doc_id),
w AS (
  SELECT g.doc_id, CAST(u.w AS BIGINT) AS w
  FROM g, unnest(range(0, CASE WHEN ns >= 256
                               THEN 1 + (ns - 256) // 128 ELSE 0 END)) u(w)
),
f AS (
  SELECT w.doc_id, w.w, CAST(SUM(a.smp * a.smp) AS BIGINT) AS ss
  FROM w JOIN s a ON a.doc_id = w.doc_id
                 AND a.k >= w.w * 128 AND a.k < w.w * 128 + 256
  GROUP BY w.doc_id, w.w
),
z AS (
  SELECT w.doc_id, w.w,
         CAST(SUM(CASE WHEN (a.smp < 0) <> (c.smp < 0) THEN 1 ELSE 0 END)
              AS BIGINT) AS zc
  FROM w JOIN s a ON a.doc_id = w.doc_id
                 AND a.k >= w.w * 128 AND a.k < w.w * 128 + 255
         JOIN s c ON c.doc_id = a.doc_id AND c.k = a.k + 1
  GROUP BY w.doc_id, w.w
),
r AS (
  SELECT f.doc_id,
         FLOOR(sqrt(f.ss / 256.0) * 1000000 + 0.5) / 1000000.0 AS rms,
         z.zc
  FROM f JOIN z ON f.doc_id = z.doc_id AND f.w = z.w
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       FLOOR(MAX(rms) * 1000000 + 0.5) / 1000000.0 AS max_rms,
       CAST(SUM(zc) AS BIGINT) AS total_zc
FROM r GROUP BY doc_id
"""


@register("mm_audio_windows", oracle=_AUDIO_ORACLE)
def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio windowing: int16-PCM interpretation of the media payload
    framed into 256-sample windows at 128-sample hop, RMS +
    zero-crossing features per window — real vectorized DSP (no codec
    needed for raw PCM). Oracle (round 8): int16 squares sum EXACTLY in
    float64 (<= 2^38 per window), /256 is a power-of-2 shift and sqrt
    is correctly rounded, so DuckDB replays the whole feature tree from
    hex-pair little-endian samples bit-for-bit; rounding is the shared
    portable FLOOR form. The numpy pin stays in tests."""
    from sanctions_data_pipeline_spark.plans.helpers import pround6
    from sanctions_data_pipeline_spark.multimodal.ops import window_audio

    docs = load_table(spark, sf_dir, "documents")
    wins = window_audio(attach_media(docs), frame_len=256, hop_len=128)
    return (wins.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_windows"),
                 pround6(F.max("rms")).alias("max_rms"),
                 F.sum("zero_crossings").cast("bigint").alias("total_zc")))


_PHASH_ORACLE = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents WHERE length(text) > 0
),
px AS (
  SELECT doc_id, u.t,
         ('0x' || substring(hx, CAST(2 * (u.t % n) + 1 AS INT), 2))::BIGINT
           AS v
  FROM b, unnest(range(0, 4096)) u(t)
),
blk AS (
  SELECT doc_id,
         ((t // 64) // 8) * 8 + (t % 64) // 8 AS bidx,
         CAST(SUM(v) AS BIGINT) AS k
  FROM px GROUP BY 1, 2
),
tot AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS s FROM blk GROUP BY doc_id),
ph AS (
  SELECT blk.doc_id,
         CAST(SUM(CASE WHEN 64 * k > s AND 63 - bidx >= 32
                       THEN (CAST(1 AS BIGINT) << (63 - bidx - 32))
                       ELSE 0 END) AS BIGINT) AS hi,
         CAST(SUM(CASE WHEN 64 * k > s AND 63 - bidx < 32
                       THEN (CAST(1 AS BIGINT) << (63 - bidx))
                       ELSE 0 END) AS BIGINT) AS lo
  FROM blk JOIN tot USING (doc_id) GROUP BY blk.doc_id
),
sp AS (
  SELECT doc_id,
         (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
           * 4294967296 + lo AS phash
  FROM ph
)
SELECT a.doc_id AS i, c.doc_id AS j,
       CAST(bit_count(xor(a.phash, c.phash)) AS INT) AS hamming
FROM sp a JOIN sp c ON a.doc_id < c.doc_id
WHERE bit_count(xor(a.phash, c.phash)) <= 4
"""


@register("mm_phash", headline=True, oracle=_PHASH_ORACLE)
def mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup pairs — the multimodal member of
    the dedup family. Per DISTINCT media payload, a REAL PNG round-trip
    (text bytes tiled to a 64x64 gray raster -> vendored
    spec-conformant PNG encode -> decode) feeds an average-hash: 8x8
    block means thresholded at the image mean -> 64-bit fingerprint.
    Pairs within hamming<=4 come from the SAME composite two-chunk
    pigeonhole buckets as dd_simhash
    (operators/dedup.py:simhash_chunk_keys) — exact, never quadratic.

    COLLAPSE-FIRST (round 9 — the operators/dedup.py
    ngram_jaccard_components idiom): identical media bytes mean
    identical raster, identical phash, and hamming 0 to each other and
    the SAME hamming to everything else. So the op groups docs by
    md5(payload), runs decode+hash+banding on one representative per
    group, and reconstitutes the pair list afterward: within-group
    pairs are hamming-0 by construction; cross-group pairs expand the
    rep-pair list through the member arrays. At K exact copies per
    image the codec pass and the bucket join now cost |distinct|, not
    |docs| (and never K^2 bucket-join rows) — only the unavoidable
    output itself stays K^2, generated by two narrow explodes. The
    member array per group is driver-safe (never collected) but is one
    row; pathological single-payload corpora bound it at |docs| ids —
    the documented cap shared with ngram_jaccard_components.

    Scale: the mapInPandas stage is one Arrow-batched pass over
    distinct payloads (image bytes never shuffle); the self-join
    shuffles only (combo, bucket, 8-byte hash) rep rows; expansion
    joins key on the rep id. `groups` stays persisted past the return;
    the returned plan reads it lazily (see plans.helpers.query_scope).

    Oracle (round 8, unchanged by the rewrite): every quantity in the
    hash is EXACT — the PNG round-trip is lossless, block means are
    integer sums over a power-of-2 divisor, and bit (i, j) is the
    integer comparison 64 * k_block > S_total — so DuckDB recomputes
    each 64-bit hash from hex pairs and BRUTE-FORCES all pairs, which
    simultaneously hash-verifies the values AND proves the
    collapse+bucket composition loses no pair. pytest keeps the
    exact-dup/hamming-0 pin.
    """
    from sanctions_data_pipeline_spark.operators.dedup import simhash_chunk_keys

    docs = load_table(spark, sf_dir, "documents")

    def ahash(batches):
        import numpy as np
        import pandas as pd

        from sanctions_data_pipeline_spark.multimodal import codecs

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = np.frombuffer(str(text).encode("utf-8"), dtype=np.uint8)
                a = np.resize(raw, (64, 64))  # tile/truncate raster
                png = codecs.encode_png_gray(a)
                _w, _h, gray = codecs.decode_png(png)
                blocks = gray.astype("float64").reshape(8, 8, 8, 8).mean(axis=(1, 3))
                bits = (blocks > blocks.mean()).ravel()
                ph = 0
                for b in bits:
                    ph = (ph << 1) | int(b)
                if ph >= 1 << 63:
                    ph -= 1 << 64
                out.append((int(doc_id), ph))
            yield pd.DataFrame(out, columns=["doc_id", "phash"])

    src = (docs.filter(F.length("text") > 0)  # NULL or EMPTY text
           # would all hash the same zero raster (np.resize of a
           # 0-size buffer zero-fills) -> bogus hamming-0 pairs AND
           # a quadratic bucket; drop like the other dedup operators
           .select("doc_id", "text"))
    # collapse identical payloads; re-widen after the groupBy (AQE
    # coalesces the small shuffle, which would serialize the CPU-heavy
    # codec stage) and keep the group table for the three consumers
    # (rep hashing, within-group pairs, cross-group expansion)
    from sanctions_data_pipeline_spark.catalog import widen_small_scan
    par = spark.sparkContext.defaultParallelism
    # md5 of the payload is the group shuffle's map side: parallelize
    # an under-split local scan (no-op at cluster scale)
    groups = persist(widen_small_scan(src, "doc_id")
                     .groupBy(F.md5("text").alias("__key"))
                     .agg(F.min("doc_id").alias("rep"),
                          F.min_by("text", "doc_id").alias("rep_text"),
                          F.collect_list("doc_id").alias("members"))
                     .repartition(par, "rep"))
    # chunked (below) feeds both sides of the bucket self-join: persist
    # the hash table so the Arrow codec pass (PNG encode+decode per
    # distinct payload) runs once, not twice — |groups| x 2 longs
    hashed = persist(groups
                     .select(F.col("rep").alias("doc_id"),
                             F.col("rep_text").alias("text"))
                     .mapInPandas(ahash, "doc_id long, phash long"))
    chunked = hashed.select(
        "doc_id", "phash",
        F.posexplode(F.array(*simhash_chunk_keys(4, col="phash")))
         .alias("combo_id", "combo_val"))
    left = chunked.select(F.col("doc_id").alias("i"),
                          F.col("phash").alias("ph_i"),
                          "combo_id", "combo_val")
    right = chunked.select(F.col("doc_id").alias("j"),
                           F.col("phash").alias("ph_j"),
                           "combo_id", "combo_val")
    rep_pairs = (left.join(right, ["combo_id", "combo_val"])
                 .filter(F.col("i") < F.col("j"))
                 .select("i", "j",
                         F.bit_count(F.col("ph_i").bitwiseXOR(F.col("ph_j")))
                          .alias("hamming"))
                 .filter(F.col("hamming") <= 4)
                 .distinct())
    # within-group: every ordered pair of identical payloads, hamming 0
    # (two narrow explodes — output-sized work, no shuffle, no codec)
    within = (groups.filter(F.size("members") >= 2)
              .select(F.explode("members").alias("i"), "members")
              .select("i", F.explode("members").alias("j"))
              .filter(F.col("i") < F.col("j"))
              .select("i", "j", F.lit(0).alias("hamming")))
    # cross-group: each rep pair expands to members_i x members_j with
    # the rep hamming (identical payloads hash identically); least/
    # greatest restores the global i<j orientation
    cross = (rep_pairs
             .join(groups.select(F.col("rep").alias("i"),
                                 F.col("members").alias("mi")), "i")
             .join(groups.select(F.col("rep").alias("j"),
                                 F.col("members").alias("mj")), "j")
             .select(F.explode("mi").alias("a"), "mj", "hamming")
             .select("a", F.explode("mj").alias("b"), "hamming")
             .select(F.least("a", "b").alias("i"),
                     F.greatest("a", "b").alias("j"), "hamming"))
    return within.unionByName(cross)


# Oracle contract (round 10, the tok_fertility invariant-lane
# pattern): the FFT itself has no cross-engine-exact SQL twin, but
# TWO of its lanes do — the window framing (the mm_audio_windows
# hex-pair replay) and, via Parseval's theorem, the total signal
# energy: Σ_windows Σ_n x_n² is an EXACT int64 both engines compute
# (int16² sums), and a correct rFFT must satisfy
# Σ_k c_k·|X_k|²/N == that integer per window. The registered output
# is (doc_id, n_windows, window_energy) exact + parseval_ok /
# features_bounded_ok booleans stated as literals; exact spectral
# features stay pinned by the numpy replay on mm_spectral_full.
_SPECTRAL_ORACLE = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
),
s AS (
  SELECT doc_id, k,
         CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS smp
  FROM (
    SELECT doc_id, u.k,
           ('0x' || substring(hx, CAST(4 * u.k + 1 AS INT), 2))::BIGINT
           + 256 * ('0x' || substring(hx, CAST(4 * u.k + 3 AS INT), 2))::BIGINT
             AS v
    FROM b, unnest(range(0, n // 2)) u(k)
  )
),
g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ns FROM s GROUP BY doc_id),
w AS (
  SELECT g.doc_id, CAST(u.w AS BIGINT) AS w
  FROM g, unnest(range(0, CASE WHEN ns >= 256
                               THEN 1 + (ns - 256) // 128 ELSE 0 END)) u(w)
),
f AS (
  SELECT w.doc_id, w.w, CAST(SUM(a.smp * a.smp) AS BIGINT) AS ss
  FROM w JOIN s a ON a.doc_id = w.doc_id
                 AND a.k >= w.w * 128 AND a.k < w.w * 128 + 256
  GROUP BY w.doc_id, w.w
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(ss) AS BIGINT) AS window_energy,
       TRUE AS parseval_ok, TRUE AS features_bounded_ok
FROM f GROUP BY doc_id
"""


@register("mm_spectral", oracle=_SPECTRAL_ORACLE)
def mm_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio spectral profile, registered as the exact framing+energy
    lanes plus the Parseval and bounds invariants of the rFFT pass
    (see the oracle-contract note above)."""
    full = mm_spectral_full(spark, sf_dir)
    nb = F.lit(129)  # rfft bins for frame_len=256: 0..128
    return full.select(
        "doc_id", "n_windows", "window_energy", "parseval_ok",
        ((F.col("dominant_bin") >= 0) & (F.col("dominant_bin") < nb)
         & (F.col("spectral_centroid") >= 0.0)
         & (F.col("spectral_centroid") <= 128.0)
         & (F.col("spectral_bandwidth") >= 0.0)
         & (F.col("spectral_bandwidth") <= 128.0))
        .alias("features_bounded_ok"))


def mm_spectral_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact spectral features (dominant bin, centroid, bandwidth) —
    the pytest value-pin surface (the pre-round-10 registered
    output, widened with the energy/Parseval lanes)."""
    from sanctions_data_pipeline_spark.multimodal.ops import spectral_features

    docs = load_table(spark, sf_dir, "documents")
    return spectral_features(attach_media(docs), frame_len=256, hop_len=128)


_LUMA_ORACLE = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents WHERE length(text) > 0
),
px AS (
  SELECT doc_id,
         ('0x' || substring(hx, CAST(2 * ((u.t % n)) + 1 AS INT), 2))::BIGINT
           AS v
  FROM b, unnest(range(0, 4096)) u(t)
),
wide AS (
  SELECT doc_id,
         CAST(SUM(v) AS BIGINT) AS total,
         [CAST(SUM(CASE WHEN v // 16 = 0 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 1 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 2 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 3 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 4 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 5 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 6 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 7 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 8 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 9 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 10 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 11 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 12 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 13 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 14 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN v // 16 = 15 THEN 1 ELSE 0 END) AS BIGINT)] AS hist
  FROM px GROUP BY doc_id
)
SELECT doc_id,
       array_to_string(hist, ',') AS hist16_csv,
       FLOOR(total / 4096.0 * 1000000 + 0.5) / 1000000.0 AS mean_luma,
       FLOOR(list_reduce(
               list_prepend(0.0, list_transform(hist,
                 h -> CASE WHEN h > 0
                      THEN (h / 4096.0) * ln(h / 4096.0) ELSE 0.0 END)),
               (acc, t) -> acc - t)
             / ln(16.0) * 1000000 + 0.5) / 1000000.0 AS hist_entropy
FROM wide
"""


@register("mm_luma_hist", oracle=_LUMA_ORACLE)
def mm_luma_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luminance-histogram profile per image — the exposure/contrast QA
    stat a multimodal ingest runs right after decode: the same
    spec-conformant PNG round-trip as mm_phash (text bytes tiled to a
    64x64 gray raster -> vendored encode -> decode), then a 16-bin
    luminance histogram, mean luma, and histogram entropy.

    Oracle (round 8): the PNG round-trip is lossless, so the raster is
    byte (64*r + c) mod n of the utf-8 payload and DuckDB replays the
    whole profile from hex pairs — histogram counts are integers, the
    mean is an exact-integer sum / 4096 (a power-of-2 shift), and the
    entropy is a SEQUENTIAL subtraction fold of -(h/4096)*ln(h/4096)
    in bin order (both engines call the same libm ln on the same exact
    rationals). The histogram crosses as a CSV string (list columns
    have no canonical cross-engine rendering); the pure-python
    PNG-path replay stays in tests.

    Scale: one Arrow-batched mapInPandas pass (image bytes never
    shuffle); output is 4 scalars per doc. The single-split
    repartition branch mirrors mm_phash (never triggers on real
    multi-split scans).
    """
    docs = load_table(spark, sf_dir, "documents")

    def luma(batches):
        import math as _math

        import numpy as np
        import pandas as pd

        from sanctions_data_pipeline_spark.multimodal import codecs

        def r6(x: float) -> float:
            return _math.floor(x * 1e6 + 0.5) / 1e6

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = np.frombuffer(str(text).encode("utf-8"), dtype=np.uint8)
                a = np.resize(raw, (64, 64))
                png = codecs.encode_png_gray(a)
                _w, _h, gray = codecs.decode_png(png)
                hist = np.bincount((gray.ravel() >> 4), minlength=16)
                # sequential fold in bin order — the portable order the
                # SQL oracle replays (np.sum's pairwise order has none)
                ent = 0.0
                for h in hist:
                    if h:
                        ph = float(h) / 4096.0
                        ent = ent - ph * _math.log(ph)
                out.append((int(doc_id),
                            ",".join(str(int(x)) for x in hist),
                            r6(int(gray.ravel().astype("int64").sum())
                               / 4096.0),
                            r6(ent / _math.log(16.0))))
            yield pd.DataFrame(
                out, columns=["doc_id", "hist16_csv", "mean_luma",
                              "hist_entropy"])

    src = docs.filter(F.length("text") > 0).select("doc_id", "text")
    par = spark.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par, "doc_id")
    return src.mapInPandas(
        luma,
        "doc_id long, hist16_csv string, mean_luma double,"
        " hist_entropy double")
