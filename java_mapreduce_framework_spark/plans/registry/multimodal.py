"""Multimodal section of the declared query registry: image, audio
and video payload kernels, written over ``operators/multimodal.py``.
Oracles read the payload bytes through ``_PAYLOAD_CTE``."""

from __future__ import annotations

from ...operators import multimodal
from .core import _QUALITY_EXPR, _QUALITY_MEASURES_CTE, _register, _t


#: Byte-level view of the multimodal payload (UTF-8 bytes of text) on
#: the DuckDB side: hex-decode each byte so oracles verify payload
#: CONTENT, not just length. Shared by the multimodal oracle family.
_PAYLOAD_CTE = """
    pay AS (SELECT doc_id, hex(encode(text)) AS h,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n
            FROM documents),
    pbytes AS (SELECT doc_id, n,
                      list_transform(range(0, n), i ->
                          (strpos('0123456789ABCDEF',
                                  substr(h, CAST(2*i+1 AS INT), 1)) - 1) * 16
                        + (strpos('0123456789ABCDEF',
                                  substr(h, CAST(2*i+2 AS INT), 1)) - 1)) AS bytes
               FROM pay)
"""


@_register(
    "multimodal_decode",
    f"""
    WITH {_PAYLOAD_CTE}
    SELECT doc_id, 'image/fake' AS content_type, n AS n_bytes,
           n % 640 AS fake_width, (n * 7) % 480 AS fake_height,
           CAST(coalesce(list_sum(bytes), 0) AS BIGINT) AS byte_sum,
           CAST(coalesce(list_min(bytes), 0) AS INT) AS byte_min,
           CAST(coalesce(list_max(bytes), 0) AS INT) AS byte_max,
           CAST(coalesce(len(list_distinct(bytes)), 0) AS INT) AS n_distinct_bytes
    FROM pbytes
    """,
    note="decode kernel stubbed (no imaging libs); Arrow plumbing real; "
    "oracle verifies payload content via byte sum/min/max/distinct",
)
def _multimodal_decode(spark, sf):
    return multimodal.decode_metadata(multimodal.attach_payload(_t(spark, sf, "documents")))


@_register(
    "multimodal_frame_sample",
    """
    WITH pay AS (SELECT doc_id, hex(encode(text)) AS h,
                        CAST(octet_length(encode(text)) AS BIGINT) AS n
                 FROM documents),
    geo AS (SELECT doc_id, h, n, least(4, greatest(1, n // 32)) AS n_frames FROM pay),
    geo2 AS (SELECT doc_id, h, greatest(1, n // n_frames) AS stride, n_frames FROM geo),
    fr AS (SELECT doc_id, CAST(unnest(range(0, n_frames)) AS INT) AS frame_idx,
                  h, stride
           FROM geo2)
    SELECT doc_id, frame_idx,
           CAST(length(substr(h, CAST(2 * frame_idx * stride + 1 AS INT), 64)) // 2
                AS INT) AS frame_len,
           substr(h, CAST(2 * frame_idx * stride + 1 AS INT), 64) AS frame_hex
    FROM fr
    """,
    note="frame slices hex-projected so the oracle hashes frame content",
)
def _multimodal_frame_sample(spark, sf):
    from pyspark.sql import functions as F

    frames = multimodal.frame_sample(multimodal.attach_payload(_t(spark, sf, "documents")))
    return frames.select(
        "doc_id",
        "frame_idx",
        F.length("frame_bytes").cast("int").alias("frame_len"),
        F.hex("frame_bytes").alias("frame_hex"),
    )


@_register(
    "multimodal_resize",
    """
    WITH pay AS (SELECT doc_id, hex(encode(text)) AS h,
                        CAST(octet_length(encode(text)) AS BIGINT) AS n
                 FROM documents),
    g AS (SELECT doc_id, h, n, n % 640 AS w, (n * 7) % 480 AS hh FROM pay),
    g2 AS (SELECT doc_id, h, n, w, hh, greatest(1, w // 64) AS scale FROM g)
    SELECT doc_id,
           greatest(1, w // scale) AS out_width,
           greatest(1, hh // scale) AS out_height,
           array_to_string(
               list_transform(range(0, (n + scale - 1) // scale),
                              i -> substr(h, CAST(2 * i * scale + 1 AS INT), 2)),
               '') AS resized_hex
    FROM g2
    """,
    note="byte-stride fake resample; resized payload hex-projected for a content oracle",
)
def _multimodal_resize(spark, sf):
    from pyspark.sql import functions as F

    resized = multimodal.resize(multimodal.attach_payload(_t(spark, sf, "documents")))
    return resized.select(
        "doc_id", "out_width", "out_height", F.hex("resized").alias("resized_hex")
    )


@_register(
    "multimodal_audio_features",
    f"""
    WITH {_PAYLOAD_CTE}
    SELECT doc_id, n AS n_samples,
           n / 16.0 AS duration_fake_ms,
           CASE WHEN n = 0 THEN 0.0
                ELSE round(sqrt(list_sum(list_transform(bytes,
                                x -> (x - 128.0) * (x - 128.0))) / n), 4)
           END AS rms_fake,
           CASE WHEN n = 0 THEN 0.0
                ELSE round(list_max(list_transform(bytes, x -> abs(x - 128.0))), 4)
           END AS peak_fake
    FROM pbytes
    """,
    note="fake-PCM per-clip stats; RMS/peak are content-derived, oracle-verified",
)
def _multimodal_audio_features(spark, sf):
    return multimodal.audio_features(multimodal.attach_payload(_t(spark, sf, "documents")))


@_register(
    "multimodal_decode_bmp",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, w, h,
                  list_transform(range(0, w * h * 3),
                                 k -> bytes[CAST(k % n AS INT) + 1]) AS flat
           FROM geo)
    SELECT doc_id,
           CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(list_sum(list_transform(list_filter(range(0, w * h * 3),
                k -> k % 3 = 0), k -> flat[CAST(k AS INT) + 1])) AS BIGINT) AS sum_r,
           CAST(list_sum(list_transform(list_filter(range(0, w * h * 3),
                k -> k % 3 = 1), k -> flat[CAST(k AS INT) + 1])) AS BIGINT) AS sum_g,
           CAST(list_sum(list_transform(list_filter(range(0, w * h * 3),
                k -> k % 3 = 2), k -> flat[CAST(k AS INT) + 1])) AS BIGINT) AS sum_b,
           CAST(list_min(flat) AS INT) AS px_min,
           CAST(list_max(flat) AS INT) AS px_max
    FROM px
    """,
    note="REAL library-free image path: spec-compliant 24-bit BMP encoded per "
    "doc (pixels tiled from text bytes), parsed back by the pure-numpy BMP "
    "decoder; oracle reconstructs every pixel from the text column, so the "
    "file size, geometry, per-channel sums and min/max all prove a real "
    "header+scanline decode (BGR/bottom-up/row-padding handled)",
)
def _multimodal_decode_bmp(spark, sf):
    return multimodal.decode_image_meta(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_image_patches",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    grid AS (SELECT doc_id, n, bytes, w,
                    unnest(range(0, (h // 4) * (w // 4))) AS g
             FROM geo),
    p AS (SELECT doc_id, n, bytes, w,
                 CAST(g // (w // 4) AS INT) AS patch_row,
                 CAST(g % (w // 4) AS INT) AS patch_col
          FROM grid)
    SELECT doc_id, patch_row, patch_col,
           CAST(list_sum(list_transform(range(0, 16), t ->
             bytes[CAST((((patch_row * 4 + t // 4) * w
                          + patch_col * 4 + t % 4) * 3 + 0) % n AS INT) + 1]))
             AS BIGINT) AS sum_r,
           CAST(list_sum(list_transform(range(0, 16), t ->
             bytes[CAST((((patch_row * 4 + t // 4) * w
                          + patch_col * 4 + t % 4) * 3 + 1) % n AS INT) + 1]))
             AS BIGINT) AS sum_g,
           CAST(list_sum(list_transform(range(0, 16), t ->
             bytes[CAST((((patch_row * 4 + t // 4) * w
                          + patch_col * 4 + t % 4) * 3 + 2) % n AS INT) + 1]))
             AS BIGINT) AS sum_b
    FROM p
    """,
    note="ViT-style 4x4 patch extraction over the REAL BMP decode "
    "path: per-tile exact integer channel sums (the patch-embedding "
    "precursor); oracle reconstructs every patch pixel from the text "
    "bytes, so grid geometry, crop semantics and the vectorized "
    "reshape-sum are all pixel-proven",
)
def _multimodal_image_patches(spark, sf):
    return multimodal.image_patches(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_image_histogram",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, bytes, unnest(range(0, w * h)) AS k
           FROM geo),
    g AS (SELECT doc_id,
                 CAST((bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                     + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                     + bytes[CAST((k * 3 + 2) % n AS INT) + 1]) // 48
                      AS INT) AS bin
          FROM px)
    SELECT doc_id, bin, CAST(count(*) AS BIGINT) AS n_px
    FROM g GROUP BY doc_id, bin
    """,
    note="per-image 16-bin luminance histogram over REAL decoded BMP "
    "pixels (exposure/contrast curation profile): integer r+g+b "
    "floor-binned, one vectorized bincount per image, sparse "
    "(doc_id, bin, count) rows shuffle -- never pixels; oracle "
    "replays every pixel from the text bytes",
)
def _multimodal_image_histogram(spark, sf):
    return multimodal.image_histogram(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_text_align",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, bytes, unnest(range(0, w * h)) AS k
           FROM geo),
    gi AS (SELECT doc_id,
                  CAST((bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                      + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                      + bytes[CAST((k * 3 + 2) % n AS INT) + 1]) // 48
                       AS INT) AS bin
           FROM px),
    img AS (SELECT doc_id, bin, count(*) AS n_px FROM gi GROUP BY 1, 2),
    tx AS (SELECT doc_id, n, bytes, unnest(range(0, n // 3)) AS k
           FROM pbytes WHERE n >= 3),
    gt AS (SELECT doc_id,
                  CAST((bytes[CAST(k * 3 AS INT) + 1]
                      + bytes[CAST(k * 3 + 1 AS INT) + 1]
                      + bytes[CAST(k * 3 + 2 AS INT) + 1]) // 48
                       AS INT) AS bin
           FROM tx),
    txt AS (SELECT doc_id, bin, count(*) AS n_tri FROM gt GROUP BY 1, 2),
    dit AS (SELECT i.doc_id, sum(i.n_px * t.n_tri) AS dot_it
            FROM img i JOIN txt t USING (doc_id, bin) GROUP BY 1),
    dii AS (SELECT doc_id, sum(n_px * n_px) AS dot_ii FROM img GROUP BY 1),
    dtt AS (SELECT doc_id, sum(n_tri * n_tri) AS dot_tt FROM txt GROUP BY 1),
    align AS (SELECT doc_id,
                     round(dot_it / sqrt(CAST(dot_ii * dot_tt AS DOUBLE)), 4)
                       AS align_cos
              FROM dit JOIN dii USING (doc_id) JOIN dtt USING (doc_id)),
    {_QUALITY_MEASURES_CTE.strip().rstrip()},
    q AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM m),
    centl AS (
      SELECT label, CAST(u.i AS INT) AS pos, round(avg(u.v), 4) + 0.0 AS cval
      FROM (SELECT label,
                   unnest(list_transform(CAST(embedding AS DOUBLE[]),
                          (x, i) -> struct_pack(v := x, i := i))) AS u
            FROM embeddings)
      GROUP BY label, u.i),
    cent AS (SELECT label, list(cval ORDER BY pos) AS c
             FROM centl GROUP BY label),
    embx AS (
      SELECT e.vec_id AS doc_id,
             round(
               list_reduce(list_transform(
                   list_zip(CAST(e.embedding AS DOUBLE[]), c.c),
                   z -> z[1] * z[2]), (a, b) -> a + b)
               / (sqrt(list_reduce(list_transform(
                       CAST(e.embedding AS DOUBLE[]), x -> x * x),
                       (a, b) -> a + b))
                * sqrt(list_reduce(list_transform(c.c, x -> x * x),
                       (a, b) -> a + b))), 4) AS emb_cos
      FROM embeddings e JOIN cent c USING (label))
    SELECT g.doc_id, CAST(g.w AS INT) AS width, CAST(g.h AS INT) AS height,
           q.quality, a.align_cos, x.emb_cos,
           (q.quality >= 0.25 AND a.align_cos >= 0.999
            AND x.emb_cos >= 0.0) AS keep
    FROM geo g
    JOIN align a USING (doc_id)
    JOIN q USING (doc_id)
    JOIN embx x USING (doc_id)
    """,
    note="CLIP-filter curation gate: REAL-decode luminance histogram "
    "vs text byte-triple histogram cosine (exact integer dot/norms, "
    "one double op), shared quality formula, embedding-vs-label-"
    "centroid cosine (4-decimal pinned centroids, 0.0-seeded ordered "
    "folds == DuckDB seedless list_reduce); one verdict row per doc, "
    "payloads never leave the Arrow kernels",
)
def _multimodal_text_align(spark, sf):
    return multimodal.multimodal_text_align(
        _t(spark, sf, "documents"), _t(spark, sf, "embeddings")
    )


@_register(
    "multimodal_image_entropy",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, bytes, unnest(range(0, w * h)) AS k
           FROM geo),
    g AS (SELECT doc_id,
                 CAST((bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                     + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                     + bytes[CAST((k * 3 + 2) % n AS INT) + 1]) // 48
                      AS INT) AS bin
          FROM px),
    hist AS (SELECT doc_id, bin, count(*) AS c FROM g GROUP BY doc_id, bin),
    per AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_px,
             CAST(count(*) AS BIGINT) AS n_bins,
             list(c ORDER BY bin) AS cells
      FROM hist GROUP BY doc_id)
    SELECT doc_id, n_px, n_bins,
           round(log2(n_px)
                 - list_reduce(list_transform(cells, c -> c * log2(c)),
                               (a, b) -> a + b) / n_px, 4) AS entropy
    FROM per
    """,
    note="per-image luminance entropy over the histogram kernel "
    "(contrast/information curation score: blanks and letterboxes "
    "score ~0): exact integer bins, entropy folded in BIN order "
    "(user_behavior_entropy determinism discipline)",
)
def _multimodal_image_entropy(spark, sf):
    return multimodal.image_entropy(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_audio_wav",
    f"""
    WITH {_PAYLOAD_CTE},
    pcm AS (SELECT doc_id, n,
                   list_transform(bytes, x -> (x - 128) * 256) AS s
            FROM pbytes WHERE n > 0)
    SELECT doc_id,
           CAST(44 + 2 * n AS BIGINT) AS n_bytes,
           CAST(16000 AS INT) AS sample_rate,
           n AS n_samples,
           n / 16.0 AS duration_ms,
           round(sqrt(list_sum(list_transform(s, x -> CAST(x AS DOUBLE) * x)) / n),
                 4) AS rms,
           CAST(list_max(list_transform(s, x -> abs(x))) AS DOUBLE) AS peak
    FROM pcm
    """,
    note="REAL library-free audio path: spec-compliant RIFF/WAVE 16-bit PCM "
    "encoded per doc (sample k = (byte_k - 128) * 256), chunk-walked and "
    "parsed back by the pure-numpy WAV decoder; container size, fmt-chunk "
    "rate and decoded-sample RMS/peak are oracle-reconstructed exactly "
    "(integer-valued float64 sums, so no rounding divergence)",
)
def _multimodal_audio_wav(spark, sf):
    return multimodal.audio_features_wav(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_video_frames",
    f"""
    WITH {_PAYLOAD_CTE},
    fr AS (SELECT doc_id, n, bytes,
                  CAST(unnest(range(0, 2 + (n % 3))) AS INT) AS f
           FROM pbytes WHERE n > 0),
    geo AS (SELECT doc_id, n, bytes, f,
                   8 + ((n + f) % 9) AS w,
                   8 + (((n + f) * 3) % 9) AS h
            FROM fr),
    px AS (SELECT doc_id, f, w, h,
                  list_transform(range(0, w * h * 3),
                                 k -> bytes[CAST((k + f) % n AS INT) + 1]) AS flat
           FROM geo)
    SELECT doc_id, f AS frame_idx,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT) AS frame_bytes,
           CAST(list_sum(flat) AS BIGINT) AS sum_px,
           CAST(list_min(flat) AS INT) AS px_min,
           CAST(list_max(flat) AS INT) AS px_max
    FROM px
    """,
    note="REAL video path: chunked container (magic + count + "
    "length-prefixed spec-compliant BMP frames) walked by a real "
    "bounds-checked parse loop, every frame decoded by the pure-numpy "
    "BMP parser; oracle reconstructs every pixel of every frame from "
    "the text column, so geometry, frame sizes, and per-frame pixel "
    "stats prove the container walk AND the per-frame decode",
)
def _multimodal_video_frames(spark, sf):
    return multimodal.decode_video_frames(
        multimodal.attach_video_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_image_ahash",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    pxg AS (
      SELECT doc_id, w, h,
             ((p // w) * 8 // h) * 8 + ((p % w) * 8 // w) AS cell,
             bytes[CAST((3 * p) % n AS INT) + 1]
               + bytes[CAST((3 * p + 1) % n AS INT) + 1]
               + bytes[CAST((3 * p + 2) % n AS INT) + 1] AS gray
      FROM geo, unnest(range(0, w * h)) AS r(p)
    ),
    cells AS (
      SELECT doc_id, cell, sum(gray) AS s, count(*) AS cn
      FROM pxg GROUP BY doc_id, cell
    ),
    tot AS (
      SELECT doc_id, cell, s, cn,
             sum(s) OVER (PARTITION BY doc_id) AS ts,
             sum(cn) OVER (PARTITION BY doc_id) AS tn
      FROM cells
    ),
    hashes AS (
      SELECT doc_id,
             string_agg(CASE WHEN s * tn >= ts * cn THEN '1' ELSE '0' END,
                        '' ORDER BY cell) AS ahash
      FROM tot GROUP BY doc_id
    )
    SELECT ahash, min(doc_id) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM hashes GROUP BY ahash
    """,
    note="perceptual average-hash dedup over REAL decoded BMP pixels: "
    "8x8 block-mean bits via exact integer cross-multiplication; "
    "oracle recomputes the hash from the text bytes the pixels tile "
    "from, so a fake decode cannot pass",
)
def _multimodal_image_ahash(spark, sf):
    docs = _t(spark, sf, "documents")
    return multimodal.image_ahash(multimodal.attach_image_payload(docs))


@_register(
    "multimodal_audio_spectrogram",
    None,
    note="rows-only by declared design (no FFT in the oracle engine): "
    "real STFT over the RIFF/WAVE decode path, Hann window + rFFT "
    "power per frame inside the Arrow kernel; pure-tone dominant-bin "
    "physics pinned in tests/test_multimodal.py + RECALL.json",
)
def _multimodal_audio_spectrogram(spark, sf):
    return multimodal.audio_spectrogram(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


_DCT_VALUES = ", ".join(
    f"({u}, {x}, {c})" for u, x, c in multimodal.dct_consts()
)


@_register(
    "multimodal_image_phash",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    dct AS (SELECT * FROM (VALUES {_DCT_VALUES}) AS c(u, x, cv)),
    grid AS (
      SELECT doc_id, n, bytes, i, j,
             ((i * h) // 16) * w + ((j * w) // 16) AS p
      FROM geo, unnest(range(0, 16)) AS ri(i),
                unnest(range(0, 16)) AS rj(j)
    ),
    g16 AS (
      SELECT doc_id, i, j,
             bytes[CAST((3 * p) % n AS INT) + 1]
               + bytes[CAST((3 * p + 1) % n AS INT) + 1]
               + bytes[CAST((3 * p + 2) % n AS INT) + 1] AS gray
      FROM grid
    ),
    d AS (
      SELECT g.doc_id, cu.u AS u, cv.u AS v,
             CAST(sum(cu.cv * cv.cv * g.gray) AS BIGINT) AS dval
      FROM g16 g
      JOIN dct cu ON cu.x = g.i
      JOIN dct cv ON cv.x = g.j
      GROUP BY 1, 2, 3
    ),
    ac AS (SELECT doc_id, u, v, dval FROM d
           WHERE NOT (u = 0 AND v = 0)),
    med AS (
      SELECT doc_id, dval AS m
      FROM (SELECT doc_id, dval,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY dval) AS rn
            FROM ac)
      WHERE rn = 32
    ),
    hashes AS (
      SELECT a.doc_id,
             string_agg(CASE WHEN a.dval > m.m THEN '1' ELSE '0' END,
                        '' ORDER BY a.u, a.v) AS phash
      FROM ac a JOIN med m USING (doc_id)
      GROUP BY a.doc_id
    )
    SELECT phash, min(doc_id) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM hashes GROUP BY phash
    """,
    note="perceptual DCT hash (pHash) over REAL decoded BMP pixels: "
    "exact-integer 2D DCT against the 2^14-scaled cosine basis "
    "(constants embedded from the SAME generator the kernel uses), "
    "nearest-neighbor 16x16 resample by pure index math, 63 AC bits "
    "strictly above their integer lower median; oracle replays the "
    "identical integer DCT from the text bytes the pixels tile from",
)
def _multimodal_image_phash(spark, sf):
    docs = _t(spark, sf, "documents")
    return multimodal.image_phash(multimodal.attach_image_payload(docs))


@_register(
    "multimodal_video_scene_diff",
    f"""
    WITH {_PAYLOAD_CTE},
    fr AS (SELECT doc_id, n, bytes, CAST(f AS INTEGER) AS f
           FROM pbytes, unnest(range(0, 2 + (n % 3))) AS u(f)
           WHERE n > 0),
    geo AS (SELECT doc_id, n, bytes, f,
                   8 + ((n + f) % 9) AS w,
                   8 + (((n + f) * 3) % 9) AS h
            FROM fr),
    cells AS (
      SELECT doc_id, n, bytes, f, i, j,
             ((i * h) // 8) * w + ((j * w) // 8) AS p
      FROM geo, unnest(range(0, 8)) AS ri(i),
                unnest(range(0, 8)) AS rj(j)),
    g8 AS (
      SELECT doc_id, f, i, j,
             bytes[CAST((3 * p + f) % n AS INT) + 1]
               + bytes[CAST((3 * p + 1 + f) % n AS INT) + 1]
               + bytes[CAST((3 * p + 2 + f) % n AS INT) + 1] AS gray
      FROM cells),
    pair AS (
      SELECT a.doc_id, a.f AS frame_idx,
             sum(abs(a.gray - b.gray)) AS diff
      FROM g8 a
      JOIN g8 b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                AND b.i = a.i AND b.j = a.j
      GROUP BY 1, 2),
    tot AS (SELECT doc_id, count(*) AS np, sum(diff) AS td
            FROM pair GROUP BY 1)
    SELECT p.doc_id, p.frame_idx, CAST(p.diff AS BIGINT) AS diff,
           (p.diff * t.np > t.td) AS is_cut
    FROM pair p JOIN tot t USING (doc_id)
    """,
    note="shot-boundary detection over REAL decoded frames: each "
    "frame lands on a common 8x8 grid by nearest-neighbor index "
    "math (frames have per-frame geometry), pair difference = sum "
    "|cell deltas|, cut flag by strict integer cross-multiplication "
    "against the clip mean; oracle replays every pixel from text "
    "bytes",
)
def _multimodal_video_scene_diff(spark, sf):
    return multimodal.video_scene_diff(
        multimodal.attach_video_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_audio_vad",
    f"""
    WITH {_PAYLOAD_CTE},
    fr AS (SELECT doc_id, n, bytes, CAST(f AS INTEGER) AS f
           FROM pbytes, unnest(range(0, n // 32)) AS u(f)
           WHERE n >= 32),
    sl AS (SELECT doc_id, f,
                  list_transform(range(0, 32), k ->
                    (bytes[CAST(32 * f + k AS INT) + 1] - 128) * 256)
                    AS sv
           FROM fr),
    en AS (SELECT doc_id, f,
                  CAST(list_sum(list_transform(sv,
                    s -> CAST(s AS BIGINT) * s)) AS BIGINT) AS e
           FROM sl),
    pk AS (SELECT doc_id, max(e) AS peak FROM en GROUP BY doc_id),
    act AS (SELECT e.doc_id, e.f, (e.e * 4 > p.peak) AS a
            FROM en e JOIN pk p USING (doc_id)),
    st AS (SELECT doc_id, f, a,
                  CASE WHEN a AND NOT coalesce(
                         lag(a) OVER (PARTITION BY doc_id ORDER BY f),
                         FALSE)
                       THEN 1 ELSE 0 END AS run_start
           FROM act),
    rid AS (SELECT *, sum(run_start) OVER (
                    PARTITION BY doc_id ORDER BY f
                    ROWS UNBOUNDED PRECEDING) AS run_id
            FROM st),
    seg AS (SELECT doc_id, run_id, count(*) AS rl
            FROM rid WHERE a GROUP BY doc_id, run_id),
    segstats AS (SELECT doc_id,
                        CAST(count(*) AS BIGINT) AS n_segments,
                        CAST(max(rl) AS BIGINT) AS longest_run
                 FROM seg GROUP BY doc_id),
    frames AS (SELECT doc_id,
                      CAST(count(*) AS BIGINT) AS n_frames,
                      CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_active
               FROM act GROUP BY doc_id)
    SELECT fm.doc_id, fm.n_frames, fm.n_active,
           coalesce(ss.n_segments, 0) AS n_segments,
           coalesce(ss.longest_run, 0) AS longest_run
    FROM frames fm LEFT JOIN segstats ss USING (doc_id)
    """,
    note="energy-gated voice-activity detection over REAL decoded "
    "PCM: per-frame squared-sample energies (32-sample windows), "
    "strict integer cross-multiplied gate (e*4 > clip peak), "
    "consecutive active frames fuse into segments via the islands "
    "window pair; oracle replays the samples from text bytes and "
    "runs the identical integer pipeline",
)
def _multimodal_audio_vad(spark, sf):
    docs = _t(spark, sf, "documents")
    return multimodal.audio_vad(multimodal.attach_audio_payload(docs))


@_register(
    "multimodal_audio_snr",
    f"""
    WITH {_PAYLOAD_CTE},
    fr AS (SELECT doc_id, n, bytes, CAST(f AS INTEGER) AS f
           FROM pbytes, unnest(range(0, n // 32)) AS u(f)
           WHERE n >= 32),
    sl AS (SELECT doc_id, f,
                  list_transform(range(0, 32), k ->
                    (bytes[CAST(32 * f + k AS INT) + 1] - 128) * 256)
                    AS sv
           FROM fr),
    en AS (SELECT doc_id, f,
                  CAST(list_sum(list_transform(sv,
                    s -> CAST(s AS BIGINT) * s)) AS BIGINT) AS e
           FROM sl),
    pk AS (SELECT doc_id, max(e) AS peak FROM en GROUP BY doc_id),
    act AS (SELECT e.doc_id, e.e, (e.e * 4 > p.peak) AS a
            FROM en e JOIN pk p USING (doc_id)),
    agg AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT)
               AS n_active,
             CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT)
               AS n_inactive,
             CAST(sum(CASE WHEN a THEN e ELSE 0 END) AS BIGINT)
               AS active_energy,
             CAST(sum(CASE WHEN a THEN 0 ELSE e END) AS BIGINT)
               AS inactive_energy
      FROM act GROUP BY doc_id)
    SELECT doc_id, n_active, n_inactive, active_energy, inactive_energy,
           CASE WHEN n_inactive > 0 AND inactive_energy > 0
                THEN round((active_energy * n_inactive)
                           / (inactive_energy * 1.0 * n_active), 6)
           END AS snr
    FROM agg
    """,
    note="speech-vs-floor energy ratio per clip (the quality gate "
    "after audio_vad): VAD's exact integer energies/gate verbatim, "
    "four exact int sums per clip, ONE double division of "
    "cross-multiplied ints; no-floor clips emit NULL on both engines",
)
def _multimodal_audio_snr(spark, sf):
    docs = _t(spark, sf, "documents")
    return multimodal.audio_snr(multimodal.attach_audio_payload(docs))


@_register(
    "multimodal_image_sharpness",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    lum AS (SELECT doc_id, w, h,
                   list_transform(range(0, w * h), k ->
                       bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                     + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                     + bytes[CAST((k * 3 + 2) % n AS INT) + 1]) AS l
            FROM geo),
    px AS (SELECT doc_id, w, h, l, unnest(range(0, w * h)) AS k
           FROM lum),
    lap AS (
      SELECT doc_id,
             4 * l[CAST(k AS INT) + 1]
             - l[CAST(k - w AS INT) + 1]
             - l[CAST(k + w AS INT) + 1]
             - l[CAST(k - 1 AS INT) + 1]
             - l[CAST(k + 1 AS INT) + 1] AS v
      FROM px
      WHERE k % w >= 1 AND k % w <= w - 2
        AND k // w >= 1 AND k // w <= h - 2),
    agg AS (
      SELECT doc_id, count(*) AS n, sum(v) AS s, sum(v * v) AS ssq
      FROM lap GROUP BY doc_id)
    SELECT doc_id, CAST(n AS BIGINT) AS n_interior,
           round(CAST(n * ssq - s * s AS DOUBLE) / (n * n), 4)
             AS sharpness
    FROM agg
    """,
    note="Laplacian-variance blur detector over the REAL BMP decode "
    "path (image_entropy's sharpness sibling): integer luminance, "
    "integer 4-neighbor Laplacian on interior pixels, population "
    "variance from three exact sums; kernel emits 1 row/image, "
    "shuffle carries stats not pixels; oracle replays pixels from "
    "text bytes",
)
def _multimodal_image_sharpness(spark, sf):
    return multimodal.image_sharpness(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_audio_zcr",
    f"""
    WITH {_PAYLOAD_CTE},
    pcm AS (SELECT doc_id, n,
                   list_transform(bytes, x -> (x - 128) * 256) AS s
            FROM pbytes WHERE n > 0),
    c AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
             CAST(CASE WHEN n >= 2 THEN
               len(list_filter(range(1, n), i ->
                 s[CAST(i AS INT)] * s[CAST(i AS INT) + 1] < 0))
             ELSE 0 END AS BIGINT) AS n_crossings
      FROM pcm)
    SELECT doc_id, n_samples, n_crossings,
           CASE WHEN n_samples >= 2 THEN
             CAST(round(n_crossings * 1e6 / (n_samples - 1)) AS BIGINT)
             / 1e6
           END AS zcr
    FROM c
    """,
    note="zero-crossing rate over REAL decoded PCM (audio_vad's "
    "voiced/unvoiced companion): strict sign changes between "
    "consecutive int16 samples counted as integers in the Arrow "
    "kernel; the rate rounds at integer 1e-6 scale in a Spark "
    "expression (never Python's banker's-tie round); oracle replays "
    "samples from text bytes",
)
def _multimodal_audio_zcr(spark, sf):
    return multimodal.audio_zcr(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_video_shots",
    f"""
    WITH {_PAYLOAD_CTE},
    fr AS (SELECT doc_id, n, bytes, CAST(f AS INTEGER) AS f
           FROM pbytes, unnest(range(0, 2 + (n % 3))) AS u(f)
           WHERE n > 0),
    geo AS (SELECT doc_id, n, bytes, f,
                   8 + ((n + f) % 9) AS w,
                   8 + (((n + f) * 3) % 9) AS h
            FROM fr),
    cells AS (
      SELECT doc_id, n, bytes, f, i, j,
             ((i * h) // 8) * w + ((j * w) // 8) AS p
      FROM geo, unnest(range(0, 8)) AS ri(i),
                unnest(range(0, 8)) AS rj(j)),
    g8 AS (
      SELECT doc_id, f, i, j,
             bytes[CAST((3 * p + f) % n AS INT) + 1]
               + bytes[CAST((3 * p + 1 + f) % n AS INT) + 1]
               + bytes[CAST((3 * p + 2 + f) % n AS INT) + 1] AS gray
      FROM cells),
    pair AS (
      SELECT a.doc_id, a.f AS frame_idx,
             sum(abs(a.gray - b.gray)) AS diff
      FROM g8 a
      JOIN g8 b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                AND b.i = a.i AND b.j = a.j
      GROUP BY 1, 2),
    tot AS (SELECT doc_id, count(*) AS np, sum(diff) AS td
            FROM pair GROUP BY 1),
    flagged AS (
      SELECT p.doc_id, p.frame_idx, CAST(p.diff AS BIGINT) AS diff,
             CASE WHEN p.diff * t.np > t.td THEN 1 ELSE 0 END AS is_cut
      FROM pair p JOIN tot t USING (doc_id)
      UNION ALL
      SELECT doc_id, 0, 0, 0 FROM tot),
    st AS (
      SELECT doc_id, frame_idx, diff,
             sum(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS shot_id
      FROM flagged)
    SELECT doc_id, CAST(shot_id AS INTEGER) AS shot_id,
           min(frame_idx) AS start_frame, max(frame_idx) AS end_frame,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(diff) AS BIGINT) AS total_diff
    FROM st GROUP BY doc_id, shot_id
    """,
    note="shot segmentation over the cut flags (gaps-and-islands on "
    "video_scene_diff's pair stream): synthetic frame-0 row anchors "
    "the first shot, shot_id = running cut count over one doc-keyed "
    "window, one (doc, shot) rollup -- all integers end-to-end; the "
    "shot table a video pipeline samples keyframes from",
)
def _multimodal_video_shots(spark, sf):
    return multimodal.video_shots(
        multimodal.attach_video_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_image_dhash",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    grid AS (
      SELECT doc_id, n, bytes, w,
             k // 9 AS gi, k % 9 AS gj,
             ((k // 9) * h) // 8 AS ri,
             ((k % 9) * w) // 9 AS cj
      FROM geo, unnest(range(0, 72)) AS r(k)
    ),
    samp AS (
      SELECT doc_id, gi, gj,
             bytes[CAST((3 * (ri * w + cj)) % n AS INT) + 1]
               + bytes[CAST((3 * (ri * w + cj) + 1) % n AS INT) + 1]
               + bytes[CAST((3 * (ri * w + cj) + 2) % n AS INT) + 1]
               AS gray
      FROM grid
    ),
    bits AS (
      SELECT l.doc_id, l.gi, l.gj,
             CASE WHEN l.gray > r.gray THEN '1' ELSE '0' END AS bit
      FROM samp l
      JOIN samp r ON r.doc_id = l.doc_id AND r.gi = l.gi
                  AND r.gj = l.gj + 1
      WHERE l.gj < 8
    ),
    hashes AS (
      SELECT doc_id,
             string_agg(bit, '' ORDER BY gi, gj) AS dhash
      FROM bits GROUP BY doc_id
    )
    SELECT dhash, min(doc_id) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM hashes GROUP BY dhash
    """,
    note="perceptual difference-hash dedup over REAL decoded BMP "
    "pixels (image_ahash's gradient sibling -- survives global "
    "brightness shifts): nearest-neighbor 8x9 downsample (every "
    "grid point exactly one pixel -- no empty cells on w=8 "
    "fixtures), horizontal-neighbor bits as exact integer "
    "comparisons; oracle replays pixels from text bytes",
)
def _multimodal_image_dhash(spark, sf):
    return multimodal.image_dhash(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_audio_clipping",
    f"""
    WITH {_PAYLOAD_CTE},
    pcm AS (SELECT doc_id, n,
                   list_transform(bytes, x -> (x - 128) * 256) AS s
            FROM pbytes WHERE n > 0)
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(len(list_filter(s, v -> abs(v) >= 16384)) AS BIGINT)
             AS n_clipped,
           CAST(coalesce(list_max(list_transform(s, v -> abs(v))), 0)
                AS BIGINT) AS peak_abs,
           CASE WHEN n > 0 THEN
             CAST(round(len(list_filter(s, v -> abs(v) >= 16384))
                        * 1e6 / n) AS BIGINT) / 1e6
           END AS clip_frac
    FROM pcm
    """,
    note="clipping/headroom report over REAL decoded PCM: half-scale "
    "threshold 16384 bisects the ASCII-derived fixture amplitudes "
    "(|s| <= 24576 -- a near-full-scale cut would pass vacuously); "
    "integer counts in the kernel, rate rounds at integer 1e-6 "
    "scale in a Spark expression",
)
def _multimodal_audio_clipping(spark, sf):
    return multimodal.audio_clipping(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_audio_silence",
    f"""
    WITH {_PAYLOAD_CTE},
    pcm AS (SELECT doc_id, n,
                   list_transform(bytes, x -> (x - 128) * 256) AS s
            FROM pbytes WHERE n > 0),
    idx AS (
      SELECT doc_id, n,
             list_filter(list_transform(s, (v, i) ->
               CASE WHEN abs(v) >= 8192 THEN i END), x -> x IS NOT NULL)
               AS loud,
             len(list_filter(s, v -> abs(v) < 8192)) AS n_silent
      FROM pcm)
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(CASE WHEN len(loud) > 0 THEN loud[1] - 1 ELSE n END
                AS BIGINT) AS lead_silence,
           CAST(CASE WHEN len(loud) > 0 THEN n - loud[len(loud)]
                ELSE n END AS BIGINT) AS trail_silence,
           CAST(n_silent AS BIGINT) AS n_silent
    FROM idx
    """,
    note="leading/trailing-silence trim report over REAL decoded "
    "PCM: threshold 8192 bisects the ASCII-derived amplitudes "
    "(lowercase letters under, capitals/digits over -- "
    "non-degenerate by construction); integer counts in the kernel",
)
def _multimodal_audio_silence(spark, sf):
    return multimodal.audio_silence(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_image_contrast",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, bytes, unnest(range(0, w * h)) AS k
           FROM geo),
    l AS (SELECT doc_id,
                 CAST(bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 2) % n AS INT) + 1]
                      AS BIGINT) AS lum
          FROM px),
    a AS (SELECT doc_id, count(*) AS n_px, sum(lum) AS s1,
                 sum(lum * lum) AS s2
          FROM l GROUP BY doc_id)
    SELECT doc_id, CAST(n_px AS BIGINT) AS n_px,
           CAST(s1 AS BIGINT) AS lum_sum,
           round(sqrt(CAST(n_px * s2 - s1 * s1 AS DOUBLE))
                 / CAST(n_px AS DOUBLE), 4) AS rms_contrast
    FROM a
    """,
    note="per-image RMS contrast over REAL decoded BMP pixels "
    "(image_entropy's stddev companion -- flat gradients carry "
    "entropy but no contrast): Arrow kernel emits integer (n, sum, "
    "sumsq) only, the sqrt runs as a Spark expression; oracle "
    "replays every pixel from the text bytes",
)
def _multimodal_image_contrast(spark, sf):
    return multimodal.image_contrast(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_audio_dynamic_range",
    f"""
    WITH {_PAYLOAD_CTE},
    pcm AS (SELECT doc_id, n,
                   list_transform(bytes, x -> (x - 128) * 256) AS s
            FROM pbytes WHERE n > 0),
    a AS (SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
                 CAST(list_max(list_transform(s, x -> abs(x)))
                      AS BIGINT) AS peak,
                 CAST(list_sum(list_transform(s, x -> x * x))
                      AS BIGINT) AS sumsq
          FROM pcm)
    SELECT doc_id, n_samples, peak,
           round(CASE WHEN sumsq > 0 THEN
                   10.0 * log10(CAST(peak * peak * n_samples AS DOUBLE)
                                / CAST(sumsq AS DOUBLE))
                 END, 4) AS crest_db
    FROM a
    """,
    note="per-clip crest factor (peak/RMS in dB) over REAL decoded "
    "PCM -- the compression/limiting diagnostic next to "
    "audio_clipping's hard-threshold count: integer (n, peak, sumsq) "
    "from the Arrow kernel, one log10 double; oracle replays samples "
    "from text bytes",
)
def _multimodal_audio_dynamic_range(spark, sf):
    return multimodal.audio_dynamic_range(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_image_quadrants",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, bytes, w, h, unnest(range(0, w * h)) AS k
           FROM geo),
    g AS (SELECT doc_id, w, h, (k // w) AS r, (k % w) AS c,
                 CAST(bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 2) % n AS INT) + 1]
                      AS BIGINT) AS lum
          FROM px),
    q AS (
      SELECT doc_id,
             sum(CASE WHEN r < h // 2 AND c < w // 2 THEN lum
                      ELSE 0 END) AS q_tl,
             sum(CASE WHEN r < h // 2 AND c >= w // 2 THEN lum
                      ELSE 0 END) AS q_tr,
             sum(CASE WHEN r >= h // 2 AND c < w // 2 THEN lum
                      ELSE 0 END) AS q_bl,
             sum(CASE WHEN r >= h // 2 AND c >= w // 2 THEN lum
                      ELSE 0 END) AS q_br
      FROM g GROUP BY doc_id)
    SELECT doc_id, CAST(q_tl AS BIGINT) AS q_tl,
           CAST(q_tr AS BIGINT) AS q_tr,
           CAST(q_bl AS BIGINT) AS q_bl,
           CAST(q_br AS BIGINT) AS q_br,
           round(CASE WHEN q_tr + q_bl > 0 THEN
                   CAST(q_tl + q_br AS DOUBLE)
                   / CAST(q_tr + q_bl AS DOUBLE)
                 END, 4) AS diag_balance
    FROM q
    """,
    note="per-image quadrant luminance balance over REAL decoded BMP "
    "pixels (composition/vignetting probe): integer quadrant sums "
    "from the Arrow kernel (floor split, middle row/col to "
    "bottom/right), one ratio double; oracle replays every pixel",
)
def _multimodal_image_quadrants(spark, sf):
    return multimodal.image_quadrants(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_audio_envelope",
    f"""
    WITH {_PAYLOAD_CTE},
    pcm AS (SELECT doc_id, n,
                   list_transform(bytes, x -> (x - 128) * 256) AS s
            FROM pbytes WHERE n > 0),
    segs AS (SELECT doc_id, n, s, unnest(range(0, 4)) AS seg FROM pcm),
    parts AS (
      SELECT doc_id, seg, (seg * n) // 4 AS lo,
             ((seg + 1) * n) // 4 AS hi, s
      FROM segs),
    vals AS (
      SELECT doc_id, seg, hi - lo AS n_in_seg,
             coalesce(list_sum(list_transform(
               list_slice(s, CAST(lo + 1 AS INT), CAST(hi AS INT)),
               x -> x * x)), 0) AS sumsq
      FROM parts)
    SELECT doc_id, CAST(seg AS INTEGER) AS seg,
           CAST(n_in_seg AS BIGINT) AS n_in_seg,
           CAST(sumsq AS BIGINT) AS sumsq,
           round(CASE WHEN n_in_seg > 0 THEN
                   sqrt(CAST(sumsq AS DOUBLE)
                        / CAST(n_in_seg AS DOUBLE))
                 END, 4) AS rms
    FROM vals
    """,
    note="per-clip 4-segment energy envelope over REAL decoded PCM "
    "(attack/sustain/decay shape above audio_vad's frame gate): "
    "floor segment boundaries i*n//4, integer (count, sumsq) per "
    "segment from the Arrow kernel, RMS one double; long scalar "
    "form, never an array column",
)
def _multimodal_audio_envelope(spark, sf):
    return multimodal.audio_envelope(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_image_border_mean",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, bytes, w, h,
                  unnest(range(0, w * h)) AS k
           FROM geo),
    l AS (SELECT doc_id, w, h,
                 CASE WHEN (k % w) IN (0, w - 1)
                        OR CAST(floor(k / w) AS BIGINT) IN (0, h - 1)
                      THEN 1 ELSE 0 END AS on_border,
                 CAST(bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 2) % n AS INT) + 1]
                      AS BIGINT) AS lum
          FROM px),
    a AS (SELECT doc_id,
                 count(*) AS n_px,
                 sum(on_border) AS n_border,
                 sum(on_border * lum) AS border_sum,
                 sum(lum) AS total_sum
          FROM l GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_px AS BIGINT) AS n_px,
           CAST(n_border AS BIGINT) AS n_border,
           CAST(border_sum AS BIGINT) AS border_sum,
           CAST(total_sum - border_sum AS BIGINT) AS interior_sum,
           round(CASE WHEN total_sum - border_sum > 0 THEN
                   CAST(border_sum * (n_px - n_border) AS DOUBLE)
                   / CAST((total_sum - border_sum) * n_border AS DOUBLE)
                 END, 4) AS border_ratio
    FROM a
    """,
    note="border-vs-interior luminance ratio over REAL decoded BMP "
    "pixels (letterbox / matting / watermark-frame detector): Arrow "
    "kernel emits integer sums only, the single ratio written as ONE "
    "division off exact integers; oracle replays every pixel from "
    "the text bytes",
)
def _multimodal_image_border_mean(spark, sf):
    return multimodal.image_border_mean(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_image_colorfulness",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, bytes, unnest(range(0, w * h)) AS k
           FROM geo),
    l AS (SELECT doc_id,
                 CAST(bytes[CAST((k * 3 + 0) % n AS INT) + 1] AS BIGINT)
                   AS r,
                 CAST(bytes[CAST((k * 3 + 1) % n AS INT) + 1] AS BIGINT)
                   AS g,
                 CAST(bytes[CAST((k * 3 + 2) % n AS INT) + 1] AS BIGINT)
                   AS b
          FROM px),
    o AS (SELECT doc_id, 2 * r - 2 * g AS rg2, r + g - 2 * b AS yb2
          FROM l),
    a AS (SELECT doc_id, count(*) AS n_px,
                 sum(rg2) AS s1, sum(rg2 * rg2) AS q1,
                 sum(yb2) AS s2, sum(yb2 * yb2) AS q2
          FROM o GROUP BY doc_id)
    SELECT doc_id, CAST(n_px AS BIGINT) AS n_px,
           CAST(s1 AS BIGINT) AS rg2_sum,
           CAST(s2 AS BIGINT) AS yb2_sum,
           round((sqrt(CAST(n_px * q1 - s1 * s1 AS DOUBLE)
                       / (CAST(n_px AS DOUBLE) * CAST(n_px AS DOUBLE))
                       + CAST(n_px * q2 - s2 * s2 AS DOUBLE)
                         / (CAST(n_px AS DOUBLE) * CAST(n_px AS DOUBLE)))
                  + 0.3 * sqrt((CAST(s1 AS DOUBLE) / CAST(n_px AS DOUBLE))
                               * (CAST(s1 AS DOUBLE) / CAST(n_px AS DOUBLE))
                               + (CAST(s2 AS DOUBLE) / CAST(n_px AS DOUBLE))
                                 * (CAST(s2 AS DOUBLE)
                                    / CAST(n_px AS DOUBLE))))
                 / 2.0, 4) AS colorfulness
    FROM a
    """,
    note="Hasler-Susstrunk colorfulness over REAL decoded BMP pixels "
    "(grayscale-scan detector next to image_contrast): opponent "
    "channels at exact 2x integer scale, one closing double halved "
    "at the end; oracle replays every pixel",
)
def _multimodal_image_colorfulness(spark, sf):
    return multimodal.image_colorfulness(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_image_row_profile",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    px AS (SELECT doc_id, n, bytes, w, unnest(range(0, w * h)) AS k
           FROM geo),
    l AS (SELECT doc_id, CAST(floor(k / w) AS INTEGER) AS row,
                 CAST(bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                    + bytes[CAST((k * 3 + 2) % n AS INT) + 1]
                      AS BIGINT) AS lum
          FROM px),
    a AS (SELECT doc_id, row, count(*) AS n_in_row, sum(lum) AS lum_sum
          FROM l GROUP BY doc_id, row)
    SELECT doc_id, row,
           CAST(n_in_row AS BIGINT) AS n_in_row,
           CAST(lum_sum AS BIGINT) AS lum_sum,
           round(CAST(lum_sum AS DOUBLE) / CAST(n_in_row AS DOUBLE), 4)
             AS row_mean
    FROM a
    """,
    note="per-row luminance profile over REAL decoded BMP pixels "
    "(banding/letterbox diagnostic at row grain, long scalar form): "
    "integer row sums from the Arrow kernel, one mean double per row",
)
def _multimodal_image_row_profile(spark, sf):
    return multimodal.image_row_profile(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_audio_autocorr_pitch",
    f"""
    WITH {_PAYLOAD_CTE},
    pcm AS (SELECT doc_id, n,
                   list_transform(bytes, x -> (x - 128) * 256) AS s
            FROM pbytes WHERE n > 0),
    lags AS (SELECT k FROM (VALUES (2), (3), (4), (5), (8), (16), (32),
                            (64)) AS g(k)),
    raw AS (
      SELECT doc_id, n, k AS lag,
             CAST(list_sum(list_transform(range(1, n - k + 1),
                    i -> s[CAST(i AS INT)] * s[CAST(i + k AS INT)]))
                  AS BIGINT) AS ac_raw,
             CAST(list_sum(s[1:n - k]) AS BIGINT) AS head_sum,
             CAST(list_sum(s[k + 1:n]) AS BIGINT) AS tail_sum,
             CAST(list_sum(s) AS BIGINT) AS s_total,
             CAST(list_sum(list_transform(s, v -> v * v)) AS BIGINT)
               AS energy_raw
      FROM pcm JOIN lags ON n > k),
    cent AS (
      SELECT doc_id, n, lag,
             CAST(round(CAST(s_total AS DOUBLE) / n) AS BIGINT) AS c,
             ac_raw, head_sum, tail_sum, s_total, energy_raw
      FROM raw),
    cc AS (
      SELECT doc_id, n, lag,
             CAST(ac_raw - c * (head_sum + tail_sum)
                  + (n - lag) * c * c AS DOUBLE)
               / CAST(n - lag AS DOUBLE) AS mean_ac,
             energy_raw - 2 * c * s_total + n * c * c AS energy_c
      FROM cent),
    tagged AS (
      SELECT doc_id, n, lag, mean_ac, energy_c,
             max(mean_ac) OVER (PARTITION BY doc_id) AS mx
      FROM cc)
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(min(CASE WHEN mean_ac = mx THEN lag END) AS INTEGER)
             AS best_lag,
           round(CASE WHEN energy_c > 0 THEN
                   mx * CAST(n AS DOUBLE) / CAST(energy_c AS DOUBLE)
                 END, 6) AS clarity
    FROM tagged GROUP BY doc_id, n, energy_c, mx
    """,
    note="mean-centered autocorrelation pitch probe over REAL decoded "
    "PCM at a fixed candidate-lag grid: the Arrow kernel emits raw "
    "integer sufficient statistics only, both engines derive the "
    "centered ac/energy identically (one shared round(S/n)), per-lag "
    "means normalize away term-count bias, argmax ties pin to the "
    "smallest lag",
)
def _multimodal_audio_autocorr_pitch(spark, sf):
    return multimodal.audio_autocorr_pitch(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_image_edge_density",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   8 + (n % 9) AS w, 8 + ((n * 3) % 9) AS h
            FROM pbytes WHERE n > 0),
    lums AS (SELECT doc_id, w, h,
                    list_transform(range(0, w * h), k ->
                        bytes[CAST((k * 3 + 0) % n AS INT) + 1]
                      + bytes[CAST((k * 3 + 1) % n AS INT) + 1]
                      + bytes[CAST((k * 3 + 2) % n AS INT) + 1]) AS L
             FROM geo),
    px AS (SELECT doc_id, w, h, L,
                  unnest(range(0, (h - 2) * (w - 2))) AS j
           FROM lums WHERE h > 2 AND w > 2),
    g AS (SELECT doc_id, (h - 2) * (w - 2) AS n_int,
                 (L[CAST((j // (w-2) + 0) * w + (j % (w-2) + 2) AS INT) + 1]
                  + 2 * L[CAST((j // (w-2) + 1) * w + (j % (w-2) + 2) AS INT) + 1]
                  + L[CAST((j // (w-2) + 2) * w + (j % (w-2) + 2) AS INT) + 1]
                  - L[CAST((j // (w-2) + 0) * w + (j % (w-2) + 0) AS INT) + 1]
                  - 2 * L[CAST((j // (w-2) + 1) * w + (j % (w-2) + 0) AS INT) + 1]
                  - L[CAST((j // (w-2) + 2) * w + (j % (w-2) + 0) AS INT) + 1]) AS gx,
                 (L[CAST((j // (w-2) + 2) * w + (j % (w-2) + 0) AS INT) + 1]
                  + 2 * L[CAST((j // (w-2) + 2) * w + (j % (w-2) + 1) AS INT) + 1]
                  + L[CAST((j // (w-2) + 2) * w + (j % (w-2) + 2) AS INT) + 1]
                  - L[CAST((j // (w-2) + 0) * w + (j % (w-2) + 0) AS INT) + 1]
                  - 2 * L[CAST((j // (w-2) + 0) * w + (j % (w-2) + 1) AS INT) + 1]
                  - L[CAST((j // (w-2) + 0) * w + (j % (w-2) + 2) AS INT) + 1]) AS gy
          FROM px),
    a AS (SELECT doc_id, max(n_int) AS n_interior,
                 sum(CASE WHEN gx * gx + gy * gy >= 40000
                          THEN 1 ELSE 0 END) AS n_edges
          FROM g GROUP BY doc_id)
    SELECT doc_id, CAST(n_interior AS BIGINT) AS n_interior,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(CAST(round(n_edges * 1e6
                           / CAST(n_interior AS DOUBLE)) AS BIGINT)
                AS DOUBLE) / 1e6 AS edge_density
    FROM a
    """,
    note="per-image Sobel edge density over REAL decoded BMP pixels "
    "(image_contrast's structure companion -- the blur/blank gate): "
    "integer 3x3 convolutions on interior luminance, exact edge "
    "flags at gx^2+gy^2 >= 40000, density one integer ratio at "
    "1e-6; oracle replays every pixel from the text bytes",
)
def _multimodal_image_edge_density(spark, sf):
    return multimodal.image_edge_density(
        multimodal.attach_image_payload(_t(spark, sf, "documents"))
    )


@_register(
    "multimodal_audio_tempo",
    f"""
    WITH {_PAYLOAD_CTE},
    geo AS (SELECT doc_id, n, bytes,
                   least(CAST(n // 64 AS INT), 16) AS nf
            FROM pbytes WHERE n // 64 >= 4),
    fr AS (SELECT doc_id, nf, unnest(range(0, nf)) AS f, bytes
           FROM geo),
    en AS (SELECT doc_id, nf, f,
                  list_sum(list_transform(
                      list_slice(bytes,
                                 CAST(f * 64 + 1 AS INT),
                                 CAST(f * 64 + 64 AS INT)),
                      b -> (b - 128) * (b - 128))) AS e
           FROM fr),
    cen AS (SELECT doc_id, nf, f,
                   nf * e - sum(e) OVER (PARTITION BY doc_id) AS c
            FROM en),
    lags AS (SELECT a.doc_id, a.nf, b.f - a.f AS lag,
                    sum(a.c * b.c) AS r
             FROM cen a JOIN cen b
               ON a.doc_id = b.doc_id AND b.f > a.f
                  AND b.f - a.f <= a.nf - 2
             GROUP BY 1, 2, 3),
    best AS (SELECT doc_id, nf, lag, r,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY r DESC, lag) AS rn
             FROM lags)
    SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
           CAST(lag AS BIGINT) AS best_lag,
           CAST(r AS BIGINT) AS r_best
    FROM best WHERE rn = 1
    """,
    note="frame-energy autocorrelation best lag over REAL decoded "
    "PCM (the onset-periodicity primitive under beat tracking): "
    "energies divide out the synthesizer's 256x amplitude to exact "
    "ints, centering multiplies through by n_frames (still exact), "
    "lag products bounded inside int64 by construction; ties to the "
    "lowest lag; oracle replays every sample from the text bytes",
)
def _multimodal_audio_tempo(spark, sf):
    return multimodal.audio_tempo_autocorr(
        multimodal.attach_audio_payload(_t(spark, sf, "documents"))
    )
