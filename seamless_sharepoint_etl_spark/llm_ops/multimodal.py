"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Provenance: SURVEY.md §2 Tier B, Multimodal row — north-star
requirement (BASELINE.json), no reference counterpart.

The fixtures carry no real image/audio bytes (TESTDATA.md), so the
*payload* is the document's UTF-8 bytes treated as an opaque BLOB —
which exercises exactly the Spark surface a real multimodal pipeline
needs: BinaryType columns flowing through select/filter/write, digest
and byte-level metadata computed JVM-side, and Arrow-batched
``mapInPandas`` for the decode/feature-extract hop.

FFMPEG-CLASS decode (H.264/MP3) is a STUB by design: those codecs are
not in this container. ``decode_payload(real=True)`` raises
NotImplementedError at the exact seam where one plugs in; the default
is a deterministic fake that derives "width/height/format" from the
bytes so the Spark-side schema, batching, and partitioning are fully
real and testable. Every format implementable from its public spec is
REAL end-to-end: ``ppm_decode_features`` (P6 header parse + pixel
reshape), ``png_decode_features`` (zlib inflate + all-five-filter
scanline reconstruction + chunk CRC verification),
``jpeg_decode_features`` (baseline ITU T.81 — canonical Huffman
entropy decode, dequantization, IDCT), ``gif_decode_features``
(GIF87a — real variable-width LZW, the dictionary-coder family),
``wav_decode_features`` (RIFF/PCM16), ``mulaw_decode_features``
(ITU-T G.711 mu-law companding — a real compressed-audio codec) and
``video_decode_features`` (raw frame planes) — each with statistics
value-proven against the DuckDB oracle.

Scale posture: binary columns ride Parquet untouched (no re-encode);
mapInPandas streams Arrow record batches, so per-row Python overhead is
amortized; batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch`` when payloads are
large (set it low for multi-MB blobs to bound executor memory).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io

DECODED_SCHEMA = (
    "doc_id LONG, n_bytes LONG, fake_width INT, fake_height INT, "
    "fake_format STRING, byte_checksum LONG"
)


def with_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + an opaque binary `payload` column with typed metadata."""
    d = io.load_table_parallel(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").alias("declared_size"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side metadata over the opaque payload: size, digest, magic
    bytes — the 'stat pass' a multimodal pipeline runs before decode."""
    p = with_payload(spark, sf_dir)
    return p.select(
        "doc_id",
        F.length("payload").alias("n_bytes"),
        F.substring(F.sha2(F.col("payload"), 256), 1, 16).alias("sha256_prefix"),
        F.md5(F.col("payload")).alias("md5"),
        F.hex(F.expr("substring(payload, 1, 8)")).alias("magic_bytes"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.declared_size").alias("declared_size"),
    )


BINARY_METADATA_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text)[:16] AS sha256_prefix,
       md5(text) AS md5,
       hex(encode(substring(text, 1, 8))) AS magic_bytes,
       'text/plain' AS mime,
       n_chars AS declared_size
FROM documents
"""


def _fake_decode(payload: bytes) -> tuple[int, int, str, int]:
    """Deterministic stand-in for a real decoder (STUB — see module doc)."""
    checksum = sum(payload[::16])  # 'frame sample' every 16th byte
    width = payload[0] % 64 + 1 if payload else 0
    height = payload[-1] % 64 + 1 if payload else 0
    fmt = "fakeimg" if len(payload) % 2 == 0 else "fakeaud"
    return width, height, fmt, checksum


def decode_payload(df: DataFrame, real: bool = False) -> DataFrame:
    """Arrow-batched decode/feature-extract over payload bytes.

    ``real=True`` is the seam for an actual decoder and deliberately
    raises: the image/audio libraries are not available here.
    """
    if real:
        raise NotImplementedError(
            "ffmpeg-class codecs (H.264/MP3) are not available in this "
            "environment; plug them in here — the Spark plumbing (schema, "
            "Arrow batching, partitioning) is identical for the real path. "
            "PNG (png_decode_features), baseline JPEG "
            "(jpeg_decode_features), PPM, WAV-PCM16, G.711 mu-law "
            "(mulaw_decode_features) and raw video frames are REAL "
            "decode paths already"
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL text → NULL payload → Arrow delivers None: coalesce
            # to b"" like every sibling kernel in this module
            payloads = [p if p is not None else b"" for p in pdf["payload"]]
            decoded = [_fake_decode(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in payloads],
                    "fake_width": [d[0] for d in decoded],
                    "fake_height": [d[1] for d in decoded],
                    "fake_format": [d[2] for d in decoded],
                    "byte_checksum": [d[3] for d in decoded],
                }
            )

    return df.mapInPandas(decode, DECODED_SCHEMA)


def decode_stub_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal hop: payload → mapInPandas decode → features.

    rows-only for the driver (the decode is Python-side); pytest
    asserts the checksum column equals the JVM-computed equivalent.
    """
    return decode_payload(with_payload(spark, sf_dir))


def frame_sample_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side twin of the stub's 'frame sampling': sum of every 16th
    byte — proves byte-level ops need no Python (and oracles the stub)."""
    p = with_payload(spark, sf_dir)
    # guarded: sequence(1, 0, 16) errors on an empty/NULL payload — an
    # empty asset must check out as 0, not kill the job
    return p.select(
        "doc_id",
        F.expr(
            """
            aggregate(
              CASE WHEN length(payload) >= 1 THEN
                transform(sequence(1, length(payload), 16),
                          i -> CAST(ascii(CAST(substring(payload, i, 1) AS STRING)) AS BIGINT))
              ELSE CAST(array() AS ARRAY<BIGINT>) END,
              CAST(0 AS BIGINT), (acc, x) -> acc + x)
            """
        ).alias("byte_checksum"),
    )


FRAME_SAMPLE_SQL = """
SELECT doc_id,
       CAST(coalesce(list_sum(list_transform(
         range(1, length(text) + 1, 16),
         i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)
       )), 0) AS BIGINT) AS byte_checksum
FROM documents
"""


N_HIST_BINS = 16  # byte high-nibble histogram


def byte_histogram_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL (non-stub) feature extraction over binary payloads: a
    16-bin byte histogram (high nibble) per asset, computed with numpy
    over Arrow batches in ``mapInPandas`` — the exact shape an
    image/audio featurizer has (bytes in → fixed-width numeric vector
    out), but with arithmetic this container can actually run.

    Per batch: one ``np.frombuffer`` + ``np.bincount`` per row, zero
    Python-per-byte work; the Arrow batch amortizes the Python hop.
    Output is 16 scalar columns (driver canonicalizer takes no
    arrays). The DuckDB oracle recomputes every bin from the source
    text, so the Python path is value-proven, not just smoke-tested.
    """
    p = with_payload(spark, sf_dir).select("doc_id", "payload")
    cols = ["doc_id"] + [f"bin_{i:02d}" for i in range(N_HIST_BINS)]
    schema = "doc_id BIGINT, " + ", ".join(
        f"bin_{i:02d} BIGINT" for i in range(N_HIST_BINS)
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(payload or b"", dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=N_HIST_BINS)
                rows.append([doc_id, *hist.tolist()])
            yield pd.DataFrame(rows, columns=cols)

    return p.mapInPandas(extract, schema)


# ASCII fixture text ⇒ characters == bytes, so the oracle can count
# high nibbles via ascii() per character position.
BYTE_HISTOGRAM_SQL = "SELECT doc_id, " + ", ".join(
    f"""CAST(coalesce(list_sum(list_transform(range(1, length(text) + 1),
        i -> CASE WHEN ascii(substring(text, i, 1)) // 16 = {b}
             THEN 1 ELSE 0 END)), 0) AS BIGINT) AS bin_{b:02d}"""
    for b in range(N_HIST_BINS)
) + " FROM documents"


# Magic headers for the routing fixture: injected by doc_id % 3, then
# SNIFFED back from the bytes (the router never looks at doc_id).
_MAGIC = {
    0: ("89504E470D0A1A0A", "image/png"),
    1: ("FFD8FFE0", "image/jpeg"),
    2: ("52494646", "audio/wav"),
}


def modality_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-modality routing: payloads carry REAL magic headers
    (PNG/JPEG/RIFF), and the router classifies each blob by sniffing
    its leading bytes — never by trusting metadata — then reports the
    per-modality shard profile (doc count, total body bytes) that a
    downstream per-modality decode fleet would be provisioned from.

    Per-row byte ops + one tiny agg (|modalities| rows). The header
    injection is the fixture; the sniff path is the operator. The
    oracle derives the same shard profile from the injection rule, so
    a sniff that misroutes ANY payload breaks the hash match.
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    hdr = (
        F.when(F.col("doc_id") % 3 == 0, F.unhex(F.lit(_MAGIC[0][0])))
        .when(F.col("doc_id") % 3 == 1, F.unhex(F.lit(_MAGIC[1][0])))
        .otherwise(F.unhex(F.lit(_MAGIC[2][0])))
    )
    # coalesce NULL text to '' so the payload keeps its magic header:
    # concat(hdr, NULL) would NULL the whole payload and the sniff
    # would fall through to octet-stream while the oracle (which
    # routes by the injection rule) still classifies the doc.
    blobs = d.select(
        "doc_id",
        F.concat(hdr, F.encode(F.coalesce("text", F.lit("")), "utf-8")).alias(
            "payload"
        ),
    )
    lead = F.hex(F.expr("substring(payload, 1, 8)"))
    sniffed = (
        F.when(lead.startswith(_MAGIC[0][0]), F.lit(_MAGIC[0][1]))
        .when(lead.startswith(_MAGIC[1][0]), F.lit(_MAGIC[1][1]))
        .when(lead.startswith(_MAGIC[2][0]), F.lit(_MAGIC[2][1]))
        .otherwise(F.lit("application/octet-stream"))
    )
    hdr_len = (
        F.when(sniffed == _MAGIC[0][1], F.lit(8))
        .when(sniffed == _MAGIC[1][1], F.lit(4))
        .otherwise(F.lit(4))
    )
    return (
        blobs.select(
            sniffed.alias("modality"),
            (F.length("payload") - hdr_len).cast("long").alias("body_bytes"),
        )
        .groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("body_bytes").alias("total_body_bytes"),
        )
    )


MODALITY_ROUTING_SQL = """
SELECT CASE doc_id % 3 WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'image/jpeg'
                       ELSE 'audio/wav' END AS modality,
       count(*) AS n_docs,
       CAST(sum(octet_length(CAST(coalesce(text, '') AS BLOB))) AS BIGINT)
         AS total_body_bytes
FROM documents
GROUP BY 1
"""



PHASH_BANDS = 4
PHASH_MAX_HAMMING = 3  # pigeonhole: <= BANDS-1 bit flips always share a band


def phash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit perceptual-hash-style signature per binary payload: the
    payload is cut into a fixed 64-block grid and each bit is that
    block's mean vs the global mean — the byte-level analog of an
    image pHash's DCT-grid-vs-median bits, with the identical Spark
    surface: bytes → Arrow batch → numpy featurize → fixed-width
    signature column.

    A small local edit perturbs one or two blocks (small Hamming
    distance); unrelated payloads disagree on ~half the bits. (A byte
    *histogram* signature is useless here — natural-language bytes
    give near-identical histograms corpus-wide, which collapses every
    doc into one blocking bucket and makes the "near-dup" answer
    itself quadratic.)
    """
    p = with_payload(spark, sf_dir).select("doc_id", "payload")

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(payload or b"", dtype=np.uint8)
                if arr.size == 0:
                    arr = np.zeros(1, dtype=np.uint8)
                means = np.array(
                    [c.mean() if c.size else 0.0 for c in np.array_split(arr, 64)]
                )
                bits = means > arr.mean()
                h = 0
                for b in bits:
                    h = (h << 1) | int(b)
                if h >= 1 << 63:
                    h -= 1 << 64
                out.append([doc_id, h])
            yield pd.DataFrame(out, columns=["doc_id", "phash"])

    return p.mapInPandas(sig, "doc_id BIGINT, phash BIGINT")


def phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate binary assets by signature Hamming distance —
    banded-bucket blocking, the multimodal twin of MinHash-LSH.

    The 64-bit signature splits into ``PHASH_BANDS`` 16-bit bands;
    pairs sharing any band value are candidates (pigeonhole: a pair
    within ``PHASH_MAX_HAMMING`` = BANDS−1 bit flips must agree on at
    least one band, so blocking is EXACT — recall 1.0, proven by the
    pytest brute-force twin, not sampled). Verification XORs the two
    signatures and counts bits JVM-side. At 100 TB: band buckets are
    the shuffle key (16-bit values × band index), candidate volume is
    Σ|bucket|² like every LSH family, and the signature relation is
    8 bytes/asset — the whole join moves fixed-width keys, never
    payloads. rows-only for the driver (the signature is Python-side);
    the pytest gate checks the pair set equals brute force exactly.
    """
    s = phash_signatures(spark, sf_dir)
    s = s.persist()
    bands = s.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.shiftrightunsigned(F.col("phash"), 16 * i)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("band_val"),
                )
                for i in range(PHASH_BANDS)
            ])
        ).alias("b"),
    ).select("doc_id", "phash", "b.band_idx", "b.band_val")
    a = bands.select(
        F.col("band_idx").alias("bi"),
        F.col("band_val").alias("bv"),
        F.col("doc_id").alias("doc_lo"),
        F.col("phash").alias("ph_lo"),
    )
    b = bands.select(
        F.col("band_idx").alias("bi"),
        F.col("band_val").alias("bv"),
        F.col("doc_id").alias("doc_hi"),
        F.col("phash").alias("ph_hi"),
    )
    cand = (
        a.join(b, ["bi", "bv"])
        .filter(F.col("doc_lo") < F.col("doc_hi"))
        .select("doc_lo", "doc_hi", "ph_lo", "ph_hi")
        .distinct()
    )
    ham = F.bit_count(F.col("ph_lo").bitwiseXOR(F.col("ph_hi")))
    return (
        cand.select("doc_lo", "doc_hi", ham.alias("hamming"))
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
    )


# ---------------------------------------------------------------------------
# REAL decode path: P6 PPM images, decoded in pure numpy
# ---------------------------------------------------------------------------

PPM_W, PPM_H = 24, 16  # 24×16 RGB → 1152 pixel bytes
_PPM_BODY_LEN = PPM_W * PPM_H * 3


def _cycled_body(n: int):
    """Spark Column: the document's printable-sanitized text cycled to
    exactly ``n`` bytes — '[^ -~]'→'?' keeps every char single-byte
    ASCII (chars == bytes), NULL/empty coalesce to ' ', and ``rpad``
    cycles its pad string. ONE definition feeds all five payload
    builders so the byte construction cannot silently diverge between
    formats (the round-6 review's 10×-copy-paste finding)."""
    san = "coalesce(nullif(regexp_replace(text, '[^ -~]', '?'), ''), ' ')"
    return F.expr(f"rpad({san}, {n}, {san})")


def _cycled_body_sql(n: int) -> str:
    """DuckDB twin of _cycled_body — identical semantics; DuckDB's
    regexp_replace needs the explicit 'g' flag to replace all."""
    san = "coalesce(nullif(regexp_replace(text, '[^ -~]', '?', 'g'), ''), ' ')"
    return f"rpad({san}, {n}, {san})"


def with_ppm_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → VALID binary P6 PPM images: ``P6\\n24 16\\n255\\n``
    header + the document's bytes cycled to exactly H·W·3 pixel bytes
    (rpad cycles its pad string; all construction is JVM-side).

    Unlike the ``decode_payload`` stub (which marks where PIL/ffmpeg
    would plug in for COMPRESSED formats), PPM needs no codec — so the
    engine carries one genuinely end-to-end image path: real header
    parse, real pixel buffer, real decode, with the same mapInPandas
    surface a JPEG decoder would use.
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    body = _cycled_body(_PPM_BODY_LEN)
    return d.select(
        "doc_id",
        F.encode(
            F.concat(F.lit(f"P6\n{PPM_W} {PPM_H}\n255\n"), body), "utf-8"
        ).alias("payload"),
    )


def ppm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the PPM payloads and extract image features — the real
    thing, no stub: numpy parses the header, reshapes the pixel buffer
    to (H, W, 3), and computes per-channel means (integer milli-units,
    so the DuckDB oracle can re-derive them from the same byte
    construction and hash-match the VALUES) plus a 4×4 mean-pooled
    thumbnail digest (pytest-gated; SQL owes no pooling).

    Scale: identical to any image featurizer — payload bytes ride
    Arrow batches into the worker once, features are a few ints per
    image, and nothing but those ints shuffles.
    """
    p = with_ppm_payload(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                # header: magic, dims, maxval — three '\n'-terminated fields
                nl1 = buf.index(b"\n")
                nl2 = buf.index(b"\n", nl1 + 1)
                nl3 = buf.index(b"\n", nl2 + 1)
                assert buf[:nl1] == b"P6"
                w, h = (int(x) for x in buf[nl1 + 1 : nl2].split())
                maxval = int(buf[nl2 + 1 : nl3])
                assert maxval == 255
                img = (
                    np.frombuffer(buf, np.uint8, count=w * h * 3, offset=nl3 + 1)
                    .reshape(h, w, 3)
                    .astype(np.int64)
                )
                sums = img.sum(axis=(0, 1))  # per-channel
                means_milli = (sums * 1000) // (w * h)
                pooled = (
                    img.reshape(h // 4, 4, w // 4, 4, 3).sum(axis=(1, 3)) // 16
                )
                crc = int(
                    (pooled.ravel() * np.arange(1, pooled.size + 1)).sum()
                    % (1 << 31)
                )
                out.append(
                    [doc_id, w, h]
                    + [int(m) for m in means_milli]
                    + [crc]
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "r_mean_milli",
                    "g_mean_milli",
                    "b_mean_milli",
                    "thumb_crc",
                ],
            )

    decoded = p.mapInPandas(
        run,
        "doc_id LONG, width INT, height INT, r_mean_milli LONG,"
        " g_mean_milli LONG, b_mean_milli LONG, thumb_crc LONG",
    )
    # thumb_crc is numpy-side pooling the oracle doesn't re-derive —
    # keep the driver-facing result fully value-checkable
    return decoded.drop("thumb_crc").orderBy("doc_id")


# ---------------------------------------------------------------------------
# REAL compressed-codec decode path: PNG (zlib + filter reconstruction,
# both stdlib/numpy — no PIL needed)
# ---------------------------------------------------------------------------

PNG_W, PNG_H = 24, 16
_PNG_BODY_LEN = PNG_W * PNG_H * 3
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _filter_scanlines_batch(raws: "np.ndarray") -> "np.ndarray":  # noqa: F821
    """Apply the cycling PNG scanline filters to a BATCH of images at
    once: (n, H, W*3) int64 → (n, H*(1+W*3)) uint8 filtered streams.

    Encoding filters reference RAW neighbors, so every filter type is
    fully vectorizable over both pixels and images — the per-scanline
    loop below runs H numpy steps regardless of batch size (the
    per-byte Python loop version cost 6.3 s at sf0.1; this shape is
    what keeps the Python hop Arrow-amortized)."""
    import numpy as np

    n, h, stride = raws.shape
    bpp = 3
    out = np.empty((n, h, 1 + stride), np.uint8)
    prior = np.zeros((n, stride), np.int64)
    for y in range(h):
        ft = y % 5
        cur = raws[:, y, :]
        left = np.zeros_like(cur)
        left[:, bpp:] = cur[:, :-bpp]
        if ft == 0:
            filt = cur
        elif ft == 1:  # Sub
            filt = (cur - left) % 256
        elif ft == 2:  # Up
            filt = (cur - prior) % 256
        elif ft == 3:  # Average
            filt = (cur - (left + prior) // 2) % 256
        else:  # Paeth
            pl = np.zeros_like(prior)
            pl[:, bpp:] = prior[:, :-bpp]
            p = left + prior - pl
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - pl)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, pl)
            )
            filt = (cur - pred) % 256
        out[:, y, 0] = ft
        out[:, y, 1:] = filt.astype(np.uint8)
        prior = cur
    return out.reshape(n, h * (1 + stride))


def _defilter_batch(plains: "np.ndarray", h: int, stride: int) -> "np.ndarray":  # noqa: F821
    """Reconstruct a BATCH of same-shape inflated scanline streams:
    (n, H*(1+stride)) uint8 → (n, H, stride) int64 pixel rows.

    Reconstruction of Sub/Average/Paeth rows is sequential in x (the
    left neighbor is the RECONSTRUCTED byte), so those rows run a
    stride-length loop of numpy steps vectorized across the batch;
    None/Up rows are single vectorized ops. Requires every stream in
    the batch to carry the same per-row filter types (true for the
    cycling encoder; asserted)."""
    import numpy as np

    n = plains.shape[0]
    bpp = 3
    rows = plains.reshape(n, h, 1 + stride)
    img = np.zeros((n, h, stride), np.int64)
    prior = np.zeros((n, stride), np.int64)
    zero = np.zeros(n, np.int64)
    for y in range(h):
        ft = int(rows[0, y, 0])
        assert (rows[:, y, 0] == ft).all(), "mixed filter types in batch"
        filt = rows[:, y, 1:].astype(np.int64)
        if ft == 0:
            cur = filt
        elif ft == 2:
            cur = (filt + prior) % 256
        elif ft in (1, 3, 4):
            cur = np.zeros((n, stride), np.int64)
            for x in range(stride):
                a = cur[:, x - bpp] if x >= bpp else zero
                b = prior[:, x]
                c = prior[:, x - bpp] if x >= bpp else zero
                if ft == 1:
                    rec = filt[:, x] + a
                elif ft == 3:
                    rec = filt[:, x] + (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                    )
                    rec = filt[:, x] + pred
                cur[:, x] = rec % 256
        else:
            raise AssertionError(f"bad filter type {ft}")
        img[:, y, :] = cur
        prior = cur
    return img


def _encode_png(raw: "np.ndarray") -> bytes:  # noqa: F821 (lazy numpy)
    """Encode an (H, W, 3) uint8 array as a real truecolor PNG.

    Scanline filters CYCLE through all five spec types (None, Sub, Up,
    Average, Paeth) so the decoder's filter reconstruction is exercised
    on every image, not just the trivial type-0 path."""
    import struct
    import zlib

    import numpy as np

    h, w, _ = raw.shape
    stream = _filter_scanlines_batch(
        raw.reshape(1, h, w * 3).astype(np.int64)
    )[0]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit truecolor
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(stream.tobytes(), 6))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png(buf: bytes) -> "np.ndarray":  # noqa: F821
    """Decode a truecolor-8 PNG: chunk walk with CRC verification,
    zlib inflate, per-scanline filter reconstruction (all 5 types)."""
    import struct
    import zlib

    import numpy as np

    assert buf[:8] == _PNG_SIG, "bad PNG signature"
    pos, w = 8, None
    idat = bytearray()
    while pos < len(buf):
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        tag = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", buf[pos + 8 + length : pos + 12 + length])
        assert crc == (zlib.crc32(tag + data) & 0xFFFFFFFF), "chunk CRC mismatch"
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            assert (depth, ctype, interlace) == (8, 2, 0), "unsupported PNG"
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            break
        pos += 12 + length
    assert w is not None, "missing IHDR"
    stride = w * 3
    plain = zlib.decompress(bytes(idat))
    assert len(plain) == h * (1 + stride), "IDAT length mismatch"
    img = _defilter_batch(
        np.frombuffer(plain, np.uint8).reshape(1, -1), h, stride
    )[0]
    return img.reshape(h, w, 3).astype(np.uint8)


def _png_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, raw) pixel-body relation shared by the PNG encoder's
    two consumers (payload builder and the fused decode query)."""
    d = io.load_table_parallel(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.encode(_cycled_body(_PNG_BODY_LEN), "utf-8").alias("raw")
    )


def _png_enc_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow-batched PNG encoder: (doc_id, raw) → (doc_id, payload).
    Module-level (guide §4.5) so the decode query can compose it with
    the feature kernel in ONE Python eval node instead of paying a
    second JVM↔Python boundary for the payload bytes."""
    import struct
    import zlib

    import numpy as np

    ihdr = struct.pack(">IIBBBBB", PNG_W, PNG_H, 8, 2, 0, 0, 0)
    head = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    iend = _png_chunk(b"IEND", b"")
    for pdf in batches:
        if not len(pdf):
            continue
        # filter the whole Arrow batch in one vectorized pass; only
        # the deflate (C-speed) runs per image
        raws = np.stack(
            [np.frombuffer(bytes(r), np.uint8) for r in pdf["raw"]]
        ).reshape(-1, PNG_H, PNG_W * 3).astype(np.int64)
        streams = _filter_scanlines_batch(raws)
        payloads = [
            head + _png_chunk(b"IDAT", zlib.compress(s.tobytes(), 6)) + iend
            for s in streams
        ]
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def png_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode REAL PNG payloads — signature check, chunk CRC walk,
    zlib inflate, filter reconstruction across all five scanline filter
    types — and emit per-channel means (integer milli-units).

    This closes the round-4 verdict's last honest stub: the compressed
    image path no longer needs PIL. The DuckDB oracle never sees the
    codec; it derives the same channel sums from the text-derived pixel
    body, so a hash match PROVES the deflate→inflate→defilter pipeline
    reconstructed every pixel exactly. Remaining NotImplementedError
    seam: ffmpeg-class codecs (H.264/MP3) only — baseline JPEG became
    a real path in round 6 (``jpeg_decode_features``).

    Scale: payload bytes never LEAVE the Python worker (r9: the
    encoder and the decode kernel compose inside ONE mapInPandas —
    the old two-node chain shipped every payload JVM→Python→JVM→Python
    for no reason); per-image output is 6 ints; decode is
    embarrassingly parallel across partitions (documents is
    repartitioned on load — NOTES trap 3)."""
    raw = _png_raw(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        import numpy as np

        def inflate(buf: bytes) -> bytes:
            # chunk walk with CRC verification (the codec-integrity
            # part of the decode); defiltering happens batch-wide below
            assert buf[:8] == _PNG_SIG, "bad PNG signature"
            pos, dims, idat = 8, None, bytearray()
            while pos < len(buf):
                (length,) = struct.unpack(">I", buf[pos : pos + 4])
                tag = buf[pos + 4 : pos + 8]
                data = buf[pos + 8 : pos + 8 + length]
                (crc,) = struct.unpack(
                    ">I", buf[pos + 8 + length : pos + 12 + length]
                )
                assert crc == (zlib.crc32(tag + data) & 0xFFFFFFFF), (
                    "chunk CRC mismatch"
                )
                if tag == b"IHDR":
                    w, h, depth, ctype, _c, _f, inter = struct.unpack(
                        ">IIBBBBB", data
                    )
                    assert (depth, ctype, inter) == (8, 2, 0)
                    dims = (w, h)
                elif tag == b"IDAT":
                    idat.extend(data)
                elif tag == b"IEND":
                    break
                pos += 12 + length
            assert dims == (PNG_W, PNG_H), f"unexpected dims {dims}"
            return zlib.decompress(bytes(idat))

        stride = PNG_W * 3
        for pdf in batches:
            if not len(pdf):
                continue
            plains = np.stack(
                [
                    np.frombuffer(inflate(bytes(p)), np.uint8)
                    for p in pdf["payload"]
                ]
            )
            imgs = _defilter_batch(plains, PNG_H, stride)
            sums = imgs.reshape(len(plains), -1, 3).sum(axis=1)
            means = (sums * 1000) // (PNG_W * PNG_H)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": PNG_W,
                    "height": PNG_H,
                    "r_mean_milli": means[:, 0],
                    "g_mean_milli": means[:, 1],
                    "b_mean_milli": means[:, 2],
                }
            )

    def enc_then_run(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        return run(_png_enc_batches(batches))

    return raw.mapInPandas(
        enc_then_run,
        "doc_id LONG, width INT, height INT, r_mean_milli LONG,"
        " g_mean_milli LONG, b_mean_milli LONG",
    ).orderBy("doc_id")


PNG_DECODE_SQL = f"""
WITH body AS (
  SELECT doc_id,
         {_cycled_body_sql(_PNG_BODY_LEN)} AS s
  FROM documents
), px AS (
  SELECT doc_id,
         unnest(range(0, {PNG_W * PNG_H})) AS i,
         s
  FROM body
), ch AS (
  SELECT doc_id,
         CAST(sum(ascii(substr(s, i * 3 + 1, 1))) AS BIGINT) AS sr,
         CAST(sum(ascii(substr(s, i * 3 + 2, 1))) AS BIGINT) AS sg,
         CAST(sum(ascii(substr(s, i * 3 + 3, 1))) AS BIGINT) AS sb
  FROM px GROUP BY doc_id
)
SELECT doc_id,
       {PNG_W} AS width, {PNG_H} AS height,
       sr * 1000 // {PNG_W * PNG_H} AS r_mean_milli,
       sg * 1000 // {PNG_W * PNG_H} AS g_mean_milli,
       sb * 1000 // {PNG_W * PNG_H} AS b_mean_milli
FROM ch
ORDER BY doc_id
"""


PPM_DECODE_SQL = f"""
WITH body AS (
  SELECT doc_id,
         {_cycled_body_sql(_PPM_BODY_LEN)} AS s
  FROM documents
), px AS (
  SELECT doc_id,
         unnest(range(0, {PPM_W * PPM_H})) AS i,
         s
  FROM body
), ch AS (
  SELECT doc_id,
         CAST(sum(ascii(substr(s, i * 3 + 1, 1))) AS BIGINT) AS sr,
         CAST(sum(ascii(substr(s, i * 3 + 2, 1))) AS BIGINT) AS sg,
         CAST(sum(ascii(substr(s, i * 3 + 3, 1))) AS BIGINT) AS sb
  FROM px GROUP BY doc_id
)
SELECT doc_id,
       {PPM_W} AS width, {PPM_H} AS height,
       sr * 1000 // {PPM_W * PPM_H} AS r_mean_milli,
       sg * 1000 // {PPM_W * PPM_H} AS g_mean_milli,
       sb * 1000 // {PPM_W * PPM_H} AS b_mean_milli
FROM ch
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# REAL audio decode path: RIFF/WAV PCM16, decoded in pure numpy
# ---------------------------------------------------------------------------

WAV_N_SAMPLES = 384
WAV_RATE = 8000
_WAV_BODY_LEN = WAV_N_SAMPLES * 2  # PCM16 mono


def _wav_header() -> bytes:
    """Canonical 44-byte RIFF/WAVE header for PCM16 mono at WAV_RATE —
    a CONSTANT given the fixed sample count, so the Spark side can
    prepend it as a binary literal."""
    import struct

    data_len = _WAV_BODY_LEN
    return (
        b"RIFF"
        + struct.pack("<I", 36 + data_len)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
        + b"data"
        + struct.pack("<I", data_len)
    )


def with_wav_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → VALID RIFF/WAVE files: constant PCM16-mono header +
    the document's bytes cycled to the fixed data-chunk length (each
    consecutive byte pair is one little-endian sample)."""
    d = io.load_table_parallel(spark, sf_dir, "documents")
    body = _cycled_body(_WAV_BODY_LEN)
    return d.select(
        "doc_id",
        F.concat(F.lit(_wav_header()), F.encode(body, "utf-8")).alias("payload"),
    )


def wav_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the WAV payloads and extract audio features — a real
    RIFF parser (chunk magics, PCM format fields validated), int16
    sample buffer via numpy, and the standard cheap audio QA stats:
    RMS level, peak, floor, mean — all in exact integer units so the
    DuckDB oracle re-derives them from the same byte construction
    (sqrt is IEEE-correctly-rounded in both engines; the floor grid
    makes the value hash exact)."""
    p = with_wav_payload(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                assert buf[0:4] == b"RIFF" and buf[8:12] == b"WAVE"
                assert buf[12:16] == b"fmt "
                fmt, nch, rate = struct.unpack("<HHI", buf[20:28])
                bits = struct.unpack("<H", buf[34:36])[0]
                assert (fmt, nch, rate, bits) == (1, 1, WAV_RATE, 16)
                assert buf[36:40] == b"data"
                (data_len,) = struct.unpack("<I", buf[40:44])
                s = np.frombuffer(
                    buf, np.int16, count=data_len // 2, offset=44
                ).astype(np.int64)
                out.append(
                    [
                        doc_id,
                        int(s.size),
                        int(np.floor(np.sqrt((s * s).sum() / s.size))),
                        int(s.max()),
                        int(s.min()),
                        int((s.sum() * 1000) // s.size),
                    ]
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_samples",
                    "rms",
                    "peak",
                    "floor_s",
                    "mean_milli",
                ],
            )

    return p.mapInPandas(
        run,
        "doc_id LONG, n_samples LONG, rms LONG, peak LONG,"
        " floor_s LONG, mean_milli LONG",
    ).orderBy("doc_id")


WAV_DECODE_SQL = f"""
WITH body AS (
  SELECT doc_id,
         {_cycled_body_sql(_WAV_BODY_LEN)} AS s
  FROM documents
), smp AS (
  SELECT doc_id,
         ascii(substr(s, i * 2 + 1, 1))
           + 256 * ascii(substr(s, i * 2 + 2, 1)) AS raw
  FROM body, unnest(range(0, {WAV_N_SAMPLES})) AS t(i)
), pcm AS (
  SELECT doc_id,
         CAST(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END
              AS BIGINT) AS v
  FROM smp
)
SELECT doc_id,
       count(*) AS n_samples,
       CAST(floor(sqrt(CAST(sum(v * v) AS DOUBLE) / count(*))) AS BIGINT) AS rms,
       max(v) AS peak,
       min(v) AS floor_s,
       -- FLOOR division, not DuckDB's truncating //: the kernel's
       -- numpy // floors, and sum(v) CAN go negative — a multibyte
       -- UTF-8 document puts a >=0x80 byte in the high sample byte,
       -- making v negative (trap 30; the mu-law twin caught this
       -- class first). sum(v)*1000 < 2^53, so the double path is
       -- exact.
       CAST(floor(CAST(sum(v) AS DOUBLE) * 1000 / count(*)) AS BIGINT)
         AS mean_milli
FROM pcm
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# REAL compressed-audio decode path: ITU-T G.711 mu-law (telephony
# companding — 8-bit logarithmic codewords -> 14-bit linear PCM).
# Unlike the PCM16 WAV path this is an actual audio CODEC: each byte
# is a sign/exponent/mantissa triple on a logarithmic amplitude grid,
# and the decoder expands it with the public-spec law (ITU-T G.711
# Table 2a / the classic public-domain Sun g711.c formulation). The
# decode law is closed-form integer math, so the DuckDB oracle
# re-derives every sample VALUE — a hash-graded compressed-audio path.
# ---------------------------------------------------------------------------

MULAW_N_SAMPLES = 1024
MULAW_RATE = 8000
_MULAW_BODY_LEN = MULAW_N_SAMPLES  # 1 codeword byte per sample
_MULAW_BIAS = 0x84  # 132 — the G.711 mu-law bias
_MULAW_FMT = 7  # WAVE_FORMAT_MULAW


def _mulaw_decode_table() -> "np.ndarray":  # noqa: F821
    """256-entry codeword -> linear-PCM LUT (how production decoders
    ship G.711): complement, split 0x80 sign / 0x70 exponent / 0x0F
    mantissa, expand ((m<<3)+BIAS)<<e, re-subtract the bias with the
    sign applied. Anchors fixed by the spec: 0x00 -> -32124,
    0x80 -> +32124, 0x7F and 0xFF -> 0."""
    import numpy as np

    u = (~np.arange(256)) & 0xFF
    t = (((u & 0x0F) << 3) + _MULAW_BIAS) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, _MULAW_BIAS - t, t - _MULAW_BIAS).astype(np.int64)


_ALAW_FMT = 6  # WAVE_FORMAT_ALAW


def _alaw_decode_table() -> "np.ndarray":  # noqa: F821
    """256-entry A-law codeword -> linear-PCM LUT (ITU-T G.711 Table
    1a / the public-domain Sun g711.c formulation): XOR the 0x55
    toggle mask, split sign/segment/mantissa, expand with the A-law
    segment switch (segment 0 adds 8, segment 1 adds 0x108, higher
    segments shift). Distinct law from mu-law: no bias subtraction,
    no all-ones complement, and NO zero output — minimum magnitude is
    8. Anchors fixed by the spec: 0x2A -> -32256, 0xAA -> +32256,
    0x55 -> -8, 0xD5 -> +8."""
    import numpy as np

    u = np.arange(256) ^ 0x55
    m = (u & 0x0F) << 4
    seg = (u & 0x70) >> 4
    t = np.where(
        seg == 0, m + 8, (m + 0x108) << np.maximum(seg - 1, 0)
    )
    return np.where(u & 0x80, t, -t).astype(np.int64)


def _g711_header(fmt_tag: int, n_samples: int, rate: int) -> bytes:
    """RIFF/WAVE header for an 8-bit G.711 mono stream (fmt tag 6 =
    A-law, 7 = mu-law): block align 1, plus the ``fact`` chunk
    (sample count) that the WAVE spec requires for non-PCM formats —
    constant given the fixed sample count, so Spark prepends it as a
    literal."""
    import struct

    return (
        b"RIFF"
        + struct.pack("<I", 4 + 24 + 12 + 8 + n_samples)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, fmt_tag, 1, rate, rate, 1, 8)
        + b"fact"
        + struct.pack("<II", 4, n_samples)
        + b"data"
        + struct.pack("<I", n_samples)
    )


def _with_g711_payload(
    spark: SparkSession, sf_dir: str, fmt_tag: int
) -> DataFrame:
    """documents → VALID G.711 WAVE files (fmt 6 A-law / 7 mu-law):
    constant header + the document's bytes cycled to one codeword per
    sample. Every printable byte IS a legal codeword; under mu-law the
    cycled range [32,126] complements into sign-set codes spanning
    exponent segments 0-5, and under A-law the same range XORs into
    sign-clear codes across segments {0,1,2,3,6,7} — including both
    laws' boundary segments and both switch arms of the A-law
    expansion (the full 256-code space is covered by the LUT
    round-trip pytest, not the corpus)."""
    d = io.load_table_parallel(spark, sf_dir, "documents")
    body = _cycled_body(MULAW_N_SAMPLES)
    return d.select(
        "doc_id",
        F.concat(
            F.lit(_g711_header(fmt_tag, MULAW_N_SAMPLES, MULAW_RATE)),
            F.encode(body, "utf-8"),
        ).alias("payload"),
    )


def with_mulaw_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_g711_payload(spark, sf_dir, _MULAW_FMT)


def with_alaw_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_g711_payload(spark, sf_dir, _ALAW_FMT)


class G711DecodeError(ValueError):
    """Malformed/truncated G.711 WAV payload — same explicit-raise
    policy as JpegDecodeError/GifDecodeError (bare ``assert`` is
    stripped under PYTHONOPTIMIZE/-O, surfacing corrupt payloads as
    struct.error or silently wrong features; ADVICE r7)."""


def _g711_codes(buf: bytes, fmt_tag: int):
    """Validate the RIFF/fmt/fact/data framing of a G.711 WAV payload
    and return the codeword array (uint8). Raises G711DecodeError on
    any structural defect; directly unit-testable outside Spark."""
    import struct

    import numpy as np

    def _need(ok: bool, what: str) -> None:
        if not ok:
            raise G711DecodeError(f"bad G.711 WAV payload: {what}")

    _need(len(buf) >= 56, "header shorter than 56 bytes")
    _need(
        buf[0:4] == b"RIFF" and buf[8:12] == b"WAVE",
        "missing RIFF/WAVE magic",
    )
    _need(buf[12:16] == b"fmt ", "missing fmt chunk")
    fmt, nch, rate = struct.unpack("<HHI", buf[20:28])
    bits = struct.unpack("<H", buf[34:36])[0]
    _need(
        (fmt, nch, rate, bits) == (fmt_tag, 1, MULAW_RATE, 8),
        f"fmt mismatch {(fmt, nch, rate, bits)}",
    )
    _need(buf[36:40] == b"fact", "missing fact chunk")
    (n_fact,) = struct.unpack("<I", buf[44:48])
    _need(buf[48:52] == b"data", "missing data chunk")
    (data_len,) = struct.unpack("<I", buf[52:56])
    _need(n_fact == data_len, "fact/data length disagree")
    _need(len(buf) >= 56 + data_len, "data chunk truncated")
    return np.frombuffer(buf, np.uint8, count=data_len, offset=56)


def _g711_stats(p: DataFrame, fmt_tag: int) -> DataFrame:
    """Shared G.711 decode + feature kernel: RIFF walk validates the
    fmt/8-bit/fact structure, the 256-entry LUT for ``fmt_tag``
    expands codewords to linear PCM, and the same exact-integer stat
    block as the PCM16 path (RMS on the floor grid, peak, floor,
    milli-mean) makes every VALUE hash-comparable with the DuckDB
    oracle, which re-derives the decode law per byte in closed form.

    Scale: identical to any audio featurizer — payload bytes ride
    Arrow once, the LUT lookup is one vectorized gather per buffer,
    and only a handful of ints per clip shuffles."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        lut = (
            _mulaw_decode_table()
            if fmt_tag == _MULAW_FMT
            else _alaw_decode_table()
        )
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                s = lut[_g711_codes(bytes(payload), fmt_tag)]
                out.append(
                    [
                        doc_id,
                        int(s.size),
                        int(np.floor(np.sqrt((s * s).sum() / s.size))),
                        int(s.max()),
                        int(s.min()),
                        int((s.sum() * 1000) // s.size),
                    ]
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_samples",
                    "rms",
                    "peak",
                    "floor_s",
                    "mean_milli",
                ],
            )

    return p.mapInPandas(
        run,
        "doc_id LONG, n_samples LONG, rms LONG, peak LONG,"
        " floor_s LONG, mean_milli LONG",
    ).orderBy("doc_id")


def mulaw_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 mu-law decode + audio features (see _g711_stats)."""
    return _g711_stats(with_mulaw_payload(spark, sf_dir), _MULAW_FMT)


def alaw_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 A-law decode + audio features (see _g711_stats). With the
    mu-law twin this completes G.711 — the two companding laws
    deployed worldwide (A-law in Europe/international trunks, mu-law
    in North America/Japan); a telephony-audio ingest pipeline needs
    both, and their laws differ in every branch (toggle mask vs
    complement, segment switch vs uniform bias, ±8 floor vs exact
    zero)."""
    return _g711_stats(with_alaw_payload(spark, sf_dir), _ALAW_FMT)


# the decode law, re-derived per byte in SQL: u = 255-b (8-bit
# complement), exponent = (u//16)%8, t = ((u%16)*8 + 132) << e,
# sample = 132-t when the (complemented) sign bit is set else t-132
MULAW_DECODE_SQL = f"""
WITH body AS (
  SELECT doc_id,
         {_cycled_body_sql(_MULAW_BODY_LEN)} AS s
  FROM documents
), u AS (
  SELECT doc_id, 255 - ascii(substr(s, i + 1, 1)) AS u
  FROM body, unnest(range(0, {MULAW_N_SAMPLES})) AS t(i)
), pcm AS (
  SELECT doc_id,
         CAST(CASE WHEN u >= 128
              THEN {_MULAW_BIAS} - (((u % 16) * 8 + {_MULAW_BIAS})
                                    * (1 << ((u // 16) % 8)))
              ELSE (((u % 16) * 8 + {_MULAW_BIAS})
                    * (1 << ((u // 16) % 8))) - {_MULAW_BIAS}
              END AS BIGINT) AS v
  FROM u
)
SELECT doc_id,
       count(*) AS n_samples,
       CAST(floor(sqrt(CAST(sum(v * v) AS DOUBLE) / count(*))) AS BIGINT) AS rms,
       max(v) AS peak,
       min(v) AS floor_s,
       -- FLOOR division, not DuckDB's //: mu-law samples from printable
       -- bytes are all NEGATIVE (sign bit set after complement), and
       -- DuckDB // truncates toward zero while numpy // floors — the
       -- PCM16 twin never sees this because its samples are positive.
       -- Exact: |sum*1000| < 2^53 and the sample count is 2^10.
       CAST(floor(CAST(sum(v) AS DOUBLE) * 1000 / count(*)) AS BIGINT)
         AS mean_milli
FROM pcm
GROUP BY doc_id
ORDER BY doc_id
"""


# the A-law decode law per byte: u = b XOR 0x55, mantissa m = u%16,
# segment = (u//16)%8; t = m*16+8 (seg 0), m*16+264 (seg 1), else
# (m*16+264) << (seg-1); sign bit of u picks +t / -t. Samples span
# BOTH signs here, so mean_milli uses the explicit floor (trap 30:
# DuckDB // truncates toward zero, numpy // floors).
ALAW_DECODE_SQL = f"""
WITH body AS (
  SELECT doc_id,
         {_cycled_body_sql(MULAW_N_SAMPLES)} AS s
  FROM documents
), u AS (
  SELECT doc_id, xor(ascii(substr(s, i + 1, 1)), 85) AS u
  FROM body, unnest(range(0, {MULAW_N_SAMPLES})) AS t(i)
), mag AS (
  SELECT doc_id, u,
         CASE (u // 16) % 8
           WHEN 0 THEN (u % 16) * 16 + 8
           WHEN 1 THEN (u % 16) * 16 + 264
           ELSE ((u % 16) * 16 + 264) * (1 << ((u // 16) % 8 - 1))
         END AS t
  FROM u
), pcm AS (
  SELECT doc_id,
         CAST(CASE WHEN u >= 128 THEN t ELSE -t END AS BIGINT) AS v
  FROM mag
)
SELECT doc_id,
       count(*) AS n_samples,
       CAST(floor(sqrt(CAST(sum(v * v) AS DOUBLE) / count(*))) AS BIGINT) AS rms,
       max(v) AS peak,
       min(v) AS floor_s,
       CAST(floor(CAST(sum(v) AS DOUBLE) * 1000 / count(*)) AS BIGINT)
         AS mean_milli
FROM pcm
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# REAL stateful compressed-audio decode path: IMA/DVI ADPCM (WAV fmt
# 0x11). One genuine notch above G.711: the codec carries STATE — a
# 16-bit predictor and an index into the 89-entry step-size table,
# both updated per 4-bit codeword — so the decode of nibble i depends
# on every nibble before it. The decoder below is the public IMA
# reference algorithm (IMA Digital Audio Pack recommendation, the
# classic adpcm.c formulation: delta = step/8 + b2*step + b1*step/2 +
# b0*step/4, sign bit subtracts, predictor clamped to int16, index
# adjusted by [-1,-1,-1,-1,2,4,6,8] and clamped to [0,88]).
#
# The DuckDB oracle replays the SAME state machine as a WITH RECURSIVE
# iteration over sample index: state rows (doc_id, i, pred, idx) step
# through the nibble relation — the sequential dependency that makes
# ADPCM non-vectorizable is exactly what a recursive CTE expresses,
# so the query is exactly hash-graded, not rows-only (the bfs_depth /
# graph_kcore loop-oracle precedent).
# ---------------------------------------------------------------------------

_ADPCM_FMT = 0x11  # WAVE_FORMAT_IMA_ADPCM (DVI)
ADPCM_DATA_BYTES = 128  # nibble bytes per clip = one IMA block payload
ADPCM_N_SAMPLES = 1 + 2 * ADPCM_DATA_BYTES  # block-header sample + nibbles
ADPCM_RATE = 8000
_ADPCM_BLOCK_ALIGN = 4 + ADPCM_DATA_BYTES  # 4-byte block header + nibbles

# the public 89-entry IMA step-size table (quarter-dB log grid)
_ADPCM_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
]
_ADPCM_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]


class AdpcmDecodeError(ValueError):
    """Malformed/truncated IMA ADPCM WAV payload (explicit-raise
    policy — see JpegDecodeError/G711DecodeError)."""


def _adpcm_header() -> bytes:
    """RIFF/WAVE header for a one-block IMA ADPCM mono stream: fmt
    chunk size 20 (the 2-byte cbSize extension carries
    wSamplesPerBlock, required for fmt 0x11), a fact chunk (sample
    count — mandatory for compressed WAVE), and the data chunk sized
    to one block."""
    import struct

    avg_bps = ADPCM_RATE * _ADPCM_BLOCK_ALIGN // ADPCM_N_SAMPLES
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 28 + 12 + 8 + _ADPCM_BLOCK_ALIGN)
        + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHHHH",
            20,
            _ADPCM_FMT,
            1,
            ADPCM_RATE,
            avg_bps,
            _ADPCM_BLOCK_ALIGN,
            4,
            2,
            ADPCM_N_SAMPLES,
        )
        + b"fact"
        + struct.pack("<II", 4, ADPCM_N_SAMPLES)
        + b"data"
        + struct.pack("<I", _ADPCM_BLOCK_ALIGN)
    )


def with_adpcm_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → VALID one-block IMA ADPCM WAVE files: constant
    header, a 4-byte block header (initial predictor 0, step index 0,
    reserved 0), then the document's bytes cycled to the nibble
    stream. Printable bytes span low nibbles 0-15 and high nibbles
    2-7, so sign-bit codes (8-15) and every index-adjust arm are
    exercised in the low-nibble position; the full 16-code space is
    covered by the encoder round-trip pytest."""
    d = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    body = _cycled_body(ADPCM_DATA_BYTES)
    block_header = b"\x00\x00\x00\x00"  # pred0=0 (int16 LE), idx0=0, reserved
    return d.select(
        "doc_id",
        F.concat(
            F.lit(_adpcm_header() + block_header),
            F.encode(body, "utf-8"),
        ).alias("payload"),
    )


def _adpcm_block(buf: bytes):
    """Validate framing and return (pred0, idx0, codes) — codes is the
    per-sample 4-bit stream, low nibble of each byte first (the IMA
    WAV packing order)."""
    import struct

    import numpy as np

    def _need(ok: bool, what: str) -> None:
        if not ok:
            raise AdpcmDecodeError(f"bad IMA ADPCM payload: {what}")

    _need(len(buf) >= 64, "header shorter than 64 bytes")
    _need(
        buf[0:4] == b"RIFF" and buf[8:12] == b"WAVE",
        "missing RIFF/WAVE magic",
    )
    _need(buf[12:16] == b"fmt ", "missing fmt chunk")
    (fmt_len,) = struct.unpack("<I", buf[16:20])
    _need(fmt_len == 20, f"fmt chunk length {fmt_len}, want 20")
    fmt, nch, rate = struct.unpack("<HHI", buf[20:28])
    block_align, bits, cb, spb = struct.unpack("<HHHH", buf[32:40])
    _need(
        (fmt, nch, rate, bits) == (_ADPCM_FMT, 1, ADPCM_RATE, 4),
        f"fmt mismatch {(fmt, nch, rate, bits)}",
    )
    _need(
        (block_align, cb, spb)
        == (_ADPCM_BLOCK_ALIGN, 2, ADPCM_N_SAMPLES),
        "block geometry mismatch",
    )
    _need(buf[40:44] == b"fact", "missing fact chunk")
    (n_fact,) = struct.unpack("<I", buf[48:52])
    _need(n_fact == ADPCM_N_SAMPLES, "fact sample count mismatch")
    _need(buf[52:56] == b"data", "missing data chunk")
    (data_len,) = struct.unpack("<I", buf[56:60])
    _need(data_len == _ADPCM_BLOCK_ALIGN, "data chunk length mismatch")
    _need(len(buf) >= 60 + data_len, "data chunk truncated")
    pred0, idx0 = struct.unpack("<hB", buf[60:63])
    _need(idx0 <= 88, f"step index {idx0} out of range")
    nb = np.frombuffer(
        buf, np.uint8, count=ADPCM_DATA_BYTES, offset=64
    )
    codes = np.empty(2 * ADPCM_DATA_BYTES, np.uint8)
    codes[0::2] = nb & 0x0F
    codes[1::2] = nb >> 4
    return pred0, idx0, codes


def _adpcm_decode_batch(codes, pred0, idx0):
    """Vectorized IMA decode across a BATCH of clips: the per-sample
    state recurrence is inherently sequential, but it is sequential in
    the SAMPLE axis only — so the kernel runs 2·data_bytes lockstep
    numpy iterations over [n_clips]-shaped predictor/step-index state
    arrays instead of n_clips × n_samples Python steps (≈10× on a
    5000-clip Arrow batch; the bench's one real new-query cost in
    round 8). ``codes``: uint8 array [n, 2·ADPCM_DATA_BYTES];
    ``pred0``/``idx0``: int arrays [n]. Returns int64 [n, n+1 samples]
    including the block-header predictor as sample 0 (the IMA WAV
    block convention)."""
    import numpy as np

    codes = np.asarray(codes, np.int64)
    n, m = codes.shape
    pred = np.asarray(pred0, np.int64).copy()
    idx = np.asarray(idx0, np.int64).copy()
    steps = np.asarray(_ADPCM_STEPS, np.int64)
    adj = np.asarray(_ADPCM_INDEX_ADJ, np.int64)
    out = np.empty((n, m + 1), np.int64)
    out[:, 0] = pred
    for i in range(m):
        c = codes[:, i]
        step = steps[idx]
        diff = (
            (step >> 3)
            + np.where(c & 4, step, 0)
            + np.where(c & 2, step >> 1, 0)
            + np.where(c & 1, step >> 2, 0)
        )
        pred = np.where(c & 8, pred - diff, pred + diff)
        np.clip(pred, -32768, 32767, out=pred)
        idx = np.clip(idx + adj[c & 7], 0, 88)
        out[:, i + 1] = pred
    return out


def _adpcm_decode(codes, pred0: int, idx0: int):
    """Single-clip IMA decode — the batch kernel on one row (kept as
    the test-facing scalar surface; the spec-literal SEQUENTIAL
    reference lives independently in pytest)."""
    import numpy as np

    codes = np.asarray(codes, np.uint8)
    return _adpcm_decode_batch(
        codes.reshape(1, -1), [int(pred0)], [int(idx0)]
    )[0]


def adpcm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMA ADPCM decode + the shared audio stat block. The per-clip
    state replay is inherently sequential (each nibble's step size
    depends on the whole prefix), so the kernel loops per clip inside
    an Arrow batch — 256 integer steps per document, dwarfed by the
    Arrow transfer itself. Stats use the same exact-integer grid as
    the other audio paths; mean_milli uses floor semantics on BOTH
    sides (samples span signs — trap 30)."""
    p = with_adpcm_payload(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            preds, idxs, code_rows = [], [], []
            for payload in pdf["payload"]:
                p0, i0, codes = _adpcm_block(bytes(payload))
                preds.append(p0)
                idxs.append(i0)
                code_rows.append(codes)
            s = _adpcm_decode_batch(np.vstack(code_rows), preds, idxs)
            n = s.shape[1]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_samples": np.full(len(pdf), n, np.int64),
                    "rms": np.floor(
                        np.sqrt((s * s).sum(axis=1) / n)
                    ).astype(np.int64),
                    "peak": s.max(axis=1),
                    "floor_s": s.min(axis=1),
                    "mean_milli": (s.sum(axis=1) * 1000) // n,
                }
            )

    return p.mapInPandas(
        run,
        "doc_id LONG, n_samples LONG, rms LONG, peak LONG,"
        " floor_s LONG, mean_milli LONG",
    ).orderBy("doc_id")


_ADPCM_STEPS_VALUES = ", ".join(
    f"({i}, {s})" for i, s in enumerate(_ADPCM_STEPS)
)

# The oracle replays the decoder state machine with WITH RECURSIVE:
# state(doc_id, i, pred, idx) steps once per nibble, joining the
# nibble relation on (doc_id, i) and the step table on idx. All
# arithmetic is exact integers; >> becomes // on provably nonnegative
# step values (truncation == floor there), and the final mean_milli
# uses the explicit floor form because samples span signs (trap 30).
ADPCM_DECODE_SQL = f"""
WITH RECURSIVE
body AS (
  SELECT doc_id,
         {_cycled_body_sql(ADPCM_DATA_BYTES)} AS s
  FROM documents
),
nib AS (
  SELECT doc_id, i,
         CASE WHEN i % 2 = 0
              THEN ascii(substr(s, i // 2 + 1, 1)) % 16
              ELSE ascii(substr(s, i // 2 + 1, 1)) // 16
         END AS code
  FROM body, unnest(range(0, {2 * ADPCM_DATA_BYTES})) AS t(i)
),
steps(si, step) AS (VALUES {_ADPCM_STEPS_VALUES}),
state(doc_id, i, pred, idx) AS (
  SELECT doc_id, 0, 0, 0 FROM body
  UNION ALL
  SELECT st.doc_id, st.i + 1,
         greatest(-32768, least(32767,
           st.pred
           + (CASE WHEN n.code >= 8 THEN -1 ELSE 1 END)
             * (sp.step // 8
                + CASE WHEN (n.code % 8) >= 4 THEN sp.step ELSE 0 END
                + CASE WHEN (n.code % 4) >= 2 THEN sp.step // 2 ELSE 0 END
                + CASE WHEN (n.code % 2) = 1 THEN sp.step // 4 ELSE 0 END))),
         greatest(0, least(88,
           st.idx + CASE (n.code % 8)
                      WHEN 4 THEN 2 WHEN 5 THEN 4
                      WHEN 6 THEN 6 WHEN 7 THEN 8
                      ELSE -1 END))
  FROM state st
  JOIN nib n ON n.doc_id = st.doc_id AND n.i = st.i
  JOIN steps sp ON sp.si = st.idx
  WHERE st.i < {2 * ADPCM_DATA_BYTES}
)
SELECT doc_id,
       count(*) AS n_samples,
       CAST(floor(sqrt(CAST(sum(CAST(pred AS BIGINT) * pred) AS DOUBLE)
                       / count(*))) AS BIGINT) AS rms,
       CAST(max(pred) AS BIGINT) AS peak,
       CAST(min(pred) AS BIGINT) AS floor_s,
       CAST(floor(CAST(sum(CAST(pred AS BIGINT)) AS DOUBLE) * 1000
                  / count(*)) AS BIGINT) AS mean_milli
FROM state
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# REAL video decode path: raw grayscale frame buffer, numpy frame ops
# ---------------------------------------------------------------------------

VID_W = VID_H = 16
VID_FRAMES = 8
VID_SAMPLE_EVERY = 2  # temporal sampling stride
_VID_BODY_LEN = VID_W * VID_H * VID_FRAMES


def with_video_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → raw-video buffers: VID_FRAMES contiguous W×H
    grayscale frames (the uncompressed y-plane layout every codec
    decodes INTO) cycled from the document's bytes, preceded by a tiny
    self-describing header ``RAWV<w><h><n>`` (one byte each)."""
    d = io.load_table_parallel(spark, sf_dir, "documents")
    body = _cycled_body(_VID_BODY_LEN)
    header = bytes([0x52, 0x41, 0x57, 0x56, VID_W, VID_H, VID_FRAMES])  # RAWV
    return d.select(
        "doc_id",
        F.concat(F.lit(header), F.encode(body, "utf-8")).alias("payload"),
    )


def video_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample + featurize the raw-video buffers: parse the
    header, reshape to (frames, H, W), keep every VID_SAMPLE_EVERY-th
    frame (the decode-side temporal sampling a video curation pipeline
    runs), and emit per-doc stats — sampled-frame luma mean and a
    motion proxy (mean absolute difference between consecutive SAMPLED
    frames), both in exact integer milli-units so the DuckDB oracle
    re-derives them from the byte construction."""
    p = with_video_payload(spark, sf_dir)
    fpx = VID_W * VID_H

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                assert buf[:4] == b"RAWV"
                w, h, n = buf[4], buf[5], buf[6]
                vid = (
                    np.frombuffer(buf, np.uint8, count=w * h * n, offset=7)
                    .reshape(n, h, w)
                    .astype(np.int64)
                )
                sampled = vid[::VID_SAMPLE_EVERY]
                luma = int(sampled.sum() * 1000 // sampled.size)
                diffs = np.abs(sampled[1:] - sampled[:-1])
                motion = int(diffs.sum() * 1000 // diffs.size)
                out.append(
                    [doc_id, int(n), int(sampled.shape[0]), luma, motion]
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_frames",
                    "n_sampled",
                    "luma_milli",
                    "motion_milli",
                ],
            )

    return p.mapInPandas(
        run,
        "doc_id LONG, n_frames INT, n_sampled INT,"
        " luma_milli LONG, motion_milli LONG",
    ).orderBy("doc_id")


_VID_SAMPLED = list(range(0, VID_FRAMES, VID_SAMPLE_EVERY))

VIDEO_DECODE_SQL = f"""
WITH body AS (
  SELECT doc_id,
         {_cycled_body_sql(_VID_BODY_LEN)} AS s
  FROM documents
), px AS (
  -- pixel i of sampled frame f (0-based), valued by its byte
  SELECT doc_id, f, i,
         CAST(ascii(substr(s, f * {VID_W * VID_H} + i + 1, 1)) AS BIGINT) AS v
  FROM body,
       unnest({_VID_SAMPLED}) AS tf(f),
       unnest(range(0, {VID_W * VID_H})) AS ti(i)
), luma AS (
  SELECT doc_id, CAST(sum(v) AS BIGINT) * 1000 // count(*) AS luma_milli
  FROM px GROUP BY doc_id
), motion AS (
  SELECT a.doc_id,
         CAST(sum(abs(a.v - b.v)) AS BIGINT) * 1000 // count(*) AS motion_milli
  FROM px a
  JOIN px b ON a.doc_id = b.doc_id AND a.i = b.i
           AND b.f = a.f + {VID_SAMPLE_EVERY}
  GROUP BY a.doc_id
)
SELECT doc_id, {VID_FRAMES} AS n_frames,
       {len(_VID_SAMPLED)} AS n_sampled, luma_milli, motion_milli
FROM luma JOIN motion USING (doc_id)
ORDER BY doc_id
"""


def audio_spectral_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral features over the decoded WAV samples — a REAL FFT
    (numpy rfft) per clip: dominant frequency bin, spectral centroid,
    and a Parseval consistency check (time-domain energy vs
    frequency-domain energy — a self-evidencing correctness witness
    carried in the output, ppm-scale).

    This is the second stage of a real audio pipeline (decode →
    spectrogram → features); the Arrow-batched mapInPandas plumbing is
    identical to the decode stage, so at 100 TB the FFT cost is
    per-row Python-side work on ~N/cores clips with zero extra
    exchanges. Rows-only (no FFT in SQL); the pytest gate recomputes
    the spectrum with an EXPLICIT DFT matrix — a different algorithm
    than numpy's FFT — and asserts bin-level agreement.
    """
    p = with_wav_payload(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                (data_len,) = struct.unpack("<I", buf[40:44])
                s = np.frombuffer(
                    buf, np.int16, count=data_len // 2, offset=44
                ).astype(np.float64)
                if s.size == 0:
                    out.append([doc_id, 0, 0, 0, 0])
                    continue
                spec = np.fft.rfft(s)
                mag2 = (spec.real**2 + spec.imag**2)
                # Parseval for rfft, valid for ANY N: every bin except
                # DC — and, when N is even, the Nyquist bin — has a
                # mirrored conjugate and counts twice
                w = np.full(mag2.size, 2.0)
                w[0] = 1.0
                if s.size % 2 == 0:
                    w[-1] = 1.0
                freq_energy = float((w * mag2).sum()) / s.size
                time_energy = float((s * s).sum())
                err_ppm = (
                    0
                    if time_energy == 0
                    else int(
                        np.floor(
                            abs(freq_energy - time_energy)
                            / time_energy
                            * 1e6
                            + 0.5
                        )
                    )
                )
                # exclude DC (bin 0): the text-derived samples are all
                # positive ASCII codes, so DC always dominates raw
                ac = mag2[1:]
                dom = 0 if ac.size == 0 else int(np.argmax(ac)) + 1
                centroid = (
                    0
                    if ac.sum() == 0
                    else int(
                        np.floor(
                            (np.arange(1, mag2.size) * ac).sum()
                            / ac.sum()
                            * 1000
                            + 0.5
                        )
                    )
                )
                out.append(
                    [doc_id, int(mag2.size), dom, centroid, err_ppm]
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_bins",
                    "dominant_bin",
                    "centroid_mbin",
                    "parseval_err_ppm",
                ],
            )

    return p.mapInPandas(
        run,
        "doc_id LONG, n_bins LONG, dominant_bin LONG,"
        " centroid_mbin LONG, parseval_err_ppm LONG",
    )



ENTROPY_FLAG_PPM = 3_500_000  # > 3.5 of 4 possible nibble bits ⇒ compressed-ish


def byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-asset byte-entropy screen: Shannon entropy of the high-nibble
    distribution (0..4 bits), the standard is-it-already-compressed /
    is-it-encrypted detector a multimodal ingest runs before wasting
    CPU on recompression or decode attempts.

    Exactness recipe (the ``diag_cramers_v`` precedent): numpy computes
    each bin's −p·log₂(p) term in float64 from exact integer counts,
    FLOORS each term to ppm, and sums the 16 resulting integers — no
    cross-engine float-SUMMATION order exists. Residual hazard, stated
    honestly: log2 is transcendental (not correctly rounded like
    +,·,/,√), so the recipe additionally assumes CPython's and the
    oracle engine's libm agree — true here (same glibc; spot-verified
    on ~19k (count, n) pairs), and a 1-ulp divergence on another
    platform could flip a term sitting exactly on a ppm boundary. The
    ``diag_benford_digit_audit`` pattern (precomputed shared literals)
    is the escape hatch if that ever bites. Same mapInPandas Arrow
    shape as ``mm_byte_histogram``: one ``np.frombuffer`` +
    ``bincount`` per row, zero per-byte Python.
    """
    p = with_payload(spark, sf_dir).select("doc_id", "payload")
    schema = "doc_id BIGINT, n_bytes BIGINT, entropy_ppm BIGINT, high_entropy INT"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(payload or b"", dtype=np.uint8)
                n = int(arr.size)
                if n == 0:
                    rows.append([doc_id, 0, 0, 0])
                    continue
                hist = np.bincount(arr >> 4, minlength=N_HIST_BINS)
                ent_ppm = 0
                for c in hist.tolist():
                    if c:
                        term = -(c / n) * math.log2(c / n)
                        ent_ppm += math.floor(term * 1_000_000)
                rows.append(
                    [doc_id, n, ent_ppm, 1 if ent_ppm > ENTROPY_FLAG_PPM else 0]
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_bytes", "entropy_ppm", "high_entropy"]
            )

    return p.mapInPandas(extract, schema)


_ENT_BINS = ", ".join(
    f"""CAST(coalesce(list_sum(list_transform(range(1, length(text) + 1),
        i -> CASE WHEN ascii(substring(text, i, 1)) // 16 = {b}
             THEN 1 ELSE 0 END)), 0) AS BIGINT) AS c{b:02d}"""
    for b in range(N_HIST_BINS)
)

_ENT_TERMS = " + ".join(
    f"""CASE WHEN c{b:02d} > 0 THEN CAST(floor(
          -(CAST(c{b:02d} AS DOUBLE) / n) * log2(CAST(c{b:02d} AS DOUBLE) / n)
          * 1000000) AS BIGINT) ELSE 0 END"""
    for b in range(N_HIST_BINS)
)

BYTE_ENTROPY_SQL = f"""
WITH bins AS (
  -- coalesce: the Python kernel emits n_bytes = 0 for a NULL document
  -- (payload coalesced to b''), so the oracle must not propagate NULL
  SELECT doc_id, CAST(coalesce(length(text), 0) AS BIGINT) AS n, {_ENT_BINS}
  FROM documents
),
scored AS (
  SELECT doc_id, n AS n_bytes,
         CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
              ELSE {_ENT_TERMS} END AS entropy_ppm
  FROM bins
)
SELECT doc_id, n_bytes, entropy_ppm,
       CAST(CASE WHEN entropy_ppm > {ENTROPY_FLAG_PPM} THEN 1 ELSE 0 END
            AS INTEGER) AS high_entropy
FROM scored
"""


# ---------------------------------------------------------------------------
# REAL lossy-codec decode path: baseline JPEG (ITU T.81) — marker/DQT/DHT
# parse, canonical Huffman entropy decode, dequantization, IDCT.
# stdlib + numpy only; no PIL/libjpeg in the container.
# ---------------------------------------------------------------------------

JPEG_W = JPEG_H = 32
JPEG_N_BLOCKS = (JPEG_W // 8) * (JPEG_H // 8)  # 16 raster-order MCUs
_JPEG_BODY_LEN = 2 * JPEG_N_BLOCKS  # 2 text bytes drive each block
JPEG_N_PATTERNS = 8
_JPEG_DC_BIAS = 79  # printable byte [32,126] → quantized DC in [-47,47]

# Natural-order (row-major v*8+u) quantization table. DC step 8 makes
# the DC pixel contribution exactly the quantized value (8·dcq/8);
# AC steps 2..7 are non-uniform so dequantization is genuinely
# exercised (an all-ones table would make it a no-op).
_JPEG_QUANT = [8] + [2 + (i % 6) for i in range(1, 64)]

# ITU T.81 Figure A.6 zigzag: zigzag index → natural row-major index
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Per-block AC content menu (zigzag index → QUANTIZED value), chosen so
# the entropy decoder exercises every baseline coding feature across a
# corpus: immediate EOB, short runs, a 19-zero run (one ZRL), a
# 38-zero run (two ZRLs), the maximal 62-zero run to the last
# coefficient (three ZRLs + run-14 symbol), negative amplitudes
# (one's-complement extend), and multi-coefficient blocks. Amplitudes
# are small enough that no decoded pixel can clip (see the margin
# assertion in _jpeg_pattern_constants).
_JPEG_PATTERNS = [
    {},
    {1: 4},
    {1: -3, 5: 2},
    {2: 2, 9: -2},
    {20: 3},
    {1: 2, 40: -2},
    {63: 1},
    {3: 5, 4: -4, 8: 3},
]

# ITU T.81 Annex K.3.1 / K.3.2 typical luminance Huffman tables
# (BITS counts for code lengths 1..16, then HUFFVAL symbol lists)
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _huff_canonical(bits: list, vals: list) -> dict:
    """symbol → (code, length): canonical code assignment (T.81 C.2)."""
    enc, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            enc[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return enc


_JPEG_DC_ENC = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
_JPEG_AC_ENC = _huff_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)


def _jpeg_pattern_constants() -> list:
    """Per-pattern ``(block_pixel_sum_delta, nonzero_ac)`` from a
    spec-literal O(N⁴) IDCT — deliberately INDEPENDENT of the
    decoder's vectorized matrix IDCT. These integers parameterize the
    DuckDB oracle, so a driver hash match proves the decoder's
    entropy-decode → dequantize → IDCT → floor(x+0.5) → clip pipeline
    pixel-exactly against an implementation that shares no code with
    it.

    Exactness argument: a decoded pixel is
    floor(128 + dcq + ac(x,y) + 0.5) with 128+dcq exactly integer (DC
    step 8 cancels the 1/8 DC basis gain), so the block pixel sum
    splits into 64·(128+dcq) + Σ floor(ac+0.5). The assertion below
    guarantees every ac+0.5 sits ≥ 1e-6 away from an integer — twelve
    orders of magnitude above float64 evaluation error at these
    magnitudes — so the naive and matrix IDCTs cannot round apart, and
    no pixel can clip (all values stay inside [55, 201])."""
    import math

    out = []
    for pat in _JPEG_PATTERNS:
        f = [[0.0] * 8 for _ in range(8)]
        for zz_idx, val in pat.items():
            nat = _JPEG_ZIGZAG[zz_idx]
            v, u = divmod(nat, 8)
            f[v][u] = val * _JPEG_QUANT[nat]
        s = ws = 0
        for y in range(8):
            for x in range(8):
                acc = 0.0
                for v in range(8):
                    for u in range(8):
                        if f[v][u]:
                            cu = 1 / math.sqrt(2) if u == 0 else 1.0
                            cv = 1 / math.sqrt(2) if v == 0 else 1.0
                            acc += (
                                0.25 * cu * cv * f[v][u]
                                * math.cos((2 * x + 1) * u * math.pi / 16)
                                * math.cos((2 * y + 1) * v * math.pi / 16)
                            )
                frac = abs((acc + 0.5) - round(acc + 0.5))
                assert frac > 1e-6, (
                    f"AC pattern value {acc} sits on a rounding boundary —"
                    " adjust _JPEG_PATTERNS amplitudes"
                )
                assert abs(acc) < 60, "pattern amplitude can clip a pixel"
                px = math.floor(acc + 0.5)
                s += px
                # position-weighted checksum: the plain sum cancels the
                # zero-mean AC pixels pairwise (cosine antisymmetry),
                # and a LINEAR weight still cancels 180°-rotation-
                # symmetric patterns (paired weights sum to a constant)
                # — the quadratic weight (1+x+8y)² yields a nonzero
                # delta for every non-empty pattern, so a dropped or
                # mis-rounded AC pixel anywhere is observable
                ws += (1 + x + 8 * y) ** 2 * px
        out.append((s, ws, len(pat)))
    return out


# Σ (1+x+8y)² over the 8×8 block — the weighted checksum's DC gain
_JPEG_WSUM = sum((1 + x + 8 * y) ** 2 for y in range(8) for x in range(8))


def _encode_jpeg(dcqs: list, pats: list) -> bytes:
    """One REAL baseline JPEG: SOI / DQT (zigzag order) / SOF0 (8-bit,
    single component, no subsampling) / DHT ×2 (Annex K luminance) /
    SOS / entropy-coded segment with 0xFF byte stuffing / EOI.

    The quantized coefficients are GIVEN (DC per block + an AC pattern
    id), not derived from pixels: that is what makes the lossy codec
    exactly verifiable — the decoded image is a deterministic function
    of the coefficients, and the oracle recomputes its statistics from
    the same text bytes through an independent IDCT."""
    import struct

    q_zz = bytes(_JPEG_QUANT[_JPEG_ZIGZAG[i]] for i in range(64))
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + q_zz
    out += (
        b"\xff\xc0"
        + struct.pack(">HBHHB", 11, 8, JPEG_H, JPEG_W, 1)
        + b"\x01\x11\x00"
    )
    out += (
        b"\xff\xc4"
        + struct.pack(">H", 19 + len(_JPEG_DC_VALS))
        + b"\x00"
        + bytes(_JPEG_DC_BITS)
        + bytes(_JPEG_DC_VALS)
    )
    out += (
        b"\xff\xc4"
        + struct.pack(">H", 19 + len(_JPEG_AC_VALS))
        + b"\x10"
        + bytes(_JPEG_AC_BITS)
        + bytes(_JPEG_AC_VALS)
    )
    out += b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"

    buf = bytearray()
    acc = nbits = 0

    def put(code: int, ln: int) -> None:
        nonlocal acc, nbits
        acc = (acc << ln) | (code & ((1 << ln) - 1))
        nbits += ln
        while nbits >= 8:
            b = (acc >> (nbits - 8)) & 0xFF
            nbits -= 8
            acc &= (1 << nbits) - 1
            buf.append(b)
            if b == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                buf.append(0x00)

    pred = 0
    for dcq, p in zip(dcqs, pats):
        diff = dcq - pred
        pred = dcq
        size = abs(diff).bit_length()
        code, ln = _JPEG_DC_ENC[size]
        put(code, ln)
        if size:
            put(diff if diff >= 0 else diff + (1 << size) - 1, size)
        pat = _JPEG_PATTERNS[p]
        k = 1
        for idx in sorted(pat):
            run = idx - k
            while run > 15:
                zc, zl = _JPEG_AC_ENC[0xF0]  # ZRL
                put(zc, zl)
                run -= 16
            val = pat[idx]
            size = abs(val).bit_length()
            sc, sl = _JPEG_AC_ENC[(run << 4) | size]
            put(sc, sl)
            put(val if val >= 0 else val + (1 << size) - 1, size)
            k = idx + 1
        if k <= 63:
            ec, el = _JPEG_AC_ENC[0x00]  # EOB
            put(ec, el)
    if nbits:  # pad the final byte with 1-bits (T.81 F.1.2.3)
        pad = 8 - nbits
        b = ((acc << pad) | ((1 << pad) - 1)) & 0xFF
        buf.append(b)
        if b == 0xFF:
            buf.append(0x00)
    return bytes(out + buf + b"\xff\xd9")


class JpegDecodeError(ValueError):
    """Malformed/truncated/unsupported JPEG payload. Input validation
    raises this explicitly (never bare ``assert``, which
    PYTHONOPTIMIZE/-O strips — corrupt payloads would then surface as
    IndexError/struct.error or silently wrong features; ADVICE r6).
    ``assert`` remains only for internal invariants."""


def _need(cond: bool, msg: str) -> None:
    if not cond:
        raise JpegDecodeError(msg)


def _jpeg_idct_matrix() -> "np.ndarray":  # noqa: F821
    import numpy as np

    x = np.arange(8)
    u = np.arange(8)
    m = 0.5 * np.cos((2 * x[None, :] + 1) * u[:, None] * np.pi / 16)
    m[0, :] /= np.sqrt(2)
    return m  # m[u, x]


def _decode_jpeg(buf: bytes) -> tuple:
    """Full baseline decode — marker walk, DQT de-zigzag, canonical
    DHT reconstruction, SOF0 validation, Huffman entropy decode with
    0xFF00 unstuffing, amplitude extend, dequantize, de-zigzag,
    float64 matrix IDCT, +128 level shift, floor(x+0.5), [0,255]
    clip. Returns ``(pixels h×w int64, dc_sum, nonzero_ac)``."""
    import struct

    import numpy as np

    _need(buf[:2] == b"\xff\xd8", "bad SOI marker")
    pos = 2
    qt = None
    dims = None
    dec_tabs: dict = {}
    while pos < len(buf):
        _need(pos + 4 <= len(buf), "truncated marker header")
        _need(buf[pos] == 0xFF, "marker sync lost")
        marker = buf[pos + 1]
        pos += 2
        (seglen,) = struct.unpack(">H", buf[pos : pos + 2])
        _need(seglen >= 2, "invalid marker segment length")
        _need(pos + seglen <= len(buf), "truncated marker segment")
        data = buf[pos + 2 : pos + seglen]
        if marker == 0xDB:
            _need(len(data) >= 65, "short DQT segment")
            _need(data[0] == 0x00, "only 8-bit quant tables supported")
            qt = [0] * 64
            for i in range(64):
                qt[_JPEG_ZIGZAG[i]] = data[1 + i]
        elif marker == 0xC4:
            _need(len(data) >= 17, "short DHT segment")
            tc, th = data[0] >> 4, data[0] & 15
            bits = list(data[1:17])
            vals = list(data[17 : 17 + sum(bits)])
            _need(len(vals) == sum(bits), "truncated Huffman table")
            dec: dict = {}
            code = k = 0
            for ln in range(1, 17):
                for _ in range(bits[ln - 1]):
                    dec[(ln, code)] = vals[k]
                    code += 1
                    k += 1
                code <<= 1
            dec_tabs[(tc, th)] = dec
        elif marker == 0xC0:
            _need(len(data) >= 8, "short SOF0 segment")
            prec, h, w, nf = struct.unpack(">BHHB", data[:6])
            _need((prec, nf) == (8, 1), "8-bit single-component baseline only")
            _need(data[7] == 0x11, "subsampling unsupported")
            dims = (w, h)
        elif marker == 0xDA:
            pos += seglen
            break
        else:
            raise JpegDecodeError(f"unexpected marker 0x{marker:02x}")
        pos += seglen
    _need(
        bool(qt) and dims is not None
        and (0, 0) in dec_tabs and (1, 0) in dec_tabs,
        "missing DQT/SOF0/DHT before SOS",
    )
    w, h = dims

    ent = bytearray()  # unstuffed entropy-coded segment
    saw_eoi = False
    while pos < len(buf):
        b = buf[pos]
        if b == 0xFF:
            _need(pos + 1 < len(buf), "entropy stream truncated at 0xFF")
            nxt = buf[pos + 1]
            if nxt == 0x00:
                ent.append(0xFF)
                pos += 2
                continue
            _need(nxt == 0xD9, f"unexpected in-stream marker 0x{nxt:02x}")
            saw_eoi = True
            break
        ent.append(b)
        pos += 1
    _need(saw_eoi, "entropy stream ends without EOI")

    bitpos = 0
    total = len(ent) * 8

    def read_bit() -> int:
        nonlocal bitpos
        _need(bitpos < total, "entropy stream truncated")
        b = (ent[bitpos >> 3] >> (7 - (bitpos & 7))) & 1
        bitpos += 1
        return b

    def read_bits(n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | read_bit()
        return v

    def huff(dec: dict) -> int:
        code = ln = 0
        while True:
            code = (code << 1) | read_bit()
            ln += 1
            _need(ln <= 16, "invalid Huffman code")
            sym = dec.get((ln, code))
            if sym is not None:
                return sym

    def extend(v: int, s: int) -> int:
        return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v

    dc_dec, ac_dec = dec_tabs[(0, 0)], dec_tabs[(1, 0)]
    bx, by = w // 8, h // 8
    m = _jpeg_idct_matrix()
    img = np.zeros((h, w), np.int64)
    pred = dc_sum = nz = 0
    for bi in range(bx * by):
        coefs = np.zeros(64, np.float64)
        s = huff(dc_dec)
        pred += extend(read_bits(s), s)
        coefs[0] = pred * qt[0]
        dc_sum += pred * qt[0]
        k = 1
        while k <= 63:
            sym = huff(ac_dec)
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                k += 16
                continue
            k += sym >> 4
            _need(k <= 63, "AC coefficient index overflow")
            val = extend(read_bits(sym & 15), sym & 15)
            nat = _JPEG_ZIGZAG[k]
            coefs[nat] = val * qt[nat]
            if val:
                nz += 1
            k += 1
        fblk = coefs.reshape(8, 8)  # rows = vertical frequency v
        pix = m.T @ fblk @ m + 128.0
        pix = np.clip(np.floor(pix + 0.5), 0, 255).astype(np.int64)
        yb, xb = divmod(bi, bx)
        img[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8] = pix
    return img, int(dc_sum), int(nz)


def _jpeg_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, raw) coefficient-byte relation shared by the JPEG
    encoder's two consumers (payload builder and the fused decode)."""
    d = io.load_table_parallel(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.encode(_cycled_body(_JPEG_BODY_LEN), "utf-8").alias("raw")
    )


def _jpeg_enc_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow-batched JPEG encoder: (doc_id, raw) → (doc_id, payload).
    Module-level so the decode query composes it with the feature
    kernel in ONE Python eval node (see _png_enc_batches)."""
    for pdf in batches:
        if not len(pdf):
            continue
        payloads = []
        for r in pdf["raw"]:
            b = bytes(r)
            payloads.append(
                _encode_jpeg(
                    [b[2 * i] - _JPEG_DC_BIAS for i in range(JPEG_N_BLOCKS)],
                    [b[2 * i + 1] % JPEG_N_PATTERNS for i in range(JPEG_N_BLOCKS)],
                )
            )
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def with_jpeg_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → VALID baseline JPEG images: 2 printable text bytes
    per 8×8 block pick the quantized DC level and one of
    ``JPEG_N_PATTERNS`` AC menus; the Arrow-batched encoder
    Huffman-codes them into a real entropy stream (the same
    worker-side hop where a libjpeg encoder would sit)."""
    return _jpeg_raw(spark, sf_dir).mapInPandas(
        _jpeg_enc_batches, "doc_id LONG, payload BINARY"
    )


def jpeg_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode REAL baseline JPEG payloads — the ffmpeg-class seam's
    image half, now honest-real: canonical Huffman entropy decode
    (EOB/ZRL/negative extend/byte unstuffing), dequantization, and a
    float64 IDCT — emitting per-image dc_sum, nonzero-AC count, and
    the total decoded pixel sum.

    The DuckDB oracle never sees the codec: it recomputes the same
    integers from the text bytes, using per-pattern pixel-sum
    constants generated by an independent spec-literal O(N⁴) IDCT
    (see ``_jpeg_pattern_constants`` for the exactness argument), so
    the driver hash match proves the whole pipeline — including the
    IDCT and its rounding — pixel-exactly. Remaining declared stub:
    H.264/MP3 (``decode_payload``).

    Scale: payload bytes never leave the Python worker (encoder and
    decoder compose in ONE mapInPandas — r9); decode is embarrassingly
    parallel across partitions; per-image output is 6 ints."""
    raw = _jpeg_raw(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        wtile = np.tile(
            (1 + np.arange(8)[None, :] + 8 * np.arange(8)[:, None]) ** 2,
            (JPEG_H // 8, JPEG_W // 8),
        ).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img, dc_sum, nz = _decode_jpeg(bytes(payload))
                rows.append(
                    [
                        doc_id, JPEG_W, JPEG_H, dc_sum, nz,
                        int(img.sum()), int((img * wtile).sum()),
                    ]
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "dc_sum", "nonzero_ac",
                    "pixel_sum", "pix_weighted",
                ],
            )

    def enc_then_run(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        return run(_jpeg_enc_batches(batches))

    return raw.mapInPandas(
        enc_then_run,
        "doc_id LONG, width INT, height INT, dc_sum LONG,"
        " nonzero_ac LONG, pixel_sum LONG, pix_weighted LONG",
    ).orderBy("doc_id")


_JPEG_CONSTS = _jpeg_pattern_constants()
_JPEG_S_CASE = " ".join(
    f"WHEN {i} THEN {s}" for i, (s, _, _) in enumerate(_JPEG_CONSTS)
)
_JPEG_W_CASE = " ".join(
    f"WHEN {i} THEN {ws}" for i, (_, ws, _) in enumerate(_JPEG_CONSTS)
)
_JPEG_NZ_CASE = " ".join(
    f"WHEN {i} THEN {nz}" for i, (_, _, nz) in enumerate(_JPEG_CONSTS)
)

JPEG_DECODE_SQL = f"""
WITH body AS (
  SELECT doc_id,
         {_cycled_body_sql(_JPEG_BODY_LEN)} AS s
  FROM documents
), blocks AS (
  SELECT doc_id, unnest(range(0, {JPEG_N_BLOCKS})) AS b, s FROM body
), per AS (
  SELECT doc_id,
         ascii(substr(s, 2 * b + 1, 1)) - {_JPEG_DC_BIAS} AS dcq,
         ascii(substr(s, 2 * b + 2, 1)) % {JPEG_N_PATTERNS} AS p
  FROM blocks
)
SELECT doc_id,
       {JPEG_W} AS width, {JPEG_H} AS height,
       CAST(sum({_JPEG_QUANT[0]} * dcq) AS BIGINT) AS dc_sum,
       CAST(sum(CASE p {_JPEG_NZ_CASE} END) AS BIGINT) AS nonzero_ac,
       CAST(sum(8192 + 64 * dcq + CASE p {_JPEG_S_CASE} END) AS BIGINT)
         AS pixel_sum,
       CAST(sum({_JPEG_WSUM} * (128 + dcq) + CASE p {_JPEG_W_CASE} END)
            AS BIGINT) AS pix_weighted
FROM per GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# REAL image codec #3: GIF87a with genuine LZW compression.
# PNG covers the deflate family and JPEG the Huffman+DCT family; GIF
# adds the dictionary-coder family — variable-width LZW codes packed
# LSB-first (the OPPOSITE bit order of JPEG's MSB-first entropy
# stream), dictionary growth with the KwKwK special case, and the
# encoder/decoder width-growth off-by-one (encoder bumps at
# next == 2^w + 1, decoder at next == 2^w) that the GIF spec implies
# and every interoperable implementation must get right.
# Pixels are palette indexes = the document's cycled printable bytes,
# over a grayscale global color table, so decoded features are a
# closed-form function of the body — the DuckDB oracle re-derives the
# VALUES, which only match if LZW round-trips exactly (same proof
# shape as the PNG/zlib path).
# ---------------------------------------------------------------------------

GIF_W, GIF_H = 24, 16
_GIF_BODY_LEN = GIF_W * GIF_H  # one 8-bit palette index per pixel
_GIF_MIN_CODE_SIZE = 8  # 256-color image
_GIF_CLEAR = 1 << _GIF_MIN_CODE_SIZE  # 256
_GIF_EOI = _GIF_CLEAR + 1  # 257
_GIF_MAX_WIDTH = 12  # LZW code width cap (4096-entry dictionary)


class GifDecodeError(ValueError):
    """Malformed/truncated/unsupported GIF payload (explicit raise —
    same policy as JpegDecodeError)."""


def _gneed(cond: bool, msg: str) -> None:
    if not cond:
        raise GifDecodeError(msg)


def _lzw_encode(data: bytes) -> bytes:
    """GIF-flavor LZW: variable code width starting at
    min_code_size+1, LSB-first bit packing, leading CLEAR, trailing
    EOI, dictionary reset via CLEAR when the 4096-entry table fills.
    Encoder width rule: bump AFTER the added entry makes
    next == 2^width + 1 — one code later than the decoder's
    next == 2^width, because the decoder's table lags one entry."""
    if not data:
        raise ValueError("LZW encoder needs a non-empty pixel stream")
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = _GIF_MIN_CODE_SIZE + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt = _GIF_EOI + 1
    put(_GIF_CLEAR, width)
    w = data[:1]
    for i in range(1, len(data)):
        c = data[i : i + 1]
        if w + c in table:
            w += c
            continue
        put(table[w], width)
        if nxt < (1 << _GIF_MAX_WIDTH):
            table[w + c] = nxt
            nxt += 1
            if nxt == (1 << width) + 1 and width < _GIF_MAX_WIDTH:
                width += 1
        else:  # table full: reset (keeps long inputs interoperable)
            put(_GIF_CLEAR, width)
            table = {bytes([j]): j for j in range(256)}
            nxt = _GIF_EOI + 1
            width = _GIF_MIN_CODE_SIZE + 1
        w = c
    put(table[w], width)
    put(_GIF_EOI, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(stream: bytes, n_expected: int) -> bytes:
    """Inverse of _lzw_encode: LSB-first variable-width code reader,
    CLEAR/EOI handling, dictionary reconstruction including the KwKwK
    case (code == next: entry = prev + prev[0]), decoder width rule
    next == 2^width."""
    acc = nbits = pos = 0

    def get(width: int) -> int:
        nonlocal acc, nbits, pos
        while nbits < width:
            _gneed(pos < len(stream), "LZW stream truncated")
            acc |= stream[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    out = bytearray()
    width = _GIF_MIN_CODE_SIZE + 1
    table: list[bytes] = []
    prev: bytes | None = None
    nxt = 0
    while True:
        code = get(width)
        if code == _GIF_CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            nxt = _GIF_EOI + 1
            width = _GIF_MIN_CODE_SIZE + 1
            prev = None
            continue
        if code == _GIF_EOI:
            break
        _gneed(bool(table), "data code before CLEAR")
        if prev is None:  # first code after CLEAR must be a root
            _gneed(code < 256, "non-root code after CLEAR")
            out += table[code]
            prev = table[code]
            continue
        if code < nxt:
            entry = table[code]
        elif code == nxt:  # KwKwK
            entry = prev + prev[:1]
        else:
            raise GifDecodeError("LZW code beyond dictionary")
        out += entry
        if nxt < (1 << _GIF_MAX_WIDTH):
            table.append(prev + entry[:1])
            nxt += 1
            if nxt == (1 << width) and width < _GIF_MAX_WIDTH:
                width += 1
        prev = entry
        _gneed(len(out) <= n_expected, "LZW output exceeds pixel count")
    _gneed(len(out) == n_expected, "LZW output short of pixel count")
    return bytes(out)


def _gif_header() -> bytes:
    """GIF87a header + logical screen descriptor + 256-entry grayscale
    global color table + image descriptor — constant for the fixed
    geometry, so Spark prepends it as a literal. Palette entry i is
    (i,i,i): pixel luminance == palette index == body byte."""
    import struct

    gct = bytes(v for i in range(256) for v in (i, i, i))
    return (
        b"GIF87a"
        + struct.pack("<HH", GIF_W, GIF_H)
        + bytes([0xF7, 0, 0])  # GCT present, 8-bit, bg 0, no aspect
        + gct
        + b"\x2c"
        + struct.pack("<HHHH", 0, 0, GIF_W, GIF_H)
        + bytes([0x00])  # no local table, not interlaced
    )


def _decode_gif(buf: bytes) -> tuple:
    """Full GIF87a walk — signature, screen descriptor, grayscale
    global-color-table validation, image descriptor, sub-block
    reassembly, LZW decompression. Returns ``(w, h, indexes uint8)``.
    Input validation raises GifDecodeError (same policy as JPEG)."""
    import struct

    import numpy as np

    _gneed(buf[:6] == b"GIF87a", "bad GIF signature")
    _gneed(len(buf) >= 13, "truncated screen descriptor")
    sw, sh = struct.unpack("<HH", buf[6:10])
    packed = buf[10]
    _gneed(bool(packed & 0x80), "missing global color table")
    gct_n = 2 << (packed & 0x07)
    pos = 13
    _gneed(len(buf) >= pos + 3 * gct_n, "truncated color table")
    gct = np.frombuffer(buf, np.uint8, count=3 * gct_n, offset=pos).reshape(
        gct_n, 3
    )
    _gneed(
        bool((gct[:, 0] == gct[:, 1]).all() and (gct[:, 0] == gct[:, 2]).all()),
        "non-grayscale palette",
    )
    pos += 3 * gct_n
    _gneed(pos + 10 <= len(buf) and buf[pos] == 0x2C, "missing image descriptor")
    ix, iy, iw, ih = struct.unpack("<HHHH", buf[pos + 1 : pos + 9])
    _gneed(buf[pos + 9] & 0xC0 == 0, "local table/interlace unsupported")
    _gneed((ix, iy, iw, ih) == (0, 0, sw, sh), "sub-rect unsupported")
    pos += 10
    _gneed(pos < len(buf), "missing LZW code size")
    _gneed(buf[pos] == _GIF_MIN_CODE_SIZE, "unexpected code size")
    pos += 1
    stream = bytearray()
    while True:
        _gneed(pos < len(buf), "truncated sub-blocks")
        n = buf[pos]
        pos += 1
        if n == 0:
            break
        _gneed(pos + n <= len(buf), "truncated sub-block body")
        stream += buf[pos : pos + n]
        pos += n
    _gneed(pos < len(buf) and buf[pos] == 0x3B, "missing trailer")
    idx = np.frombuffer(_lzw_decode(bytes(stream), iw * ih), np.uint8)
    return iw, ih, idx


def with_gif_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → VALID GIF87a images: constant header + the LZW
    minimum-code-size byte + the REAL LZW-compressed index stream in
    length-prefixed sub-blocks + trailer. The compressor runs in an
    Arrow-batched mapInPandas (the same worker-side hop as the PNG
    zlib encoder)."""
    return _gif_raw(spark, sf_dir).mapInPandas(
        _gif_enc_batches, "doc_id LONG, payload BINARY"
    )


def _gif_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, raw) index-byte relation shared by the GIF encoder's
    two consumers (payload builder and the fused decode query)."""
    return io.load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", F.encode(_cycled_body(_GIF_BODY_LEN), "utf-8").alias("raw")
    )


def _gif_enc_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow-batched GIF87a/LZW encoder: (doc_id, raw) → (doc_id,
    payload). Module-level so the decode query composes it with the
    feature kernel in ONE Python eval node (see _png_enc_batches)."""
    header = _gif_header()
    for pdf in batches:
        payloads = []
        for body in pdf["raw"]:
            stream = _lzw_encode(bytes(body))
            blocks = bytearray([_GIF_MIN_CODE_SIZE])
            for i in range(0, len(stream), 255):
                chunk = stream[i : i + 255]
                blocks.append(len(chunk))
                blocks += chunk
            blocks.append(0x00)  # block terminator
            payloads.append(header + bytes(blocks) + b"\x3b")
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def gif_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the GIF payloads and extract image features — real codec
    decode, no stub: signature/descriptor walk, grayscale palette
    load, sub-block reassembly, full LZW decompression, then exact
    integer stats over the recovered indexes (mean in milli-units,
    min/max, distinct count). The DuckDB oracle re-derives the stats
    from the same byte construction, so a hash match proves the LZW
    round-trip bit-exactly — the same proof shape as PNG's zlib path.

    Scale: payload bytes never leave the Python worker (encoder and
    decoder compose in ONE mapInPandas — r9); LZW is linear in pixels;
    only a few ints per image shuffle."""
    raw = _gif_raw(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                iw, ih, idx = _decode_gif(bytes(payload))
                idx = idx.astype(np.int64)
                # grayscale palette: luminance == index
                out.append(
                    [
                        doc_id,
                        int(iw),
                        int(ih),
                        int(idx.size),
                        int((idx.sum() * 1000) // idx.size),
                        int(idx.max()),
                        int(idx.min()),
                        int(np.unique(idx).size),
                    ]
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "n_pixels",
                    "idx_mean_milli",
                    "idx_max",
                    "idx_min",
                    "n_distinct_idx",
                ],
            )

    def enc_then_run(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        return run(_gif_enc_batches(batches))

    return raw.mapInPandas(
        enc_then_run,
        "doc_id LONG, width LONG, height LONG, n_pixels LONG,"
        " idx_mean_milli LONG, idx_max LONG, idx_min LONG,"
        " n_distinct_idx LONG",
    ).orderBy("doc_id")


GIF_DECODE_SQL = f"""
WITH body AS (
  SELECT doc_id,
         {_cycled_body_sql(_GIF_BODY_LEN)} AS s
  FROM documents
), px AS (
  SELECT doc_id, ascii(substr(s, i + 1, 1)) AS idx
  FROM body, unnest(range(0, {_GIF_BODY_LEN})) AS t(i)
)
SELECT doc_id,
       {GIF_W} AS width, {GIF_H} AS height,
       count(*) AS n_pixels,
       CAST(sum(idx) AS BIGINT) * 1000 // count(*) AS idx_mean_milli,
       max(idx) AS idx_max,
       min(idx) AS idx_min,
       count(DISTINCT idx) AS n_distinct_idx
FROM px
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# REAL image codec #4: BMP with RLE8 compression (BI_RLE8). The last
# classic raster family after deflate (PNG), Huffman+DCT (JPEG) and
# LZW (GIF): Microsoft's run-length escape coding — (count, value)
# run pairs, and escape pairs (0, n) for end-of-line, end-of-bitmap,
# positional DELTA jumps, and word-padded ABSOLUTE (literal) blocks —
# plus BMP's bottom-up row order, which the decoder must flip. The
# encoder makes real policy choices (runs >= 3 run-encoded and split
# at 255; shorter literals merged into absolute blocks; 1-2 strays as
# run pairs), and the position-weighted checksum in the output
# catches any row-order or delta-accounting mistake, not just value
# histograms. Pixels are palette indexes = the cycled printable body,
# so decoded features are a closed-form function of the body — the
# oracle re-derives the VALUES, which only match if RLE8 round-trips
# exactly (the PNG/GIF proof shape).
# ---------------------------------------------------------------------------

BMP_W, BMP_H = 32, 16
_BMP_BODY_LEN = BMP_W * BMP_H
_BMP_OFFBITS = 14 + 40 + 256 * 4  # file header + info header + palette


class BmpDecodeError(ValueError):
    """Malformed/truncated/unsupported BMP payload (explicit raise —
    same policy as the other codec decoders)."""


def _bneed(cond: bool, msg: str) -> None:
    if not cond:
        raise BmpDecodeError(f"bad BMP payload: {msg}")


def _bmp_headers(data_len: int) -> bytes:
    """BITMAPFILEHEADER + BITMAPINFOHEADER (biCompression=1, BI_RLE8)
    + a 256-entry grayscale BGRA palette. Positive biHeight = the
    spec's bottom-up row order."""
    import struct

    file_hdr = b"BM" + struct.pack(
        "<IHHI", _BMP_OFFBITS + data_len, 0, 0, _BMP_OFFBITS
    )
    info_hdr = struct.pack(
        "<IiiHHIIiiII",
        40, BMP_W, BMP_H, 1, 8, 1, data_len, 2835, 2835, 256, 0,
    )
    palette = b"".join(bytes((i, i, i, 0)) for i in range(256))
    return file_hdr + info_hdr + palette


def _rle8_encode_row(row: bytes) -> bytes:
    """RLE8-encode one pixel row (no EOL marker — the caller appends
    escapes). Real encoder policy: maximal byte runs of length >= 3
    become encoded-run pairs, split at the 255 count cap; shorter
    material accumulates into literal stretches, emitted as ABSOLUTE
    blocks (0, n, bytes..., word pad) when n >= 3 — the spec's
    minimum — and as (1, v)/(2-as-two-runs) pairs otherwise."""
    out = bytearray()
    lit = bytearray()

    def flush_lit() -> None:
        nonlocal lit, out
        i = 0
        while len(lit) - i >= 3:
            n = min(255, len(lit) - i)
            if n == len(lit) - i - 1:  # avoid a 1-byte orphan tail
                n -= 1
            out.append(0)
            out.append(n)
            out += lit[i : i + n]
            if n % 2:
                out.append(0)  # absolute blocks pad to word boundary
            i += n
        for b in lit[i:]:
            out.append(1)
            out.append(b)
        lit = bytearray()

    i = 0
    while i < len(row):
        j = i
        while j < len(row) and row[j] == row[i]:
            j += 1
        run = j - i
        if run >= 3:
            flush_lit()
            while run > 0:
                n = min(255, run)
                out.append(n)
                out.append(row[i])
                run -= n
        else:
            lit += row[i:j]
        i = j
    flush_lit()
    return bytes(out)


def _rle8_decode(data: bytes, w: int, h: int):
    """Full BI_RLE8 state machine: run pairs, EOL (0,0), EOB (0,1),
    DELTA (0,2,dx,dy), ABSOLUTE (0,n>=3 + word pad). Returns the
    image TOP-DOWN row-major (flipping BMP's bottom-up storage);
    skipped pixels (delta/early EOL) are zero-filled. Raises
    BmpDecodeError on overruns or truncation."""
    import numpy as np

    img = np.zeros((h, w), np.uint8)  # storage order (bottom-up rows)
    x = 0
    y = 0  # y counts stored rows from the bottom
    pos = 0
    ended = False
    while pos < len(data):
        _bneed(pos + 2 <= len(data), "escape/run pair truncated")
        a, b = data[pos], data[pos + 1]
        pos += 2
        if a > 0:  # encoded run
            _bneed(y < h and x + a <= w, "run overflows the row")
            img[y, x : x + a] = b
            x += a
        elif b == 0:  # end of line
            _bneed(y < h, "EOL past the last row")
            x, y = 0, y + 1
        elif b == 1:  # end of bitmap
            ended = True
            break
        elif b == 2:  # delta jump
            _bneed(pos + 2 <= len(data), "delta operands truncated")
            dx, dy = data[pos], data[pos + 1]
            pos += 2
            _bneed(y + dy < h and x + dx <= w, "delta jumps out of image")
            x, y = x + dx, y + dy
        else:  # absolute mode: b literal bytes, word-padded
            n = b
            pad = n % 2
            _bneed(pos + n + pad <= len(data), "absolute block truncated")
            _bneed(y < h and x + n <= w, "absolute block overflows the row")
            img[y, x : x + n] = np.frombuffer(
                data, np.uint8, count=n, offset=pos
            )
            x += n
            pos += n + pad
    _bneed(ended, "missing end-of-bitmap escape")
    return img[::-1].reshape(-1)  # flip bottom-up storage to top-down


def with_bmp_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → VALID RLE8-compressed BMP files: per-doc headers
    (the file/info headers carry the per-payload biSizeImage), the
    grayscale palette, and the REAL RLE8-encoded pixel data, rows
    stored bottom-up with EOL escapes and a final EOB. The encoder
    runs worker-side in an Arrow-batched mapInPandas (the GIF/PNG
    hop)."""
    return _bmp_raw(spark, sf_dir).mapInPandas(
        _bmp_enc_batches, "doc_id LONG, payload BINARY"
    )


def _bmp_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, raw) pixel-byte relation shared by the BMP encoder's
    two consumers (payload builder and the fused decode query)."""
    return io.load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", F.encode(_cycled_body(_BMP_BODY_LEN), "utf-8").alias("raw")
    )


def _bmp_enc_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow-batched BMP/RLE8 encoder: (doc_id, raw) → (doc_id,
    payload). Module-level so the decode query composes it with the
    feature kernel in ONE Python eval node (see _png_enc_batches)."""
    for pdf in batches:
        payloads = []
        for body in pdf["raw"]:
            px = bytes(body)
            data = bytearray()
            for r in range(BMP_H):  # bottom-up storage order
                row = px[(BMP_H - 1 - r) * BMP_W : (BMP_H - r) * BMP_W]
                data += _rle8_encode_row(row)
                data += b"\x00\x00"  # EOL
            data += b"\x00\x01"  # EOB
            payloads.append(_bmp_headers(len(data)) + bytes(data))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def bmp_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the RLE8 BMP payloads and extract image features: header
    walk (magic, offsets, BI_RLE8, geometry), full escape-coded RLE
    decode with the bottom-up flip, then exact integer stats INCLUDING
    a position-weighted checksum over the top-down pixel order — the
    stat that fails if rows are unflipped, deltas mis-accounted, or
    absolute padding skipped. The oracle re-derives everything from
    the byte construction, so a hash match proves the RLE8 round trip.

    Scale: payload bytes never leave the Python worker (encoder and
    decoder compose in ONE mapInPandas — r9); RLE decode is linear in
    encoded bytes; a handful of ints per image shuffles."""
    import struct

    raw = _bmp_raw(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                _bneed(len(buf) >= _BMP_OFFBITS, "header truncated")
                _bneed(buf[0:2] == b"BM", "missing BM magic")
                off = struct.unpack("<I", buf[10:14])[0]
                _bneed(off == _BMP_OFFBITS, "unexpected pixel offset")
                (
                    bisize, w, h, planes, bpp, comp, size_img,
                ) = struct.unpack("<IiiHHII", buf[14:38])
                _bneed(bisize == 40, "not a BITMAPINFOHEADER")
                _bneed(
                    (w, h, planes, bpp, comp) == (BMP_W, BMP_H, 1, 8, 1),
                    f"geometry/compression mismatch {(w, h, planes, bpp, comp)}",
                )
                _bneed(
                    len(buf) >= off + size_img, "pixel data truncated"
                )
                px = _rle8_decode(buf[off : off + size_img], w, h)
                s = px.astype(np.int64)
                idx = np.arange(1, s.size + 1, dtype=np.int64)
                out.append(
                    [
                        doc_id,
                        int(w),
                        int(h),
                        int(s.size),
                        int((s.sum() * 1000) // s.size),
                        int(s.max()),
                        int(s.min()),
                        int(np.unique(s).size),
                        int((idx * s).sum()),
                    ]
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "width", "height", "n_pixels",
                    "idx_mean_milli", "idx_max", "idx_min",
                    "n_distinct_idx", "pos_weighted",
                ],
            )

    def enc_then_run(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        return run(_bmp_enc_batches(batches))

    return raw.mapInPandas(
        enc_then_run,
        "doc_id LONG, width INT, height INT, n_pixels LONG,"
        " idx_mean_milli LONG, idx_max LONG, idx_min LONG,"
        " n_distinct_idx LONG, pos_weighted LONG",
    ).orderBy("doc_id")


BMP_DECODE_SQL = f"""
WITH body AS (
  SELECT doc_id,
         {_cycled_body_sql(_BMP_BODY_LEN)} AS s
  FROM documents
), px AS (
  SELECT doc_id, i, ascii(substr(s, i + 1, 1)) AS idx
  FROM body, unnest(range(0, {_BMP_BODY_LEN})) AS t(i)
)
SELECT doc_id,
       {BMP_W} AS width, {BMP_H} AS height,
       count(*) AS n_pixels,
       CAST(sum(idx) AS BIGINT) * 1000 // count(*) AS idx_mean_milli,
       max(idx) AS idx_max,
       min(idx) AS idx_min,
       count(DISTINCT idx) AS n_distinct_idx,
       CAST(sum((i + 1) * idx) AS BIGINT) AS pos_weighted
FROM px
GROUP BY doc_id
ORDER BY doc_id
"""


QUERIES = {
    "mm_binary_metadata": (binary_metadata, BINARY_METADATA_SQL),
    "mm_decode_stub_features": (decode_stub_features, None),
    "mm_frame_sample_checksum": (frame_sample_checksum, FRAME_SAMPLE_SQL),
    "mm_byte_histogram": (byte_histogram_features, BYTE_HISTOGRAM_SQL),
    "mm_modality_routing": (modality_routing, MODALITY_ROUTING_SQL),
    "mm_phash_neardup": (phash_neardup, None),
    "mm_ppm_decode_features": (ppm_decode_features, PPM_DECODE_SQL),
    "mm_png_decode_features": (png_decode_features, PNG_DECODE_SQL),
    "mm_wav_decode_features": (wav_decode_features, WAV_DECODE_SQL),
    "mm_audio_spectral_features": (audio_spectral_features, None),
    "mm_video_frame_features": (video_decode_features, VIDEO_DECODE_SQL),
    "mm_byte_entropy": (byte_entropy, BYTE_ENTROPY_SQL),
    "mm_jpeg_decode_features": (jpeg_decode_features, JPEG_DECODE_SQL),
    "mm_mulaw_decode_features": (mulaw_decode_features, MULAW_DECODE_SQL),
    "mm_alaw_decode_features": (alaw_decode_features, ALAW_DECODE_SQL),
    "mm_gif_decode_features": (gif_decode_features, GIF_DECODE_SQL),
    "mm_adpcm_decode_features": (adpcm_decode_features, ADPCM_DECODE_SQL),
    "mm_bmp_rle8_decode_features": (bmp_decode_features, BMP_DECODE_SQL),
}
