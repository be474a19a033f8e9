"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Provenance: SURVEY.md §2 Tier B, Multimodal row — north-star
requirement (BASELINE.json), no reference counterpart.

The fixtures carry no real image/audio bytes (TESTDATA.md), so the
*payload* is the document's UTF-8 bytes treated as an opaque BLOB —
which exercises exactly the Spark surface a real multimodal pipeline
needs: BinaryType columns flowing through select/filter/write, digest
and byte-level metadata computed JVM-side, and Arrow-batched
``mapInPandas`` for the decode/feature-extract hop.

Ten REAL codecs share one table, ``CODECS``: PPM, PNG (zlib + all
five scanline filters + chunk CRCs), WAV PCM16, G.711 mu-law and
A-law, IMA ADPCM, raw video frames, baseline JPEG (Huffman entropy
decode + IDCT), GIF87a (LZW) and BMP RLE8. Each entry is
``(body_len, encode, decode, stats, schema)``: the document text
cycled to ``body_len`` bytes is the raw body, ``encode`` turns one
Arrow batch of bodies into valid files, ``decode`` parses and
validates them back into a sample array, and ``stats`` reduces that
array to exact integer features which the DuckDB oracle re-derives
from the same text. ``decode_features`` runs encode and decode fused
in one ``mapInPandas``; ``payload`` exposes the encoded files. Every
check on payload bytes raises ``DecodeError``. The table is also the
seam for a codec this container lacks (H.264, MP3): a new entry needs
no new Spark plumbing.

Scale posture: binary columns ride Parquet untouched (no re-encode);
mapInPandas streams Arrow record batches, so per-row Python overhead is
amortized; batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch`` when payloads are
large (set it low for multi-MB blobs to bound executor memory).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator
from functools import partial
from typing import Any, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io


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


def frame_sample_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side 'frame sampling': sum of every 16th payload byte —
    byte-level ops need no Python. It also answers for
    ``mm_decode_stub_features``; a real decoder plugs in as a row of
    ``CODECS``."""
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
# REAL decode paths: one codec table, one loader, one fused query
# ---------------------------------------------------------------------------


class DecodeError(ValueError):
    """A payload that is malformed, truncated or outside its codec's
    fixed geometry. Every check on payload bytes raises this explicitly:
    a bare ``assert`` is stripped under ``python -O``, which would turn a
    corrupt payload into struct.error/IndexError or silently wrong
    features."""


def _need(ok: bool, codec: str, what: str) -> None:
    if not ok:
        raise DecodeError(f"bad {codec} payload: {what}")


class Codec(NamedTuple):
    """One real codec. ``encode(raws) -> payloads`` and
    ``decode(payloads) -> samples`` each take one Arrow batch as a list
    of bytes, so batch-wide kernels (PNG's filters, ADPCM's lockstep
    replay) stay vectorized; ``stats(samples)`` reduces the decoded
    batch to ``{column: values}`` typed by ``schema``."""

    body_len: int
    encode: Callable[[list], list]
    decode: Callable[[list], Any]
    stats: Callable[[Any], dict]
    schema: str


def _cycled_body(n: int):
    """Spark Column: the document's printable-sanitized text cycled to
    exactly ``n`` bytes — '[^ -~]'→'?' keeps every char single-byte
    ASCII (chars == bytes), NULL/empty coalesce to ' ', and ``rpad``
    cycles its pad string. ONE definition feeds every codec (through
    ``_body``) so the byte construction cannot silently diverge between
    formats."""
    san = "coalesce(nullif(regexp_replace(text, '[^ -~]', '?'), ''), ' ')"
    return F.expr(f"rpad({san}, {n}, {san})")


def _cycled_body_sql(n: int) -> str:
    """DuckDB twin of _cycled_body — identical semantics; DuckDB's
    regexp_replace needs the explicit 'g' flag to replace all."""
    san = "coalesce(nullif(regexp_replace(text, '[^ -~]', '?', 'g'), ''), ' ')"
    return f"rpad({san}, {n}, {san})"


def _body(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """(doc_id, raw): every document's text cycled to ``n`` bytes — the
    one reader behind every codec. ``documents`` is one parquet file,
    so the load repartitions it and the decode runs on every core
    (NOTES trap 3)."""
    d = io.load_table_parallel(spark, sf_dir, "documents")
    return d.select("doc_id", F.encode(_cycled_body(n), "utf-8").alias("raw"))


def _prepend(header: bytes) -> Callable[[list], list]:
    """``encode`` of a header-only format: the header is constant for
    the fixed geometry, so each file is header + body."""
    return lambda raws: [header + r for r in raws]


def _stack(parts: list, shape: tuple, dtype: str = "u1") -> np.ndarray:
    """One batch of equal-size byte strings as an int64 array of shape
    ``(len(parts), *shape)``."""
    flat = np.frombuffer(b"".join(parts), dtype)
    return flat.reshape(len(parts), *shape).astype(np.int64)


def _oracle(body_len: int, ctes: str, select: str) -> str:
    """DuckDB oracle of a codec query: the cycled body, the codec's own
    sample CTEs, and one SELECT over them grouped per document."""
    return f"""
WITH body AS (
  SELECT doc_id,
         {_cycled_body_sql(body_len)} AS s
  FROM documents
), {ctes}
{select}
GROUP BY doc_id
ORDER BY doc_id
"""


# --- shared stat families: RGB means, audio QA block, palette indexes ---

_RGB_SCHEMA = (
    "doc_id LONG, width INT, height INT, r_mean_milli LONG,"
    " g_mean_milli LONG, b_mean_milli LONG"
)


def _rgb_stats(px: np.ndarray) -> dict:
    """Per-channel means in integer milli-units over (n, H, W, 3)
    pixels (PPM and PNG)."""
    n, h, w, _ = px.shape
    means = px.reshape(n, -1, 3).sum(axis=1) * 1000 // (w * h)
    return {
        "width": w,
        "height": h,
        "r_mean_milli": means[:, 0],
        "g_mean_milli": means[:, 1],
        "b_mean_milli": means[:, 2],
    }


def _rgb_oracle(w: int, h: int) -> str:
    return _oracle(
        w * h * 3,
        f"""px AS (
  SELECT doc_id, i, s
  FROM body, unnest(range(0, {w * h})) AS t(i)
)""",
        f"""SELECT doc_id,
       {w} AS width, {h} AS height,
       CAST(sum(ascii(substr(s, i * 3 + 1, 1))) AS BIGINT) * 1000 // {w * h}
         AS r_mean_milli,
       CAST(sum(ascii(substr(s, i * 3 + 2, 1))) AS BIGINT) * 1000 // {w * h}
         AS g_mean_milli,
       CAST(sum(ascii(substr(s, i * 3 + 3, 1))) AS BIGINT) * 1000 // {w * h}
         AS b_mean_milli
FROM px""",
    )


_AUDIO_SCHEMA = (
    "doc_id LONG, n_samples LONG, rms LONG, peak LONG,"
    " floor_s LONG, mean_milli LONG"
)


def _audio_stats(s: np.ndarray) -> dict:
    """The cheap audio QA block over (n, samples) int64 PCM — RMS on
    the floor grid, peak, floor, milli-mean — in exact integer units
    (sqrt is IEEE-correctly-rounded in both engines). Shared by WAV,
    mu-law, A-law and ADPCM."""
    m = s.shape[1]
    return {
        "n_samples": m,
        "rms": np.floor(np.sqrt((s * s).sum(axis=1) / m)).astype(np.int64),
        "peak": s.max(axis=1),
        "floor_s": s.min(axis=1),
        "mean_milli": s.sum(axis=1) * 1000 // m,
    }


# SQL twin of _audio_stats over pcm(doc_id, v). mean_milli uses FLOOR
# division, not DuckDB's //: numpy // floors while DuckDB // truncates
# toward zero, and sum(v) CAN go negative — mu-law samples from
# printable bytes are all negative, A-law and ADPCM span both signs,
# and a multibyte UTF-8 document puts a >=0x80 byte in a PCM16 high
# byte (trap 30). |sum(v)*1000| < 2^53, so the double path is exact.
_AUDIO_TAIL = """SELECT doc_id,
       count(*) AS n_samples,
       CAST(floor(sqrt(CAST(sum(v * v) AS DOUBLE) / count(*))) AS BIGINT) AS rms,
       max(v) AS peak,
       min(v) AS floor_s,
       CAST(floor(CAST(sum(v) AS DOUBLE) * 1000 / count(*)) AS BIGINT)
         AS mean_milli
FROM pcm"""


def _index_stats(idx: np.ndarray) -> dict:
    """Palette-index stats over (n, H, W) images (GIF and BMP): mean in
    milli-units, max, min and distinct count."""
    n, h, w = idx.shape
    srt = np.sort(idx.reshape(n, -1), axis=1)
    return {
        "width": w,
        "height": h,
        "n_pixels": h * w,
        "idx_mean_milli": srt.sum(axis=1) * 1000 // (h * w),
        "idx_max": srt[:, -1],
        "idx_min": srt[:, 0],
        "n_distinct_idx": (np.diff(srt, axis=1) != 0).sum(axis=1) + 1,
    }


def _index_oracle(w: int, h: int, pos_weighted: bool = False) -> str:
    weighted = (
        ",\n       CAST(sum((i + 1) * idx) AS BIGINT) AS pos_weighted"
        if pos_weighted
        else ""
    )
    return _oracle(
        w * h,
        f"""px AS (
  SELECT doc_id, i, ascii(substr(s, i + 1, 1)) AS idx
  FROM body, unnest(range(0, {w * h})) AS t(i)
)""",
        f"""SELECT doc_id,
       {w} AS width, {h} AS height,
       count(*) AS n_pixels,
       CAST(sum(idx) AS BIGINT) * 1000 // count(*) AS idx_mean_milli,
       max(idx) AS idx_max,
       min(idx) AS idx_min,
       count(DISTINCT idx) AS n_distinct_idx{weighted}
FROM px""",
    )


# ---------------------------------------------------------------------------
# PPM: P6 images — no codec, a real header parse + pixel reshape
# ---------------------------------------------------------------------------

PPM_W, PPM_H = 24, 16  # 24×16 RGB → 1152 pixel bytes
_PPM_BODY_LEN = PPM_W * PPM_H * 3
_PPM_HEADER = f"P6\n{PPM_W} {PPM_H}\n255\n".encode()


def _ppm_decode(payloads: list) -> np.ndarray:
    """P6 parse — magic, dims, maxval: three '\\n'-terminated fields —
    then the pixel buffer as (n, H, W, 3)."""
    pixels = []
    for buf in payloads:
        fields = buf.split(b"\n", 3)
        _need(len(fields) == 4, "PPM", "header is not three fields")
        magic, dims, maxval, px = fields
        _need(magic == b"P6", "PPM", "missing P6 magic")
        _need(dims.split() == _PPM_HEADER.split()[1:3], "PPM", f"dims {dims!r}")
        _need(maxval == b"255", "PPM", f"maxval {maxval!r}")
        _need(len(px) == _PPM_BODY_LEN, "PPM", "pixel data truncated")
        pixels.append(px)
    return _stack(pixels, (PPM_H, PPM_W, 3))


PPM_DECODE_SQL = _rgb_oracle(PPM_W, PPM_H)


# ---------------------------------------------------------------------------
# REAL compressed-codec decode path: PNG (zlib + filter reconstruction,
# both stdlib/numpy — no PIL needed)
# ---------------------------------------------------------------------------

PNG_W, PNG_H = 24, 16
_PNG_BODY_LEN = PNG_W * PNG_H * 3
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return struct.pack(">I", len(data)) + tag + data + struct.pack(
        ">I", zlib.crc32(tag + data)
    )


def _filter_scanlines_batch(raws: np.ndarray) -> np.ndarray:
    """Apply the cycling PNG scanline filters to a BATCH of images at
    once: (n, H, W*3) int64 → (n, H*(1+W*3)) uint8 filtered streams.

    Encoding filters reference RAW neighbors, so every filter type is
    fully vectorizable over both pixels and images — the per-scanline
    loop below runs H numpy steps regardless of batch size (the
    per-byte Python loop version cost 6.3 s at sf0.1; this shape is
    what keeps the Python hop Arrow-amortized)."""
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


def _defilter_batch(plains: np.ndarray, h: int, stride: int) -> np.ndarray:
    """Reconstruct a BATCH of same-shape inflated scanline streams:
    (n, H*(1+stride)) uint8 → (n, H, stride) int64 pixel rows.

    Reconstruction of Sub/Average/Paeth rows is sequential in x (the
    left neighbor is the RECONSTRUCTED byte), so those rows run a
    stride-length loop of numpy steps vectorized across the batch;
    None/Up rows are single vectorized ops. Requires every stream in
    the batch to carry the same per-row filter types (true for the
    cycling encoder; checked)."""
    n = plains.shape[0]
    bpp = 3
    rows = plains.reshape(n, h, 1 + stride)
    img = np.zeros((n, h, stride), np.int64)
    prior = np.zeros((n, stride), np.int64)
    zero = np.zeros(n, np.int64)
    for y in range(h):
        ft = int(rows[0, y, 0])
        _need(ft <= 4, "PNG", f"bad filter type {ft}")
        _need((rows[:, y, 0] == ft).all(), "PNG", "mixed filter types in batch")
        filt = rows[:, y, 1:].astype(np.int64)
        if ft == 0:
            cur = filt
        elif ft == 2:
            cur = (filt + prior) % 256
        else:
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
        img[:, y, :] = cur
        prior = cur
    return img


def _png_encode(raws: list, w: int = PNG_W, h: int = PNG_H) -> list:
    """Truecolor-8 PNGs from one batch of raw (H, W, 3) pixel bodies.
    Scanline filters CYCLE through all five spec types (None, Sub, Up,
    Average, Paeth) so the decoder's reconstruction is exercised on
    every image; the whole batch filters in one vectorized pass and
    only the deflate (C-speed) runs per image."""
    head = _PNG_SIG + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    )
    iend = _png_chunk(b"IEND", b"")
    streams = _filter_scanlines_batch(_stack(raws, (h, w * 3)))
    return [
        head + _png_chunk(b"IDAT", zlib.compress(s.tobytes(), 6)) + iend
        for s in streams
    ]


def _png_inflate(buf: bytes) -> tuple:
    """Chunk walk with CRC verification, then zlib inflate of the IDAT
    stream. Returns ``((w, h), scanline bytes)``."""
    _need(buf[:8] == _PNG_SIG, "PNG", "bad signature")
    pos, dims, idat = 8, None, bytearray()
    while True:
        _need(pos + 8 <= len(buf), "PNG", "truncated before IEND")
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        tag = buf[pos + 4 : pos + 8]
        end = pos + 12 + length
        _need(end <= len(buf), "PNG", f"{tag!r} chunk truncated")
        data = buf[pos + 8 : end - 4]
        _need(
            buf[end - 4 : end] == struct.pack(">I", zlib.crc32(tag + data)),
            "PNG",
            f"chunk CRC mismatch in {tag!r}",
        )
        pos = end
        if tag == b"IHDR":
            _need(len(data) == 13, "PNG", "IHDR length")
            w, h, depth, ctype, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            _need(
                (depth, ctype, interlace) == (8, 2, 0),
                "PNG",
                "only 8-bit truecolor, non-interlaced",
            )
            dims = (w, h)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    _need(dims is not None, "PNG", "missing IHDR")
    try:
        return dims, zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise DecodeError(f"bad PNG payload: {e}") from None


def _png_decode(payloads: list, w: int = PNG_W, h: int = PNG_H) -> np.ndarray:
    """Inflate every image, then reconstruct all five filter types
    batch-wide: (n, H, W, 3) pixels."""
    plains = []
    for buf in payloads:
        dims, plain = _png_inflate(buf)
        _need(dims == (w, h), "PNG", f"unexpected dims {dims}")
        _need(len(plain) == h * (1 + w * 3), "PNG", "IDAT length mismatch")
        plains.append(plain)
    rows = _stack(plains, (h * (1 + w * 3),))
    return _defilter_batch(rows, h, w * 3).reshape(-1, h, w, 3)


PNG_DECODE_SQL = _rgb_oracle(PNG_W, PNG_H)


# ---------------------------------------------------------------------------
# REAL audio decode paths: RIFF/WAVE with PCM16 (WAV), ITU-T G.711
# mu-law and A-law, and IMA ADPCM. One header builder and one chunk
# walk serve all four; each format pins its own fmt (and, for the
# compressed ones, fact) chunk field for field.
# ---------------------------------------------------------------------------


def _wave_header(fmt: bytes, data_len: int, fact: bytes | None = None) -> bytes:
    """RIFF/WAVE header: the fmt chunk, the ``fact`` chunk (sample
    count) the WAVE spec requires for non-PCM formats, and the data
    chunk header — constant for a fixed geometry, so ``encode``
    prepends it."""
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if fact is not None:
        chunks += b"fact" + struct.pack("<I", len(fact)) + fact
    size = 4 + len(chunks) + 8 + data_len
    return (
        b"RIFF" + struct.pack("<I", size) + b"WAVE" + chunks
        + b"data" + struct.pack("<I", data_len)
    )


def _wave_data(
    buf: bytes, codec: str, fmt: bytes, data_len: int, fact: bytes | None = None
) -> bytes:
    """Walk one WAVE payload's RIFF chunks, require its fmt (and fact)
    chunk to equal the codec's, and return the data chunk, which must
    hold exactly ``data_len`` bytes."""
    _need(
        buf[:4] == b"RIFF" and buf[8:12] == b"WAVE", codec, "missing RIFF/WAVE magic"
    )
    chunks, pos = {}, 12
    while pos < len(buf):
        _need(pos + 8 <= len(buf), codec, "truncated chunk header")
        (n,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        chunks[buf[pos : pos + 4]] = buf[pos + 8 : pos + 8 + n]
        pos += 8 + n + n % 2  # chunks are word-aligned
    _need(chunks.get(b"fmt ") == fmt, codec, "fmt chunk mismatch")
    _need(fact is None or chunks.get(b"fact") == fact, codec, "fact chunk mismatch")
    data = chunks.get(b"data", b"")
    _need(len(data) == data_len, codec, f"data chunk holds {len(data)} bytes")
    return data


WAV_N_SAMPLES = 384
WAV_RATE = 8000
_WAV_BODY_LEN = WAV_N_SAMPLES * 2  # PCM16 mono
_WAV_FMT = struct.pack("<HHIIHH", 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)


def _wav_decode(payloads: list) -> np.ndarray:
    """PCM16 mono: each consecutive byte pair of the data chunk is one
    little-endian sample. Returns (n, WAV_N_SAMPLES) int64."""
    data = [_wave_data(b, "WAV", _WAV_FMT, _WAV_BODY_LEN) for b in payloads]
    return _stack(data, (WAV_N_SAMPLES,), "<i2")


WAV_DECODE_SQL = _oracle(
    _WAV_BODY_LEN,
    f"""smp AS (
  SELECT doc_id,
         ascii(substr(s, i * 2 + 1, 1))
           + 256 * ascii(substr(s, i * 2 + 2, 1)) AS raw
  FROM body, unnest(range(0, {WAV_N_SAMPLES})) AS t(i)
), pcm AS (
  SELECT doc_id,
         CAST(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END
              AS BIGINT) AS v
  FROM smp
)""",
    _AUDIO_TAIL,
)


# ITU-T G.711 (telephony companding — 8-bit logarithmic codewords ->
# 14-bit linear PCM). Unlike PCM16 this is an actual audio CODEC: each
# byte is a sign/exponent/mantissa triple on a logarithmic amplitude
# grid, expanded with the public-spec law (ITU-T G.711 Tables 1a/2a /
# the classic public-domain Sun g711.c formulation). The decode law is
# closed-form integer math, so the DuckDB oracle re-derives every
# sample VALUE — a hash-graded compressed-audio path.

MULAW_N_SAMPLES = 1024
MULAW_RATE = 8000
_MULAW_BIAS = 0x84  # 132 — the G.711 mu-law bias
_MULAW_FMT = 7  # WAVE_FORMAT_MULAW
_ALAW_FMT = 6  # WAVE_FORMAT_ALAW


def _mulaw_decode_table() -> np.ndarray:
    """256-entry codeword -> linear-PCM LUT (how production decoders
    ship G.711): complement, split 0x80 sign / 0x70 exponent / 0x0F
    mantissa, expand ((m<<3)+BIAS)<<e, re-subtract the bias with the
    sign applied. Anchors fixed by the spec: 0x00 -> -32124,
    0x80 -> +32124, 0x7F and 0xFF -> 0."""
    u = (~np.arange(256)) & 0xFF
    t = (((u & 0x0F) << 3) + _MULAW_BIAS) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, _MULAW_BIAS - t, t - _MULAW_BIAS).astype(np.int64)


def _alaw_decode_table() -> np.ndarray:
    """256-entry A-law codeword -> linear-PCM LUT (ITU-T G.711 Table
    1a / the public-domain Sun g711.c formulation): XOR the 0x55
    toggle mask, split sign/segment/mantissa, expand with the A-law
    segment switch (segment 0 adds 8, segment 1 adds 0x108, higher
    segments shift). Distinct law from mu-law: no bias subtraction,
    no all-ones complement, and NO zero output — minimum magnitude is
    8. Anchors fixed by the spec: 0x2A -> -32256, 0xAA -> +32256,
    0x55 -> -8, 0xD5 -> +8."""
    u = np.arange(256) ^ 0x55
    m = (u & 0x0F) << 4
    seg = (u & 0x70) >> 4
    t = np.where(
        seg == 0, m + 8, (m + 0x108) << np.maximum(seg - 1, 0)
    )
    return np.where(u & 0x80, t, -t).astype(np.int64)


def _g711(fmt_tag: int, lut: np.ndarray) -> Codec:
    """G.711 WAVE codec (fmt 6 A-law / 7 mu-law): 8-bit mono, block
    align 1, one codeword per sample, and the ``lut`` expansion to
    linear PCM. Every printable byte IS a legal codeword; under mu-law
    the cycled range [32,126] complements into sign-set codes spanning
    exponent segments 0-5, and under A-law the same range XORs into
    sign-clear codes across segments {0,1,2,3,6,7} — including both
    laws' boundary segments and both switch arms of the A-law
    expansion (the full 256-code space is covered by the LUT
    round-trip pytest, not the corpus)."""
    fmt = struct.pack("<HHIIHH", fmt_tag, 1, MULAW_RATE, MULAW_RATE, 1, 8)
    fact = struct.pack("<I", MULAW_N_SAMPLES)

    def decode(payloads: list) -> np.ndarray:
        codes = [
            _wave_data(b, "G.711", fmt, MULAW_N_SAMPLES, fact) for b in payloads
        ]
        return lut[_stack(codes, (MULAW_N_SAMPLES,))]

    header = _wave_header(fmt, MULAW_N_SAMPLES, fact)
    return Codec(
        MULAW_N_SAMPLES, _prepend(header), decode, _audio_stats, _AUDIO_SCHEMA
    )


# the decode law, re-derived per byte in SQL: u = 255-b (8-bit
# complement), exponent = (u//16)%8, t = ((u%16)*8 + 132) << e,
# sample = 132-t when the (complemented) sign bit is set else t-132
MULAW_DECODE_SQL = _oracle(
    MULAW_N_SAMPLES,
    f"""u AS (
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
)""",
    _AUDIO_TAIL,
)


# the A-law decode law per byte: u = b XOR 0x55, mantissa m = u%16,
# segment = (u//16)%8; t = m*16+8 (seg 0), m*16+264 (seg 1), else
# (m*16+264) << (seg-1); sign bit of u picks +t / -t.
ALAW_DECODE_SQL = _oracle(
    MULAW_N_SAMPLES,
    f"""u AS (
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
)""",
    _AUDIO_TAIL,
)


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

# fmt chunk size 20: the 2-byte cbSize extension carries
# wSamplesPerBlock, required for fmt 0x11; the fact chunk (sample
# count) is mandatory for compressed WAVE; the data chunk is one block
_ADPCM_FMT_CHUNK = struct.pack(
    "<HHIIHHHH",
    _ADPCM_FMT,
    1,
    ADPCM_RATE,
    ADPCM_RATE * _ADPCM_BLOCK_ALIGN // ADPCM_N_SAMPLES,
    _ADPCM_BLOCK_ALIGN,
    4,
    2,
    ADPCM_N_SAMPLES,
)
_ADPCM_FACT = struct.pack("<I", ADPCM_N_SAMPLES)
# the file up to the nibbles: WAVE header + the 4-byte block header
# (initial predictor 0 as int16 LE, step index 0, reserved 0). Printable
# bytes span low nibbles 0-15 and high nibbles 2-7, so sign-bit codes
# (8-15) and every index-adjust arm are exercised in the low-nibble
# position; the full 16-code space is covered by the encoder
# round-trip pytest.
_ADPCM_HEADER = (
    _wave_header(_ADPCM_FMT_CHUNK, _ADPCM_BLOCK_ALIGN, _ADPCM_FACT)
    + b"\x00\x00\x00\x00"
)


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


def _adpcm_decode(payloads: list) -> np.ndarray:
    """Validate each one-block payload, split its block header
    (predictor, step index) from the 4-bit codes — low nibble of each
    byte first, the IMA WAV packing order — and replay the whole batch
    in lockstep."""
    blocks = [
        _wave_data(b, "IMA ADPCM", _ADPCM_FMT_CHUNK, _ADPCM_BLOCK_ALIGN, _ADPCM_FACT)
        for b in payloads
    ]
    pred0, idx0 = zip(*(struct.unpack("<hB", b[:3]) for b in blocks))
    _need(max(idx0) <= 88, "IMA ADPCM", f"step index {max(idx0)} out of range")
    nibbles = _stack([b[4:] for b in blocks], (ADPCM_DATA_BYTES,))
    codes = np.empty((len(blocks), 2 * ADPCM_DATA_BYTES), np.int64)
    codes[:, 0::2] = nibbles & 0x0F
    codes[:, 1::2] = nibbles >> 4
    return _adpcm_decode_batch(codes, pred0, idx0)


_ADPCM_STEPS_VALUES = ", ".join(
    f"({i}, {s})" for i, s in enumerate(_ADPCM_STEPS)
)

# The oracle replays the decoder state machine with WITH RECURSIVE:
# state(doc_id, i, pred, idx) steps once per nibble, joining the
# nibble relation on (doc_id, i) and the step table on idx. All
# arithmetic is exact integers; >> becomes // on provably nonnegative
# step values (truncation == floor there); the audio tail reads the
# replayed predictors as pcm.
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
),
pcm AS (SELECT doc_id, CAST(pred AS BIGINT) AS v FROM state)
{_AUDIO_TAIL}
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
# VID_FRAMES contiguous W×H grayscale frames (the uncompressed y-plane
# layout every codec decodes INTO) after a tiny self-describing header
# ``RAWV<w><h><n>`` (one byte each)
_VID_HEADER = b"RAWV" + bytes([VID_W, VID_H, VID_FRAMES])


def _video_decode(payloads: list) -> np.ndarray:
    """Parse the RAWV header and reshape each buffer to
    (frames, H, W)."""
    for buf in payloads:
        _need(buf[:4] == b"RAWV", "video", "missing RAWV magic")
        _need(buf[4:7] == _VID_HEADER[4:], "video", f"geometry {tuple(buf[4:7])}")
        _need(len(buf) == len(_VID_HEADER) + _VID_BODY_LEN, "video", "frames truncated")
    frames = [b[len(_VID_HEADER) :] for b in payloads]
    return _stack(frames, (VID_FRAMES, VID_H, VID_W))


def _video_stats(vid: np.ndarray) -> dict:
    """Keep every VID_SAMPLE_EVERY-th frame (the decode-side temporal
    sampling a video curation pipeline runs) and emit the sampled-frame
    luma mean and a motion proxy (mean absolute difference between
    consecutive SAMPLED frames), both in exact integer milli-units."""
    n = len(vid)
    sampled = vid[:, ::VID_SAMPLE_EVERY]
    luma = sampled.reshape(n, -1)
    diffs = np.abs(sampled[:, 1:] - sampled[:, :-1]).reshape(n, -1)
    return {
        "n_frames": vid.shape[1],
        "n_sampled": sampled.shape[1],
        "luma_milli": luma.sum(axis=1) * 1000 // luma.shape[1],
        "motion_milli": diffs.sum(axis=1) * 1000 // diffs.shape[1],
    }


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


def _jpeg_idct_matrix() -> np.ndarray:
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
    _need(buf[:2] == b"\xff\xd8", "JPEG", "bad SOI marker")
    pos = 2
    qt = None
    dims = None
    dec_tabs: dict = {}
    while pos < len(buf):
        _need(pos + 4 <= len(buf), "JPEG", "truncated marker header")
        _need(buf[pos] == 0xFF, "JPEG", "marker sync lost")
        marker = buf[pos + 1]
        pos += 2
        (seglen,) = struct.unpack(">H", buf[pos : pos + 2])
        _need(seglen >= 2, "JPEG", "invalid marker segment length")
        _need(pos + seglen <= len(buf), "JPEG", "truncated marker segment")
        data = buf[pos + 2 : pos + seglen]
        if marker == 0xDB:
            _need(len(data) >= 65, "JPEG", "short DQT segment")
            _need(data[0] == 0x00, "JPEG", "only 8-bit quant tables supported")
            qt = [0] * 64
            for i in range(64):
                qt[_JPEG_ZIGZAG[i]] = data[1 + i]
        elif marker == 0xC4:
            _need(len(data) >= 17, "JPEG", "short DHT segment")
            tc, th = data[0] >> 4, data[0] & 15
            bits = list(data[1:17])
            vals = list(data[17 : 17 + sum(bits)])
            _need(len(vals) == sum(bits), "JPEG", "truncated Huffman table")
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
            _need(len(data) >= 8, "JPEG", "short SOF0 segment")
            prec, h, w, nf = struct.unpack(">BHHB", data[:6])
            _need((prec, nf) == (8, 1), "JPEG", "8-bit single-component baseline only")
            _need(data[7] == 0x11, "JPEG", "subsampling unsupported")
            dims = (w, h)
        elif marker == 0xDA:
            pos += seglen
            break
        else:
            raise DecodeError(f"bad JPEG payload: unexpected marker 0x{marker:02x}")
        pos += seglen
    _need(
        bool(qt) and dims is not None
        and (0, 0) in dec_tabs and (1, 0) in dec_tabs,
        "JPEG", "missing DQT/SOF0/DHT before SOS",
    )
    w, h = dims

    ent = bytearray()  # unstuffed entropy-coded segment
    saw_eoi = False
    while pos < len(buf):
        b = buf[pos]
        if b == 0xFF:
            _need(pos + 1 < len(buf), "JPEG", "entropy stream truncated at 0xFF")
            nxt = buf[pos + 1]
            if nxt == 0x00:
                ent.append(0xFF)
                pos += 2
                continue
            _need(nxt == 0xD9, "JPEG", f"unexpected in-stream marker 0x{nxt:02x}")
            saw_eoi = True
            break
        ent.append(b)
        pos += 1
    _need(saw_eoi, "JPEG", "entropy stream ends without EOI")

    bitpos = 0
    total = len(ent) * 8

    def read_bit() -> int:
        nonlocal bitpos
        _need(bitpos < total, "JPEG", "entropy stream truncated")
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
            _need(ln <= 16, "JPEG", "invalid Huffman code")
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
            _need(k <= 63, "JPEG", "AC coefficient index overflow")
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


def _jpeg_encode(raws: list) -> list:
    """Baseline JPEGs: 2 printable text bytes per 8×8 block pick the
    quantized DC level and one of ``JPEG_N_PATTERNS`` AC menus, which
    ``_encode_jpeg`` Huffman-codes into a real entropy stream."""
    return [
        _encode_jpeg(
            [b[2 * i] - _JPEG_DC_BIAS for i in range(JPEG_N_BLOCKS)],
            [b[2 * i + 1] % JPEG_N_PATTERNS for i in range(JPEG_N_BLOCKS)],
        )
        for b in raws
    ]


def _jpeg_decode(payloads: list) -> tuple:
    """Full baseline decode of every image: ``(pixels (n, H, W),
    dc_sums, nonzero_ac counts)``."""
    imgs, dc_sums, nzs = zip(*(_decode_jpeg(b) for b in payloads))
    for img in imgs:
        _need(img.shape == (JPEG_H, JPEG_W), "JPEG", f"dims {img.shape}")
    return np.stack(imgs), np.array(dc_sums), np.array(nzs)


# the weighted checksum's per-pixel weight (1+x+8y)², tiled per block
_JPEG_WTILE = np.tile(
    (1 + np.arange(8)[None, :] + 8 * np.arange(8)[:, None]) ** 2,
    (JPEG_H // 8, JPEG_W // 8),
).astype(np.int64)


def _jpeg_stats(decoded: tuple) -> dict:
    imgs, dc_sums, nzs = decoded
    n = len(imgs)
    return {
        "width": JPEG_W,
        "height": JPEG_H,
        "dc_sum": dc_sums,
        "nonzero_ac": nzs,
        "pixel_sum": imgs.reshape(n, -1).sum(axis=1),
        "pix_weighted": (imgs * _JPEG_WTILE).reshape(n, -1).sum(axis=1),
    }


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

# The oracle never sees the codec: it recomputes the same integers from
# the text bytes, with per-pattern pixel-sum constants from the
# independent spec-literal IDCT (_jpeg_pattern_constants), so a hash
# match proves entropy decode, dequantization, IDCT and rounding
# pixel-exactly.
JPEG_DECODE_SQL = _oracle(
    _JPEG_BODY_LEN,
    f"""blocks AS (
  SELECT doc_id, unnest(range(0, {JPEG_N_BLOCKS})) AS b, s FROM body
), per AS (
  SELECT doc_id,
         ascii(substr(s, 2 * b + 1, 1)) - {_JPEG_DC_BIAS} AS dcq,
         ascii(substr(s, 2 * b + 2, 1)) % {JPEG_N_PATTERNS} AS p
  FROM blocks
)""",
    f"""SELECT doc_id,
       {JPEG_W} AS width, {JPEG_H} AS height,
       CAST(sum({_JPEG_QUANT[0]} * dcq) AS BIGINT) AS dc_sum,
       CAST(sum(CASE p {_JPEG_NZ_CASE} END) AS BIGINT) AS nonzero_ac,
       CAST(sum(8192 + 64 * dcq + CASE p {_JPEG_S_CASE} END) AS BIGINT)
         AS pixel_sum,
       CAST(sum({_JPEG_WSUM} * (128 + dcq) + CASE p {_JPEG_W_CASE} END)
            AS BIGINT) AS pix_weighted
FROM per""",
)


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
            _need(pos < len(stream), "GIF", "LZW stream truncated")
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
        _need(bool(table), "GIF", "data code before CLEAR")
        if prev is None:  # first code after CLEAR must be a root
            _need(code < 256, "GIF", "non-root code after CLEAR")
            out += table[code]
            prev = table[code]
            continue
        if code < nxt:
            entry = table[code]
        else:  # KwKwK
            _need(code == nxt, "GIF", "LZW code beyond dictionary")
            entry = prev + prev[:1]
        out += entry
        if nxt < (1 << _GIF_MAX_WIDTH):
            table.append(prev + entry[:1])
            nxt += 1
            if nxt == (1 << width) and width < _GIF_MAX_WIDTH:
                width += 1
        prev = entry
        _need(len(out) <= n_expected, "GIF", "LZW output exceeds pixel count")
    _need(len(out) == n_expected, "GIF", "LZW output short of pixel count")
    return bytes(out)


def _gif_header() -> bytes:
    """GIF87a header + logical screen descriptor + 256-entry grayscale
    global color table + image descriptor — constant for the fixed
    geometry, so Spark prepends it as a literal. Palette entry i is
    (i,i,i): pixel luminance == palette index == body byte."""
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
    Input validation raises DecodeError."""
    _need(buf[:6] == b"GIF87a", "GIF", "bad signature")
    _need(len(buf) >= 13, "GIF", "truncated screen descriptor")
    sw, sh = struct.unpack("<HH", buf[6:10])
    packed = buf[10]
    _need(bool(packed & 0x80), "GIF", "missing global color table")
    gct_n = 2 << (packed & 0x07)
    pos = 13
    _need(len(buf) >= pos + 3 * gct_n, "GIF", "truncated color table")
    gct = np.frombuffer(buf, np.uint8, count=3 * gct_n, offset=pos).reshape(
        gct_n, 3
    )
    _need(
        bool((gct[:, 0] == gct[:, 1]).all() and (gct[:, 0] == gct[:, 2]).all()),
        "GIF", "non-grayscale palette",
    )
    pos += 3 * gct_n
    _need(pos + 10 <= len(buf) and buf[pos] == 0x2C, "GIF", "missing image descriptor")
    ix, iy, iw, ih = struct.unpack("<HHHH", buf[pos + 1 : pos + 9])
    _need(buf[pos + 9] & 0xC0 == 0, "GIF", "local table/interlace unsupported")
    _need((ix, iy, iw, ih) == (0, 0, sw, sh), "GIF", "sub-rect unsupported")
    pos += 10
    _need(pos < len(buf), "GIF", "missing LZW code size")
    _need(buf[pos] == _GIF_MIN_CODE_SIZE, "GIF", "unexpected code size")
    pos += 1
    stream = bytearray()
    while True:
        _need(pos < len(buf), "GIF", "truncated sub-blocks")
        n = buf[pos]
        pos += 1
        if n == 0:
            break
        _need(pos + n <= len(buf), "GIF", "truncated sub-block body")
        stream += buf[pos : pos + n]
        pos += n
    _need(pos < len(buf) and buf[pos] == 0x3B, "GIF", "missing trailer")
    idx = np.frombuffer(_lzw_decode(bytes(stream), iw * ih), np.uint8)
    return iw, ih, idx


def _gif_encode(raws: list) -> list:
    """GIF87a files: constant header + the LZW minimum-code-size byte +
    the REAL LZW-compressed index stream in length-prefixed sub-blocks
    + trailer."""
    header = _gif_header()
    out = []
    for body in raws:
        stream = _lzw_encode(body)
        blocks = bytearray([_GIF_MIN_CODE_SIZE])
        for i in range(0, len(stream), 255):
            chunk = stream[i : i + 255]
            blocks.append(len(chunk))
            blocks += chunk
        blocks.append(0x00)  # block terminator
        out.append(header + bytes(blocks) + b"\x3b")
    return out


def _gif_decode(payloads: list) -> np.ndarray:
    """Decode every GIF to its (H, W) palette indexes — with the
    grayscale palette, luminance == index."""
    imgs = []
    for buf in payloads:
        w, h, idx = _decode_gif(buf)
        _need((w, h) == (GIF_W, GIF_H), "GIF", f"dims {(w, h)}")
        imgs.append(idx.tobytes())
    return _stack(imgs, (GIF_H, GIF_W))


GIF_DECODE_SQL = _index_oracle(GIF_W, GIF_H)


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


def _bmp_headers(data_len: int) -> bytes:
    """BITMAPFILEHEADER + BITMAPINFOHEADER (biCompression=1, BI_RLE8)
    + a 256-entry grayscale BGRA palette. Positive biHeight = the
    spec's bottom-up row order."""
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
    DecodeError on overruns or truncation."""
    img = np.zeros((h, w), np.uint8)  # storage order (bottom-up rows)
    x = 0
    y = 0  # y counts stored rows from the bottom
    pos = 0
    ended = False
    while pos < len(data):
        _need(pos + 2 <= len(data), "BMP", "escape/run pair truncated")
        a, b = data[pos], data[pos + 1]
        pos += 2
        if a > 0:  # encoded run
            _need(y < h and x + a <= w, "BMP", "run overflows the row")
            img[y, x : x + a] = b
            x += a
        elif b == 0:  # end of line
            _need(y < h, "BMP", "EOL past the last row")
            x, y = 0, y + 1
        elif b == 1:  # end of bitmap
            ended = True
            break
        elif b == 2:  # delta jump
            _need(pos + 2 <= len(data), "BMP", "delta operands truncated")
            dx, dy = data[pos], data[pos + 1]
            pos += 2
            _need(y + dy < h and x + dx <= w, "BMP", "delta jumps out of image")
            x, y = x + dx, y + dy
        else:  # absolute mode: b literal bytes, word-padded
            n = b
            pad = n % 2
            _need(pos + n + pad <= len(data), "BMP", "absolute block truncated")
            _need(y < h and x + n <= w, "BMP", "absolute block overflows the row")
            img[y, x : x + n] = np.frombuffer(
                data, np.uint8, count=n, offset=pos
            )
            x += n
            pos += n + pad
    _need(ended, "BMP", "missing end-of-bitmap escape")
    return img[::-1].reshape(-1)  # flip bottom-up storage to top-down


def _bmp_encode(raws: list) -> list:
    """RLE8-compressed BMP files: per-file headers (the file and info
    headers carry the per-payload biSizeImage), the grayscale palette,
    and the REAL RLE8-encoded pixel rows, stored bottom-up with EOL
    escapes and a final EOB."""
    out = []
    for px in raws:
        data = bytearray()
        for r in range(BMP_H):  # bottom-up storage order
            data += _rle8_encode_row(px[(BMP_H - 1 - r) * BMP_W : (BMP_H - r) * BMP_W])
            data += b"\x00\x00"  # EOL
        data += b"\x00\x01"  # EOB
        out.append(_bmp_headers(len(data)) + bytes(data))
    return out


def _bmp_decode(payloads: list) -> np.ndarray:
    """Header walk (magic, pixel offset, BITMAPINFOHEADER, BI_RLE8,
    geometry), then the full escape-coded RLE decode with the
    bottom-up flip: (n, H, W) top-down palette indexes."""
    imgs = []
    for buf in payloads:
        _need(len(buf) >= _BMP_OFFBITS, "BMP", "header truncated")
        _need(buf[0:2] == b"BM", "BMP", "missing BM magic")
        (off,) = struct.unpack("<I", buf[10:14])
        _need(off == _BMP_OFFBITS, "BMP", "unexpected pixel offset")
        bisize, w, h, planes, bpp, comp, size_img = struct.unpack(
            "<IiiHHII", buf[14:38]
        )
        _need(bisize == 40, "BMP", "not a BITMAPINFOHEADER")
        _need(
            (w, h, planes, bpp, comp) == (BMP_W, BMP_H, 1, 8, 1),
            "BMP",
            f"geometry/compression mismatch {(w, h, planes, bpp, comp)}",
        )
        _need(len(buf) >= off + size_img, "BMP", "pixel data truncated")
        imgs.append(_rle8_decode(buf[off : off + size_img], w, h).tobytes())
    return _stack(imgs, (BMP_H, BMP_W))


def _bmp_stats(idx: np.ndarray) -> dict:
    """The palette-index stats plus a position-weighted checksum over
    the top-down pixel order — the stat that fails if rows are
    unflipped, deltas mis-accounted, or absolute padding skipped."""
    flat = idx.reshape(len(idx), -1)
    pos = np.arange(1, flat.shape[1] + 1, dtype=np.int64)
    return {**_index_stats(idx), "pos_weighted": flat @ pos}


BMP_DECODE_SQL = _index_oracle(BMP_W, BMP_H, pos_weighted=True)


# ---------------------------------------------------------------------------
# The codec table and the two queries built from it
# ---------------------------------------------------------------------------

CODECS: dict[str, Codec] = {
    "ppm": Codec(
        _PPM_BODY_LEN, _prepend(_PPM_HEADER), _ppm_decode, _rgb_stats, _RGB_SCHEMA
    ),
    "png": Codec(_PNG_BODY_LEN, _png_encode, _png_decode, _rgb_stats, _RGB_SCHEMA),
    "wav": Codec(
        _WAV_BODY_LEN,
        _prepend(_wave_header(_WAV_FMT, _WAV_BODY_LEN)),
        _wav_decode,
        _audio_stats,
        _AUDIO_SCHEMA,
    ),
    "mulaw": _g711(_MULAW_FMT, _mulaw_decode_table()),
    "alaw": _g711(_ALAW_FMT, _alaw_decode_table()),
    "adpcm": Codec(
        ADPCM_DATA_BYTES,
        _prepend(_ADPCM_HEADER),
        _adpcm_decode,
        _audio_stats,
        _AUDIO_SCHEMA,
    ),
    "video": Codec(
        _VID_BODY_LEN,
        _prepend(_VID_HEADER),
        _video_decode,
        _video_stats,
        "doc_id LONG, n_frames INT, n_sampled INT,"
        " luma_milli LONG, motion_milli LONG",
    ),
    "jpeg": Codec(
        _JPEG_BODY_LEN,
        _jpeg_encode,
        _jpeg_decode,
        _jpeg_stats,
        "doc_id LONG, width INT, height INT, dc_sum LONG,"
        " nonzero_ac LONG, pixel_sum LONG, pix_weighted LONG",
    ),
    "gif": Codec(
        _GIF_BODY_LEN,
        _gif_encode,
        _gif_decode,
        _index_stats,
        "doc_id LONG, width LONG, height LONG, n_pixels LONG,"
        " idx_mean_milli LONG, idx_max LONG, idx_min LONG,"
        " n_distinct_idx LONG",
    ),
    "bmp": Codec(
        _BMP_BODY_LEN,
        _bmp_encode,
        _bmp_decode,
        _bmp_stats,
        "doc_id LONG, width INT, height INT, n_pixels LONG,"
        " idx_mean_milli LONG, idx_max LONG, idx_min LONG,"
        " n_distinct_idx LONG, pos_weighted LONG",
    ),
}


def payload(spark: SparkSession, sf_dir: str, codec: str) -> DataFrame:
    """(doc_id, payload): the encoded ``codec`` files themselves, for
    readers that re-parse a payload independently."""
    c = CODECS[codec]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raws = [bytes(r) for r in pdf["raw"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": c.encode(raws)})

    return _body(spark, sf_dir, c.body_len).mapInPandas(
        run, "doc_id LONG, payload BINARY"
    )


def decode_features(spark: SparkSession, sf_dir: str, codec: str) -> DataFrame:
    """Encode every document's body as a ``codec`` file, decode it back
    and emit the codec's exact integer features, ordered by doc_id.

    Encode and decode compose inside ONE mapInPandas, so payload bytes
    never leave the Python worker (two chained Python eval nodes cost
    0.5-0.7 s per query: every payload went JVM→Python→JVM→Python). The
    DuckDB oracle never sees the codec — it re-derives the features
    from the same text bytes — so a hash match proves the round trip
    pixel- and sample-exactly. Decode is embarrassingly parallel across
    partitions, and only a handful of ints per document shuffles."""
    c = CODECS[codec]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                samples = c.decode(c.encode([bytes(r) for r in pdf["raw"]]))
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"].to_numpy(), **c.stats(samples)}
                )

    return (
        _body(spark, sf_dir, c.body_len)
        .mapInPandas(run, c.schema)
        .orderBy("doc_id")
    )


def audio_spectral_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral features over the WAV codec's validated samples — a
    REAL FFT (numpy rfft) per clip: dominant frequency bin, spectral
    centroid, and a Parseval consistency check (time-domain energy vs
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
    wav = CODECS["wav"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            s = wav.decode(wav.encode([bytes(r) for r in pdf["raw"]]))
            s = s.astype(np.float64)
            n = s.shape[1]
            spec = np.fft.rfft(s, axis=1)
            mag2 = spec.real**2 + spec.imag**2
            # Parseval for rfft, valid for ANY N: every bin except
            # DC — and, when N is even, the Nyquist bin — has a
            # mirrored conjugate and counts twice
            w = np.full(mag2.shape[1], 2.0)
            w[0] = 1.0
            if n % 2 == 0:
                w[-1] = 1.0
            freq_energy = (w * mag2).sum(axis=1) / n
            time_energy = (s * s).sum(axis=1)
            safe = np.where(time_energy == 0, 1.0, time_energy)
            err = np.floor(np.abs(freq_energy - time_energy) / safe * 1e6 + 0.5)
            # exclude DC (bin 0): the text-derived samples are all
            # positive ASCII codes, so DC always dominates raw
            ac = mag2[:, 1:]
            ac_sum = ac.sum(axis=1)
            centroid = np.floor(
                (ac * np.arange(1, mag2.shape[1])).sum(axis=1)
                / np.where(ac_sum == 0, 1.0, ac_sum)
                * 1000
                + 0.5
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_bins": mag2.shape[1],
                    "dominant_bin": np.argmax(ac, axis=1) + 1,
                    "centroid_mbin": np.where(ac_sum == 0, 0, centroid).astype(
                        np.int64
                    ),
                    "parseval_err_ppm": np.where(time_energy == 0, 0, err).astype(
                        np.int64
                    ),
                }
            )

    return _body(spark, sf_dir, wav.body_len).mapInPandas(
        run,
        "doc_id LONG, n_bins LONG, dominant_bin LONG,"
        " centroid_mbin LONG, parseval_err_ppm LONG",
    )


def _query(codec: str):
    return partial(decode_features, codec=codec)


QUERIES = {
    "mm_binary_metadata": (binary_metadata, BINARY_METADATA_SQL),
    "mm_decode_stub_features": (frame_sample_checksum, FRAME_SAMPLE_SQL),
    "mm_frame_sample_checksum": (frame_sample_checksum, FRAME_SAMPLE_SQL),
    "mm_byte_histogram": (byte_histogram_features, BYTE_HISTOGRAM_SQL),
    "mm_modality_routing": (modality_routing, MODALITY_ROUTING_SQL),
    "mm_phash_neardup": (phash_neardup, None),
    "mm_ppm_decode_features": (_query("ppm"), PPM_DECODE_SQL),
    "mm_png_decode_features": (_query("png"), PNG_DECODE_SQL),
    "mm_wav_decode_features": (_query("wav"), WAV_DECODE_SQL),
    "mm_audio_spectral_features": (audio_spectral_features, None),
    "mm_video_frame_features": (_query("video"), VIDEO_DECODE_SQL),
    "mm_byte_entropy": (byte_entropy, BYTE_ENTROPY_SQL),
    "mm_jpeg_decode_features": (_query("jpeg"), JPEG_DECODE_SQL),
    "mm_mulaw_decode_features": (_query("mulaw"), MULAW_DECODE_SQL),
    "mm_alaw_decode_features": (_query("alaw"), ALAW_DECODE_SQL),
    "mm_gif_decode_features": (_query("gif"), GIF_DECODE_SQL),
    "mm_adpcm_decode_features": (_query("adpcm"), ADPCM_DECODE_SQL),
    "mm_bmp_rle8_decode_features": (_query("bmp"), BMP_DECODE_SQL),
}
