"""Pure-Python Avro Object Container File codec + distributed scan.

Provenance: SURVEY.md §2 Tier B source formats. The ``spark-avro``
connector jar is not shipped in this container (``format("avro")``
fails with the built-in-but-external message; the Avro *library* jars
are present but unusable from Python without the connector), so the
engine carries its own OCF codec — the Avro binary format is zigzag
varints + length-prefixed strings + raw-deflate blocks, all stdlib,
the same "no external codec needed" move as the PNG decoder
(`llm_ops/multimodal.py`).

Proof pattern (as for PNG): the OCF files are STAGED from the supplier
table by executors, the scan decodes them back, and the DuckDB oracle
re-derives every value from the source table — a hash match proves the
zigzag/varint/deflate round trip reconstructed each record exactly.

Scale shape: one OCF file per staging partition; ``binaryFile`` lists
them as a distributed scan (a task per file group) and the Arrow-
batched decoder parses blocks inside `mapInPandas`. Within-file
parallelism at 100 TB uses the format's sync markers as split points
(each block is self-delimiting: count, size, payload, 16-byte sync) —
the reader here validates every block's sync, which is exactly the
resync check a split reader performs.
"""

from __future__ import annotations

import json
import os
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io

MAGIC = b"Obj\x01"
_BLOCK_RECORDS = 200

# (name, avro type); field order IS the wire order
FIELDS = (
    ("suppkey", "long"),
    ("name", "string"),
    ("nationkey", "long"),
    ("acctbal_cents", "long"),
)
SCHEMA_JSON = json.dumps(
    {
        "type": "record",
        "name": "supplier_row",
        "fields": [{"name": n, "type": t} for n, t in FIELDS],
    },
    separators=(",", ":"),
)


# --- binary primitives ------------------------------------------------


def _wlong(buf: bytearray, n: int) -> None:
    """Avro long: zigzag then base-128 varint, little-endian groups."""
    z = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    while z >= 0x80:
        buf.append((z & 0x7F) | 0x80)
        z >>= 7
    buf.append(z)


def _wstr(buf: bytearray, s: str) -> None:
    b = s.encode("utf-8")
    _wlong(buf, len(b))
    buf.extend(b)


def _rlong(mv: bytes, pos: int) -> tuple[int, int]:
    z, shift = 0, 0
    while True:
        byte = mv[pos]
        pos += 1
        z |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (z >> 1) ^ -(z & 1), pos


def _rstr(mv: bytes, pos: int) -> tuple[str, int]:
    n, pos = _rlong(mv, pos)
    return mv[pos : pos + n].decode("utf-8"), pos + n


# --- container file ---------------------------------------------------


def _sync_for(name: str) -> bytes:
    """Deterministic 16-byte sync marker per file (staging must be
    reproducible — NOTES trap: no Math.random analogs in fixtures)."""
    import hashlib

    return hashlib.md5(name.encode()).digest()


def write_ocf(path: str, rows: list[tuple], sync: bytes) -> None:
    """Write one Avro OCF with deflate-coded blocks."""
    assert len(sync) == 16
    out = bytearray(MAGIC)
    # file metadata map: 2 entries, then end-of-map 0
    _wlong(out, 2)
    _wstr(out, "avro.schema")
    _wstr(out, SCHEMA_JSON)
    _wstr(out, "avro.codec")
    _wstr(out, "deflate")
    _wlong(out, 0)
    out.extend(sync)
    for i in range(0, len(rows), _BLOCK_RECORDS):
        chunk = rows[i : i + _BLOCK_RECORDS]
        body = bytearray()
        for suppkey, name, nationkey, cents in chunk:
            _wlong(body, suppkey)
            _wstr(body, name)
            _wlong(body, nationkey)
            _wlong(body, cents)
        # avro "deflate" = raw RFC1951 stream (no zlib header/trailer)
        comp = zlib.compressobj(6, zlib.DEFLATED, -15)
        packed = comp.compress(bytes(body)) + comp.flush()
        _wlong(out, len(chunk))
        _wlong(out, len(packed))
        out.extend(packed)
        out.extend(sync)
    with open(path, "wb") as fh:
        fh.write(bytes(out))


def read_ocf(blob: bytes) -> list[tuple]:
    """Decode one OCF: header map, codec dispatch, per-block sync
    validation (a corrupt or misaligned block fails loudly, exactly
    like a split reader's resync check)."""
    assert blob[:4] == MAGIC, "bad OCF magic"
    pos = 4
    meta: dict[str, str] = {}
    n, pos = _rlong(blob, pos)
    while n != 0:
        if n < 0:  # spec: negative count prefixes a byte size
            _size, pos = _rlong(blob, pos)
            n = -n
        for _ in range(n):
            k, pos = _rstr(blob, pos)
            v, pos = _rstr(blob, pos)
            meta[k] = v
        n, pos = _rlong(blob, pos)
    schema = json.loads(meta["avro.schema"])
    assert [f["name"] for f in schema["fields"]] == [n for n, _ in FIELDS], (
        "unexpected schema"
    )
    codec = meta.get("avro.codec", "null")
    assert codec in ("null", "deflate"), f"unsupported codec {codec}"
    sync = blob[pos : pos + 16]
    pos += 16
    rows: list[tuple] = []
    while pos < len(blob):
        count, pos = _rlong(blob, pos)
        size, pos = _rlong(blob, pos)
        packed = blob[pos : pos + size]
        pos += size
        assert blob[pos : pos + 16] == sync, "block sync marker mismatch"
        pos += 16
        body = zlib.decompress(packed, -15) if codec == "deflate" else packed
        bp = 0
        for _ in range(count):
            suppkey, bp = _rlong(body, bp)
            name, bp = _rstr(body, bp)
            nationkey, bp = _rlong(body, bp)
            cents, bp = _rlong(body, bp)
            rows.append((suppkey, name, nationkey, cents))
        assert bp == len(body), "trailing bytes in block"
    return rows


# --- the registered scan ----------------------------------------------


def avro_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the supplier table as real Avro OCF files (executors
    write one file per partition, deflate blocks, per-file sync
    markers), then scan them back: ``binaryFile`` distributed listing
    → Arrow-batched pure-Python OCF decode → typed rows.
    """
    sup = io.load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("suppkey"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").cast("long").alias("nationkey"),
        F.floor(F.col("s_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("acctbal_cents"),
    )

    def write(tmp: str) -> None:
        os.makedirs(tmp)

        def write_part(rows) -> None:
            rows = sorted(
                (r["suppkey"], r["name"], r["nationkey"], r["acctbal_cents"])
                for r in rows
            )
            if not rows:
                return
            fname = f"part-{rows[0][0]:06d}.avro"
            write_ocf(os.path.join(tmp, fname), rows, _sync_for(fname))

        # deterministic file layout: partition by key range, not hash
        sup.repartitionByRange(8, "suppkey").foreachPartition(write_part)

    path = io.staged(io.stage_dir(sf_dir, "supplier-avro"), write)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("content")
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for blob in pdf["content"]:
                rows.extend(read_ocf(bytes(blob)))
            yield pd.DataFrame(
                rows, columns=[n for n, _ in FIELDS]
            )

    return files.mapInPandas(
        parse,
        "suppkey LONG, name STRING, nationkey LONG, acctbal_cents LONG",
    )


AVRO_SCAN_SQL = """
SELECT s_suppkey AS suppkey,
       s_name AS name,
       s_nationkey AS nationkey,
       CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents
FROM supplier
"""


QUERIES = {
    "src_avro_roundtrip_scan": (avro_roundtrip_scan, AVRO_SCAN_SQL),
}
