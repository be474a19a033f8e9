"""Transactional manifest-commit parquet sink (exactly-once append).

Closes SURVEY §7.3#5: the reference's append is fire-and-forget REST
POSTs with no transaction (bin/copy-seamless-to-sharepoint.rb:111-125 —
a crash mid-batch leaves a half-written sink, and its strict-`>`
watermark then *skips* the unposted remainder forever). Round 2's
``run_incremental_append`` was idempotent per key-range directory but
not atomic: a reader racing the overwrite could see a partial batch.

This module is a minimal Delta-style commit protocol on plain files:

  <root>/data/txn-<txn_id>/part-*.parquet   -- distributed data write
  <root>/_manifest/v<NNNNNN>.json           -- ordered manifest log
  <root>/_manifest/SCHEMA                   -- the sink's schema, once
  <root>/_manifest/LATEST                   -- pointer, atomic rename

* The DATA write is a normal distributed ``df.write.parquet`` into a
  transaction-private directory — executors never touch shared state,
  so the protocol is identical on local[32] and a 1000-executor
  cluster (only the tiny manifest commit is driver-side, same as
  Delta/Iceberg).
* COMMIT is: create ``v<next>.json`` put-if-absent (the new snapshot's
  full file list, txn ids and row count), then ``os.replace`` a temp
  file onto ``LATEST``. ``os.replace`` is atomic on POSIX, so a reader
  sees the old snapshot or the new one, never a mix; a crash ANYWHERE
  before the rename leaves the sink logically unchanged (orphan data
  files and an orphan ``v<next>.json`` claim are invisible — neither is
  reachable from ``LATEST`` — and both are swept by ``vacuum``).
* OVERLAP: the put-if-absent create is the claim on the next version,
  so two writers that read the same snapshot cannot both write
  ``v<next>``. The loser of an append re-reads the latest snapshot and
  commits on top of it; the loser of an upsert raises, because its
  touched-file set was computed against the older snapshot. Only the
  holder of ``v<n+1>`` flips ``LATEST`` off ``v<n>``, so ``LATEST``
  never moves back.
* CRASHED CLAIMS: a claim above ``LATEST`` is taken over — by the
  retry of the same txn id at once, by any other writer once the claim
  is ``_CLAIM_TIMEOUT_S`` old (an append waits that long for the flip
  first). A put-if-absent marker named after the claim's inode and
  mtime lets exactly one writer take over a given claim, so a crash
  never blocks the sink and two writers never both commit one version
  (the timeout is a lease: a live writer stalled that long between its
  claim and its flip loses its commit).
* EXACTLY-ONCE: each commit carries a caller txn id; a retry of an
  already-committed txn id is a no-op, so at-least-once drivers (cron
  rerun, stream restart) still append each batch once.
* COUNTS AND SCHEMA without a Spark job: each version carries the
  snapshot's row count as ``rows``, kept up to date from the parquet
  footers of the files a commit adds or drops (read on the driver).
  ``SCHEMA`` holds the sink's schema as JSON, made nullable the way
  Spark reads parquet, written by the commit that gives the sink its
  first files rather than copied into every version; ``read_snapshot``
  hands it to the reader so the scan infers nothing. Sinks started
  before these fields existed still read as before: their ``rows`` is
  summed from the footers, and their schema is always inferred (no
  ``SCHEMA`` is written for them, since the files already there, not
  the next batch, define it).
* READS name the chosen manifest's files to Spark one path each, so
  Spark discovers nothing: it only stats those paths, and in a session
  from ``session.get_spark`` it does so on the driver, never in a
  parallel listing job however many files the snapshot has (see the
  ``session`` docstring). This holds for ``read_snapshot``, its time
  travel, and both scans of ``commit_upsert``.

On a real deployment ``root`` is an object-store prefix; rename-commit
then rides the store's atomic-put-if-absent (as Delta does). The
protocol shape is unchanged.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_manifest"
_LATEST = "LATEST"
_SCHEMA = "SCHEMA"
# A claim on the next version whose holder has not flipped LATEST for
# this long is taken to be a crashed writer's and may be taken over.
# An append polls every 50 ms for that long before taking over.
_CLAIM_TIMEOUT_S = 10.0
_PENDING_POLLS = 200


class CommitConflict(RuntimeError):
    """Another writer holds the manifest version this commit needed."""


def _manifest_path(root: str) -> str:
    return os.path.join(root, _MANIFEST_DIR)


def _version_path(root: str, version: int) -> str:
    return os.path.join(_manifest_path(root), f"v{version:06d}.json")


def _footer_rows(root: str, files: list[str]) -> int:
    """Rows in ``files``, summed from their parquet footers on the driver."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(root, f)).num_rows for f in files)


def _version_of(name: str) -> int:
    """The version number in a ``v<NNNNNN>.json[...]`` manifest file name."""
    return int(name[1:].split(".")[0])


def _latest_name(root: str) -> str | None:
    """File name of the committed version LATEST points at; None if none."""
    latest = os.path.join(_manifest_path(root), _LATEST)
    if not os.path.exists(latest):
        return None
    with open(latest) as fh:
        return fh.read().strip()


def _latest_version(root: str) -> int:
    name = _latest_name(root)
    return 0 if name is None else _version_of(name)


def _read_latest(root: str) -> dict:
    """Current committed snapshot ({version, files, txns, rows}); empty if none."""
    version_file = _latest_name(root)
    if version_file is None:
        return {"version": 0, "files": [], "txns": [], "rows": 0}
    with open(os.path.join(_manifest_path(root), version_file)) as fh:
        snap = json.load(fh)
    if "rows" not in snap:  # written before manifests kept the count
        snap["rows"] = _footer_rows(root, snap["files"])
    return snap


def committed_txns(root: str) -> set[str]:
    return set(_read_latest(root)["txns"])


def _tmp_file(directory: str, text: str) -> str:
    """Write ``text`` to a fresh temp file in ``directory``; returns its path."""
    tmp = os.path.join(directory, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(text)
    return tmp


def _put_if_absent(path: str, text: str) -> bool:
    """Create ``path`` holding ``text`` unless it exists; True if created.

    The text is hard-linked into place from a temp file, so nobody ever
    reads a half-written file at ``path``."""
    tmp = _tmp_file(os.path.dirname(path), text)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def _take_over(root: str, vpath: str, txn_id: str) -> None:
    """Win the right to replace the claim at ``vpath``, or raise
    CommitConflict. Only an uncommitted claim that is this txn's own
    crashed attempt, or older than ``_CLAIM_TIMEOUT_S``, can be taken
    over, and only by the one writer whose marker for it lands."""
    st = os.stat(vpath)
    with open(vpath) as fh:
        holder = json.load(fh)["txns"][-1]
    crashed = holder == txn_id or time.time() - st.st_mtime >= _CLAIM_TIMEOUT_S
    if (
        not crashed
        or _latest_version(root) >= _version_of(os.path.basename(vpath))
        or not _put_if_absent(f"{vpath}.taken-{st.st_ino}-{st.st_mtime_ns}", txn_id)
    ):
        raise CommitConflict(f"{vpath} is held by txn {holder!r}")


def _commit(root: str, new: dict, schema: StructType | None = None) -> None:
    """Claim ``v<new.version>`` put-if-absent (or take over a crashed
    claim), record ``schema`` as the sink's if given, then flip LATEST.

    Raises CommitConflict when another writer holds that version."""
    mdir = _manifest_path(root)
    vpath = _version_path(root, new["version"])
    body = json.dumps(new, separators=(",", ":"))
    if not _put_if_absent(vpath, body):
        _take_over(root, vpath, new["txns"][-1])
        os.replace(_tmp_file(mdir, body), vpath)
    if schema is not None:
        schema_path = os.path.join(mdir, _SCHEMA)
        os.replace(_tmp_file(mdir, schema.toNullable().json()), schema_path)
    latest = os.path.join(mdir, _LATEST)
    os.replace(_tmp_file(mdir, os.path.basename(vpath)), latest)  # THE commit


def _write_txn(df: DataFrame, root: str, txn_id: str) -> list[str]:
    """Distributed write of ``df`` into the txn-private directory.
    Returns the written files, relative to ``root``."""
    data_dir = os.path.join(root, "data", f"txn-{txn_id}")
    df.write.mode("overwrite").parquet(data_dir)
    os.makedirs(_manifest_path(root), exist_ok=True)
    return sorted(
        os.path.join("data", f"txn-{txn_id}", f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )


def _scan(spark: SparkSession, root: str, files: list[str]) -> DataFrame:
    """Read ``files`` of the sink, with its recorded schema when there is one."""
    reader = spark.read
    schema_path = os.path.join(_manifest_path(root), _SCHEMA)
    if os.path.exists(schema_path):
        with open(schema_path) as fh:
            reader = reader.schema(StructType.fromJson(json.load(fh)))
    return reader.parquet(*[os.path.join(root, f) for f in files])


def commit_append(df: DataFrame, root: str, txn_id: str) -> dict:
    """Atomically append ``df`` to the sink under transaction ``txn_id``.

    Returns the committed snapshot dict. Re-committing an already
    committed txn_id is a no-op (exactly-once under retries). When an
    overlapping writer commits first, the append lands on top of its
    snapshot.
    """
    snap = _read_latest(root)
    if txn_id in snap["txns"]:
        return snap  # retried batch: already durable, do nothing

    files = _write_txn(df, root, txn_id)
    rows = _footer_rows(root, files)
    polls = 0
    while True:
        new = {
            "version": snap["version"] + 1,
            "files": snap["files"] + files,
            "txns": snap["txns"] + [txn_id],
            "rows": snap["rows"] + rows,
        }
        try:
            _commit(root, new, None if snap["files"] else df.schema)
            return new
        except CommitConflict:
            if polls >= _PENDING_POLLS:
                raise
            snap = _read_latest(root)
            # the holder of the version has not flipped LATEST to it yet;
            # once the wait runs out, the next attempt takes its claim over
            while snap["version"] < new["version"] and polls < _PENDING_POLLS:
                polls += 1
                time.sleep(_CLAIM_TIMEOUT_S / _PENDING_POLLS)
                snap = _read_latest(root)
            if txn_id in snap["txns"]:
                return snap


def commit_upsert(
    spark: SparkSession, df: DataFrame, root: str, keys: list[str], txn_id: str
) -> dict:
    """Atomically MERGE ``df`` into the sink on ``keys`` (matched rows
    replaced, new rows inserted) under transaction ``txn_id`` —
    copy-on-write at FILE granularity, the Delta/Iceberg MERGE shape:

      1. one distributed job finds the files that contain any incoming
         key (``input_file_name`` + broadcast semi-join) — everything
         else carries over into the new manifest untouched, so the
         rewrite cost scales with the keys' file-locality, not the
         table (on a 100 TB sink with date-clustered keys a daily
         upsert rewrites a handful of files);
      2. survivors of the touched files (anti-join on keys) union the
         incoming rows are written to the txn-private directory;
      3. the manifest commit (atomic LATEST flip) swaps touched files
         for new ones in one step — readers see old or new, never a
         mix, and a replayed txn_id is a no-op (exactly-once).

    Raises CommitConflict if another writer commits between step 1 and
    step 3: the touched-file set no longer describes the sink.
    """
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    snap = _read_latest(root)
    if txn_id in snap["txns"]:
        return snap

    untouched = list(snap["files"])
    touched = set()
    survivors = None
    if snap["files"]:
        # input_file_name() reports file:// URIs (possibly percent-
        # encoded, possibly through symlinks) — normalize BOTH sides to
        # realpath before mapping back to manifest-relative paths, and
        # fail loudly on an unmappable URI rather than leave the old
        # file referenced alongside its rewrite (duplicate keys).
        abs_of = {
            os.path.realpath(os.path.join(root, f)): f for f in snap["files"]
        }
        old = _scan(spark, root, snap["files"]).withColumn("_f", F.input_file_name())
        keys_df = df.select(*keys).distinct()
        touched_uris = [
            r["_f"]
            for r in old.join(F.broadcast(keys_df), keys, "left_semi")
            .select("_f")
            .distinct()
            .collect()
        ]
        for u in touched_uris:
            p = os.path.realpath(unquote(urlparse(u).path))
            if p not in abs_of:
                raise ValueError(f"unmappable data file URI in upsert: {u}")
            touched.add(abs_of[p])
        if touched:
            untouched = [f for f in snap["files"] if f not in touched]
            survivors = _scan(spark, root, sorted(touched)).join(
                F.broadcast(keys_df), keys, "left_anti"
            )

    new_data = df if survivors is None else survivors.unionByName(df)
    files = _write_txn(new_data, root, txn_id)
    new = {
        "version": snap["version"] + 1,
        "files": untouched + files,
        "txns": snap["txns"] + [txn_id],
        "rows": snap["rows"]
        - _footer_rows(root, sorted(touched))
        + _footer_rows(root, files),
    }
    _commit(root, new, None if snap["files"] else df.schema)
    return new


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame | None:
    """Read a committed snapshot (None if the sink has never committed).

    ``version=None`` reads the latest; an explicit version TIME-TRAVELS
    to that manifest (the ordered v<NNNNNN>.json log is retained, so any
    committed state stays readable — until ``vacuum``, which keeps only
    the files of the LATEST snapshot, exactly like Delta's VACUUM
    retention tradeoff). Only files named by the chosen manifest are
    read — uncommitted or half-written txn directories are invisible
    by construction, and so is a version claimed but never flipped to.
    """
    if version is None:
        snap = _read_latest(root)
    else:
        vpath = _version_path(root, version)
        if not os.path.exists(vpath) or version > _latest_version(root):
            raise ValueError(f"snapshot version {version} was never committed")
        with open(vpath) as fh:
            snap = json.load(fh)
    if not snap["files"]:
        return None
    return _scan(spark, root, snap["files"])


def vacuum(root: str) -> list[str]:
    """Delete what no committed snapshot can reach, all of it left by
    crashed transactions: data files not referenced by LATEST's
    snapshot, version claims above LATEST's, claim take-over markers
    and temp files. Returns the deleted data files. Run it while no
    writer is active: an in-flight transaction looks exactly like a
    crashed one."""
    snap = _read_latest(root)
    live = {os.path.join(root, f) for f in snap["files"]}
    deleted = []
    mdir = _manifest_path(root)
    if os.path.isdir(mdir):
        for f in os.listdir(mdir):
            if f.startswith(".tmp-") or f.startswith("v") and (
                ".taken-" in f or _version_of(f) > snap["version"]
            ):
                os.remove(os.path.join(mdir, f))
    data_root = os.path.join(root, "data")
    if not os.path.isdir(data_root):
        return deleted
    for txn in os.listdir(data_root):
        tdir = os.path.join(data_root, txn)
        for f in os.listdir(tdir):
            p = os.path.join(tdir, f)
            if f.endswith(".parquet") and p not in live:
                os.remove(p)
                deleted.append(p)
        if not os.listdir(tdir):
            os.rmdir(tdir)
    return deleted
