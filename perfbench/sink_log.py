"""The sink log: many small appends on one sink root that grows all run.

The input is ``io.seamless_items`` cut into contiguous ``po_number``
slices whose sizes come from the seed. Each step commits the next slice
with ``sinks.commit_append`` and then makes the watermark read a cron
run makes: ``sinks.read_snapshot`` plus a count and ``max(po_number)``.
The caller also upserts a seeded sample of committed keys
(``sinks.commit_upsert``) and time-travels to a seeded earlier version.

The sink only grows: every manifest version copies the whole file
list, and ``read_snapshot`` passes one path per file, so this is the
layer whose cost rises with history. Each slice commits up to four
files (one per source part file); ``commit`` alone builds history, so a
caller can start its reads near Spark's 32-path parallel-listing
threshold.
"""

from __future__ import annotations

import os
import time

from . import harness
from .common import Ctx, manifest

SLICE_ROWS = (100, 400)


class Log:
    """One sink root and the state expected of it."""

    def __init__(self, ctx: Ctx, spark, data: str, root: str, tag: str):
        from pyspark.sql import functions as F
        from seamless_sharepoint_etl_spark import io

        self.ctx, self.spark, self.root, self.tag = ctx, spark, root, tag
        self.F, self.io = F, io
        self.items = io.seamless_items(spark, data)
        self.next_key = 0
        self.live: set[int] = set()
        self.upserted: set[int] = set()
        self.rows_at: dict[int, int] = {}
        self.version = 0
        self.steps = 0

    def _po(self, k: int) -> str:
        return self.io.PO_FORMAT % k

    def commit(self) -> None:
        """Commit the next slice with ``sinks.commit_append``."""
        from seamless_sharepoint_etl_spark import sinks

        F, ctx = self.F, self.ctx
        n = ctx.rng.randint(*SLICE_ROWS)
        lo, hi = self.next_key, self.next_key + n
        self.next_key = hi
        sl = self.items.filter(
            F.col("po_number").between(self._po(lo), self._po(hi - 1))
        )
        self.steps += 1
        with ctx.tracer.span("sinks.commit_append"):
            snap = sinks.commit_append(sl, self.root, f"{self.tag}-{self.steps}")
        self.live.update(range(lo, hi))
        self.version = snap["version"]
        self.rows_at[self.version] = len(self.live)

    def step(self) -> float:
        """One commit plus the watermark read; returns their seconds."""
        from seamless_sharepoint_etl_spark import sinks

        F, ctx, span = self.F, self.ctx, self.ctx.tracer.span
        t0 = time.perf_counter()
        self.commit()
        with span("sinks.read_snapshot"):
            rows, wm = (
                sinks.read_snapshot(self.spark, self.root)
                .agg(F.count(F.lit(1)), F.max("po_number"))
                .first()
            )
        step_s = time.perf_counter() - t0
        ctx.record(
            rows == len(self.live) and wm == self._po(max(self.live)),
            f"watermark read at step {self.steps}: {rows} rows, max {wm}",
        )
        return step_s

    def upsert(self) -> None:
        """Upsert a seeded sample of live keys, each with a marked vendor."""
        from seamless_sharepoint_etl_spark import sinks

        F, ctx = self.F, self.ctx
        keys = ctx.rng.sample(sorted(self.live), min(40, len(self.live)))
        df = self.items.filter(
            F.col("po_number").isin([self._po(k) for k in keys])
        ).withColumn("vendor", F.concat("vendor", F.lit(f"~u{self.steps}")))
        before = set(self.files())
        with ctx.tracer.span("sinks.commit_upsert") as s:
            snap = sinks.commit_upsert(
                self.spark, df, self.root, ["po_number"], f"{self.tag}-u{self.steps}"
            )
        s.attrs["files_rewritten_frac"] = len(before - set(snap["files"])) / len(
            before
        )
        self.upserted.update(keys)
        self.version = snap["version"]
        self.rows_at[self.version] = len(self.live)

    def time_travel(self) -> None:
        """Read a seeded earlier version and check its row count."""
        from seamless_sharepoint_etl_spark import sinks

        v = self.ctx.rng.randint(1, self.version - 1)
        with self.ctx.tracer.span("sinks.time_travel"):
            n = sinks.read_snapshot(self.spark, self.root, version=v).count()
        self.ctx.record(
            n == self.rows_at[v], f"time travel to v{v}: {n} rows, want {self.rows_at[v]}"
        )

    def files(self) -> list[str]:
        return manifest(self.root)["files"]

    def check_final(self) -> None:
        """Live rows, key uniqueness and upsert replacement, outside timing."""
        from seamless_sharepoint_etl_spark import sinks

        F = self.F
        rows, keys, marked = (
            sinks.read_snapshot(self.spark, self.root)
            .agg(
                F.count(F.lit(1)),
                F.countDistinct("po_number"),
                F.collect_set(
                    F.when(F.col("vendor").contains("~u"), F.col("po_number"))
                ),
            )
            .first()
        )
        want_marked = {self._po(k) for k in self.upserted}
        self.ctx.record(
            rows == len(self.live) and keys == rows and set(marked) == want_marked,
            f"final snapshot: {rows} rows, {keys} keys, {len(marked)} upserted;"
            f" want {len(self.live)} rows, {len(want_marked)} upserted",
        )


def sink_bytes(root: str) -> tuple[int, int, int]:
    """(bytes under the root, manifest bytes, manifest versions)."""
    mdir = os.path.join(root, "_manifest")
    versions = [f for f in os.listdir(mdir) if f.endswith(".json")]
    return harness.dir_bytes(root), harness.dir_bytes(mdir), len(versions)
