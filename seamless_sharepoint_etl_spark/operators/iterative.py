"""The engine's iterative machinery: ``iterate``, the one fixpoint
loop (min-label CC, the k-core peel, BFS pointer doubling), and
``pagerank_ppm``, the one PageRank kernel (``graph_pagerank_exact``
and ``dedup_neardup_pagerank``) with its DuckDB replay. Both sit here,
below the graph and dedup modules that call them.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# Raising backstop of every fixpoint. Pointer doubling converges in
# O(log diameter) rounds and the k-core peel in O(peel depth); no
# fixture or test graph comes near this.
MAX_ROUNDS = 64


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    measure: Column,
    what: str,
    stop: Callable[[Any, Any], bool] = operator.eq,
) -> tuple[DataFrame, int]:
    """Apply ``step`` to ``state`` until ``stop(prev, cur)`` holds for
    two successive values of the aggregate ``measure``; return the
    final state and the number of steps.

    Each state, the initial one included, is lazily
    ``localCheckpoint``ed: persist does not truncate lineage, and a
    ~40-round loop OOMed the Spark driver on plan bookkeeping (NOTES
    trap 16). One full-scan job per round fills that checkpoint and yields
    ``measure``. A partial action (``limit``, ``first``, ``isEmpty``)
    must never fill a lazy checkpoint: its missing blocks fail the
    next round. Raises ``RuntimeError`` naming ``what`` after
    ``MAX_ROUNDS`` steps rather than return an unconverged state.
    """

    def scalar(df: DataFrame) -> Any:
        # one job: the noop write reads every partition once and the
        # observation aggregates them as they pass (a global agg would
        # add a shuffle stage, i.e. a second job, per round)
        obs = Observation()
        df.observe(obs, measure.alias("m")).write.format("noop").mode(
            "overwrite"
        ).save()
        return obs.get["m"]

    state = state.localCheckpoint(eager=False)
    prev = scalar(state)
    for rounds in range(1, MAX_ROUNDS + 1):
        state = step(state).localCheckpoint(eager=False)
        cur = scalar(state)
        if stop(prev, cur):
            return state, rounds
        prev = cur
    raise RuntimeError(f"{what} did not converge in {MAX_ROUNDS} rounds")


PR_ITERS = 4
_PR_BASE = 150_000  # (1 − d) · 10⁶ with d = 0.85
_PR_DAMP = 85  # d numerator (denominator 100 folded into the div)


def pagerank_ppm(edges: DataFrame) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge relation (first
    column, second column) in EXACT integer parts-per-million: ``(v,
    pagerank_ppm)`` for every vertex in ``edges``. ``PR_ITERS`` rounds
    of rᵗ⁺¹(v) = 150000 + Σ_neighbors (rᵗ(u)·85) div (100·deg(u)) from
    rank 10⁶, all BIGINT, so ``pagerank_sql`` replays it bit for bit;
    the mass stays within N·PR_ITERS ppm of N·10⁶.

    Each round is one vertex-keyed join plus one vertex-keyed
    aggregate; four unrolled rounds need no per-round checkpoint. The
    bidirectional edges (else every round recomputes the edge source)
    and the degrees (Catalyst inlines them per reference, and AQE stage
    reuse misses the copies) are lazily checkpointed; the kernel's own
    degree aggregate and round-one join read each whole, before any
    action on the result can.
    """
    lo, hi = edges.columns
    bidir = (
        edges.select(F.col(lo).alias("src"), F.col(hi).alias("dst"))
        .unionAll(edges.select(F.col(hi).alias("src"), F.col(lo).alias("dst")))
        .localCheckpoint(eager=False)
    )
    # deg anchors every round's left join, which keeps the unrolled
    # lineage LINEAR: anchoring on rel would reference it twice per
    # round and double the subtree per unroll.
    deg = (
        bidir.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("src").alias("v"), "deg")
        .localCheckpoint(eager=False)
    )
    rel = deg.select("v", "deg", F.lit(1_000_000).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        contrib = bidir.join(rel, bidir.src == rel.v).select(
            F.col("dst").alias("v"),
            F.expr(f"(r * {_PR_DAMP}) div (100 * deg)").alias("c"),
        )
        inflow = contrib.groupBy("v").agg(F.sum("c").alias("cin"))
        rel = deg.join(inflow, "v", "left").select(
            "v",
            "deg",
            (F.lit(_PR_BASE) + F.coalesce("cin", F.lit(0))).cast("long").alias("r"),
        )
    return rel.select("v", F.col("r").alias("pagerank_ppm"))


def pagerank_sql(edges_sql: str, top: int | None = None) -> str:
    """DuckDB replay of ``pagerank_ppm`` over the two-column edge query
    ``edges_sql``, ordered by rank; ``top`` keeps the first ``top``
    rows."""
    rounds = []
    for i in range(PR_ITERS):
        rounds.append(
            f"""r{i + 1} AS (
  SELECT d.v, d.deg,
         CAST({_PR_BASE} + coalesce(sum((p.r * {_PR_DAMP}) // (100 * p.deg)), 0)
              AS BIGINT) AS r
  FROM deg d
  LEFT JOIN bidir b ON b.dst = d.v
  LEFT JOIN r{i} p ON p.v = b.src
  GROUP BY d.v, d.deg
)"""
        )
    limit = "" if top is None else f"\nLIMIT {top}"
    return f"""
WITH edges(lo, hi) AS ({edges_sql}),
bidir AS (SELECT lo AS src, hi AS dst FROM edges
          UNION ALL SELECT hi, lo FROM edges),
deg AS (SELECT src AS v, count(*) AS deg FROM bidir GROUP BY src),
r0 AS (SELECT v, deg, CAST(1000000 AS BIGINT) AS r FROM deg),
{", ".join(rounds)}
SELECT v, r AS pagerank_ppm
FROM r{PR_ITERS}
ORDER BY pagerank_ppm DESC, v{limit}
"""
