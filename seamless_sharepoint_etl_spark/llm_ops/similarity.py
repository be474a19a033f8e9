"""Similarity search over `embeddings` (north-star tier).

Provenance: SURVEY.md §2 Tier B, Similarity-search row — north-star
requirement (BASELINE.json), no reference counterpart.

Three operators:
  brute-force top-k — exact cosine for a query subset. The O(Q×N)
      baseline and the correctness oracle for everything else.
      Two-phase: a BLAS shortlist (cogrouped applyInPandas matmul per
      block) + a JVM exact re-rank whose dot/norms use F.aggregate in
      DOUBLE with sequential fold order, so the reported values match
      the SQL oracle bit-for-bit while the O(Q×N) inner loop runs at
      memory-bandwidth speed.
  embedding near-dup — ALL pairs with cosine ≥ NEARDUP_COS, computed
      as a blocked all-pairs grid (xxhash block-matrix decomposition —
      see its docstring for why LSH cannot prune at this threshold);
      exact and fully oracle-checked.
  IVF top-k — the scale path: seed-free Lloyd k-means coarse
      centroids (NLIST buckets), nprobe=3 probed buckets, exact search
      inside probed buckets only. At 100 TB the bucket assignment is a
      broadcast join against a tiny centroid table and each query
      touches nprobe/nlist of the data. Deterministic but not
      SQL-oracled (rows-only); pytest enforces recall ≥ 0.8 vs brute
      force.

ZERO-NORM POLICY (module-wide): degenerate all-zero vectors — and
all-zero matryoshka PREFIXES — are excluded from cosine similarity,
identically in the numpy kernels, the JVM folds, and the SQL oracles
(see ``_nonzero_norm_rows`` for why no implicit behavior can agree
across the three engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..artifacts import artifact

TOP_K = 10
QUERY_STRIDE = 50  # vec_id % 50 == 0 → the query subset
NEARDUP_COS = 0.42  # fixture embeddings are near-uniform directions; max pair cos ≈ 0.5
NPROBE = 3


def _dbl(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


# Candidate-phase slack between a BLAS-computed cosine and the exact
# sequential-fold value the driver hashes: IEEE dot-product error is
# bounded by ~d·eps ≈ 64·2.2e-16 ≈ 1.4e-14 relative; 1e-7 pads that by
# seven orders of magnitude, so the numpy shortlist provably contains
# every pair the exact filter/top-k can accept while still pruning
# essentially everything else.
_PAIR_MARGIN = 1e-7


def _nonzero_norm_rows(mat):
    """Row norms + the keep-mask implementing the ZERO-NORM POLICY:
    degenerate (all-zero) vectors are EXCLUDED from cosine similarity,
    identically in the numpy kernels and in the SQL oracles.

    Why a policy is required at all — the three engines in play
    disagree three ways on 0/0: the numpy shortlist's NaN fails every
    comparison and silently drops the row, Spark's exact fold THROWS
    under ANSI mode (SparkArithmeticException DIVIDE_BY_ZERO — the
    session default), and DuckDB's double division yields NULL. Any
    implicit behavior is therefore a latent crash or cross-engine
    divergence the moment a zero vector (or an all-zero matryoshka
    PREFIX) enters a fixture. Exclusion is the only semantics all
    engines can express identically: kernels drop zero-norm rows
    before the matmul (so the exact-fold divisions provably never see
    a zero denominator), and every oracle carries the matching
    ``norm > 0`` predicate.
    """
    import numpy as np

    norms = np.linalg.norm(mat, axis=1)
    return norms, norms > 0.0


def _topk_shortlist(e: DataFrame, k: int, lens: tuple = (None,)) -> DataFrame:
    """BLAS shortlist phase shared by ``brute_force_topk``,
    ``mmr_diversify`` and ``matryoshka_prefix_recall``: for every
    query vector (vec_id % QUERY_STRIDE == 0) and every prefix length
    in ``lens`` (``None`` = the full vector, emitted as plen 0),
    candidate rows provably containing that prefix's exact global
    cosine top-``k`` — as ``(plen, query_id, cand_id, qv, cv)`` with
    the (sliced) float64 vectors carried through so the exact re-rank
    needs no second scan.

    Candidates hash into N_BLOCKS groups, the query batch replicates
    to every block, and a cogrouped applyInPandas computes the
    per-block Q×|block| cosine matrix as one BLAS matmul PER PREFIX
    from one Arrow transfer of the full vectors, keeping each query's
    block-local top-``k`` with a _PAIR_MARGIN safety band. The global
    exact top-``k`` is a subset of the per-block top-``k``s by
    definition, and the margin absorbs the ≤1.4e-14 numpy-vs-fold
    float discrepancy. The zero-norm policy applies per prefix (see
    ``_nonzero_norm_rows``). Arrow moves only vectors (N + Q·N_BLOCKS
    rows), never the Q×N pair stream; at 100 TB the per-task unit is a
    dense matmul over one block (N_BLOCKS scales with the cluster) and
    the shuffle is O(N)."""
    import pandas as pd

    q = e.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), _dbl("embedding").alias("qv")
    )
    qrep = q.withColumn("g", F.explode(F.sequence(F.lit(0), F.lit(N_BLOCKS - 1))))
    c = e.select(
        F.col("vec_id").alias("cand_id"),
        _dbl("embedding").alias("cv"),
        F.pmod(F.xxhash64("vec_id"), F.lit(N_BLOCKS)).cast("int").alias("g"),
    )

    def _empty():
        # dtype=object even when 0 rows survive: an empty plain-list
        # column infers float64, which Arrow can't cast to list<double>
        return pd.DataFrame(
            {
                "plen": pd.Series(dtype="int32"),
                "query_id": pd.Series(dtype="int64"),
                "cand_id": pd.Series(dtype="int64"),
                "qv": pd.Series(dtype="object"),
                "cv": pd.Series(dtype="object"),
            }
        )

    def _shortlist(key, qdf, cdf):
        import numpy as np

        if qdf.empty or cdf.empty:
            return _empty()
        qm = np.vstack(qdf["qv"].to_numpy())
        cm = np.vstack(cdf["cv"].to_numpy())
        qid0 = qdf["query_id"].to_numpy().astype("int64")
        cid0 = cdf["cand_id"].to_numpy().astype("int64")
        frames = []
        for plen in lens:
            qp = qm[:, :plen] if plen else qm
            cp = cm[:, :plen] if plen else cm
            # zero-norm policy (see _nonzero_norm_rows): degenerate
            # rows are excluded BEFORE the matmul, per prefix length,
            # mirroring the oracles' norm > 0 predicates — the exact
            # fold never divides by zero
            qn, qkeep = _nonzero_norm_rows(qp)
            cn, ckeep = _nonzero_norm_rows(cp)
            qp, qid, qn = qp[qkeep], qid0[qkeep], qn[qkeep]
            cp, cid, cn = cp[ckeep], cid0[ckeep], cn[ckeep]
            if not len(qid) or not len(cid):
                continue
            cos = (qp @ cp.T) / np.outer(qn, cn)
            cos[qid[:, None] == cid[None, :]] = -np.inf  # self-pairs out
            kk = min(k, cos.shape[1])
            kth = np.sort(cos, axis=1)[:, -kk]
            ii, jj = np.nonzero(cos >= (kth[:, None] - _PAIR_MARGIN))
            # the >= test re-admits the -inf self-pair whenever the
            # block holds <= k candidates (kth is then itself -inf, and
            # -inf >= -inf) — caught by the MOD=8 perturbation fixture;
            # drop self-pairs from the emitted set explicitly
            keep = qid[ii] != cid[jj]
            ii, jj = ii[keep], jj[keep]
            # carry the (sliced) vectors through — Arrow moves float64
            # bit-exactly, so the exact re-rank needs NO second scan
            frames.append(
                pd.DataFrame(
                    {
                        "plen": np.full(len(ii), plen or 0, dtype="int32"),
                        "query_id": qid[ii],
                        "cand_id": cid[jj],
                        "qv": pd.Series(list(qp[ii]), dtype="object"),
                        "cv": pd.Series(list(cp[jj]), dtype="object"),
                    }
                )
            )
        if not frames:
            return _empty()
        return pd.concat(frames, ignore_index=True)

    return (
        qrep.groupBy("g")
        .cogroup(c.groupBy("g"))
        .applyInPandas(
            _shortlist,
            "plen int, query_id long, cand_id long,"
            " qv array<double>, cv array<double>",
        )
    )


def brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for every query vector (vec_id %
    50 == 0) — the O(Q×N) truth baseline, BLAS-backed.

    Two phases keep it exact AND memory-bandwidth fast:

    1. *Shortlist* (numpy): the shared ``_topk_shortlist`` kernel —
       per-block BLAS matmuls with a _PAIR_MARGIN safety band that
       provably contain the true top-K (see its docstring).
    2. *Exact re-rank* (JVM): the ≤ ~K·N_BLOCKS-per-query shortlist
       (vectors carried through — Arrow moves float64 bit-exactly, so
       no second table scan) is ranked by the same sequential
       F.aggregate fold the DuckDB oracle computes — the reported
       cosine is bit-identical to the all-pairs form this replaced.

    At 100 TB the final window partition is provably ≤ ~K·N_BLOCKS
    rows per query.
    """
    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    short = _topk_shortlist(e, TOP_K)
    cos = _dot(F.col("qv"), F.col("cv")) / (
        _norm(F.col("qv")) * _norm(F.col("cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        short.select("query_id", "cand_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "cand_id", F.round("cos", 6).alias("cosine"))
    )


BRUTE_FORCE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
),
c AS (
  SELECT vec_id AS cand_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings
),
scored AS (
  SELECT query_id, cand_id,
         list_sum(list_transform(list_zip(qv, cv), p -> p[1] * p[2]))
           / (sqrt(list_sum(list_transform(qv, x -> x * x)))
              * sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cos
  FROM q CROSS JOIN c
  WHERE query_id <> cand_id
    -- zero-norm policy: degenerate vectors are excluded (kernel twin)
    AND list_sum(list_transform(qv, x -> x * x)) > 0
    AND list_sum(list_transform(cv, x -> x * x)) > 0
)
SELECT query_id, rank, cand_id, round(cos, 6) AS cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, cand_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


N_BLOCKS = 8  # blocked all-pairs grid; ~sqrt(2 × target task count) at scale


def embedding_neardup(
    spark: SparkSession, sf_dir: str, threshold: float = NEARDUP_COS
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (all pairs ≥ ``threshold``,
    default NEARDUP_COS — the graded query's contract), computed as a
    *blocked* all-pairs join (block-matrix decomposition). The
    ``threshold`` parameter exists for graph.kcore, which needs a
    denser edge relation than the 0.42 graph (whose 2-core is empty at
    every fixture SF — the round-6 verification vacuum); the graded
    sim_embedding_neardup entry always uses the default.

    Why not LSH candidates here: NEARDUP_COS = 0.42 ⇒ pair angle ≈ 65°,
    which is *below* the regime where sign-random-projection banding
    prunes — at p = 1−θ/π ≈ 0.64 per hyperplane, any band scheme with
    recall ≈ 1 (required: this query is oracle-checked exactly) also
    admits nearly every random pair (p₀ = 0.5), i.e. zero pruning. The
    banded-candidate path is the right tool for genuinely-near
    thresholds (≥0.9 — see dedup.minhash_lsh_pairs); an exact low-
    threshold all-pairs is irreducibly O(N²) *compute*, so the scale
    problem to solve is the *execution shape*, not the pair count.

    Execution shape (two-phase, exact): vectors hash into N_BLOCKS
    groups; side A carries each vector to every block-pair (g, g′≥g)
    it belongs to, side B symmetrically, and a *cogrouped
    applyInPandas* over the block-pair key computes each grid cell's
    |A|×|B| cosine matrix as one BLAS matmul, emitting only candidate
    pairs ≥ NEARDUP_COS − _PAIR_MARGIN with their vectors carried
    through (Arrow moves float64 bit-exactly). The tiny survivor set
    is then re-scored JVM-side with the same sequential F.aggregate
    fold the DuckDB oracle computes, so the reported cosine is
    bit-identical to the naive pair-stream form this replaced (the
    margin provably absorbs the ≤1.4e-14 numpy-vs-fold discrepancy —
    no true pair can be missed, and the exact filter makes the final
    decision).

    Arrow moves (N_BLOCKS+1)/2 × N vectors per side — never the N²
    pair stream — and each task's unit of work is a dense matmul over
    one grid cell: the standard distributed exact all-pairs layout, at
    memory-bandwidth speed instead of per-pair interpreted lambda
    eval. No BroadcastNestedLoop, no full-table broadcast (round-1
    plan pinned the BNLJ as a scale-killer).
    """
    import pandas as pd

    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        _dbl("embedding").alias("v"),
        F.pmod(F.xxhash64("vec_id"), F.lit(N_BLOCKS)).cast("int").alias("g"),
    )
    a = v.select(
        F.col("vec_id").alias("ida"),
        F.col("v").alias("va"),
        F.col("g").alias("ga"),
    ).withColumn("gb", F.explode(F.sequence(F.col("ga"), F.lit(N_BLOCKS - 1))))
    b = v.select(
        F.col("vec_id").alias("idb"),
        F.col("v").alias("vb"),
        F.col("g").alias("gb"),
    ).withColumn("ga", F.explode(F.sequence(F.lit(0), F.col("gb"))))

    def _blas_candidates(key, adf, bdf):
        import numpy as np

        if adf.empty or bdf.empty:
            return pd.DataFrame(
                {
                    "id_lo": pd.Series(dtype="int64"),
                    "id_hi": pd.Series(dtype="int64"),
                    "vl": pd.Series(dtype="object"),
                    "vh": pd.Series(dtype="object"),
                }
            )
        am = np.vstack(adf["va"].to_numpy())
        bm = np.vstack(bdf["vb"].to_numpy())
        aid = adf["ida"].to_numpy().astype("int64")
        bid = bdf["idb"].to_numpy().astype("int64")
        # zero-norm policy (see _nonzero_norm_rows): exclude degenerate
        # vectors before the matmul, mirroring the oracle's predicate
        an, akeep = _nonzero_norm_rows(am)
        bn, bkeep = _nonzero_norm_rows(bm)
        am, aid, an = am[akeep], aid[akeep], an[akeep]
        bm, bid, bn = bm[bkeep], bid[bkeep], bn[bkeep]
        if not len(aid) or not len(bid):
            return pd.DataFrame(
                {
                    "id_lo": pd.Series(dtype="int64"),
                    "id_hi": pd.Series(dtype="int64"),
                    "vl": pd.Series(dtype="object"),
                    "vh": pd.Series(dtype="object"),
                }
            )
        cos = (am @ bm.T) / np.outer(an, bn)
        ii, jj = np.nonzero(cos >= threshold - _PAIR_MARGIN)
        ida = aid[ii]
        idb = bid[jj]
        # cross-block cells hold each unordered pair exactly once (A =
        # lower block, B = higher); the diagonal cell holds both
        # orientations — keep one
        keep = (ida < idb) if int(key[0]) == int(key[1]) else (ida != idb)
        ii, jj, ida, idb = ii[keep], jj[keep], ida[keep], idb[keep]
        lo_is_a = ida < idb
        # carry the pair's vectors through (Arrow moves float64
        # bit-exactly): the exact verification needs NO second scan
        # dtype=object even when 0 rows survive: an empty plain-list
        # column infers float64, which Arrow can't cast to list<double>
        return pd.DataFrame(
            {
                "id_lo": np.minimum(ida, idb),
                "id_hi": np.maximum(ida, idb),
                "vl": pd.Series(
                    [am[i] if la else bm[j] for i, j, la in zip(ii, jj, lo_is_a)],
                    dtype="object",
                ),
                "vh": pd.Series(
                    [bm[j] if la else am[i] for i, j, la in zip(ii, jj, lo_is_a)],
                    dtype="object",
                ),
            }
        )

    cand = (
        a.groupBy("ga", "gb")
        .cogroup(b.groupBy("ga", "gb"))
        .applyInPandas(
            _blas_candidates,
            "id_lo long, id_hi long, vl array<double>, vh array<double>",
        )
    )
    # exact verification with the oracle's fold order — the candidate
    # set is tiny, so the O(d) interpreted expressions run on
    # survivors only, and the exact filter makes the final decision
    cos = _dot(F.col("vl"), F.col("vh")) / (
        _norm(F.col("vl")) * _norm(F.col("vh"))
    )
    return (
        cand.select("id_lo", "id_hi", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("id_lo", "id_hi", F.round("cos", 6).alias("cosine"))
    )


def embedding_neardup_sql(threshold: float = NEARDUP_COS) -> str:
    """Oracle twin of embedding_neardup at an arbitrary admission
    threshold (graph_kcore peels a denser graph at KCORE_EDGE_COS)."""
    return f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)
SELECT a.vec_id AS id_lo, b.vec_id AS id_hi,
       round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
      / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
         * sqrt(list_sum(list_transform(b.v, x -> x * x)))) >= {threshold}
  -- zero-norm policy: degenerate vectors are excluded (kernel twin)
  AND list_sum(list_transform(a.v, x -> x * x)) > 0
  AND list_sum(list_transform(b.v, x -> x * x)) > 0
"""


EMBEDDING_NEARDUP_SQL = embedding_neardup_sql()


NLIST = 16  # IVF coarse clusters
KMEANS_ITERS = 3


def _mean_vectors(assigned: DataFrame, vec_col: str, key_col: str) -> DataFrame:
    """Element-wise mean vector per key via posexplode → (key, pos) agg —
    stays fully distributed (centroids never touch the driver)."""
    pos = assigned.select(key_col, F.posexplode(vec_col).alias("pos", "x"))
    return (
        pos.groupBy(key_col, "pos")
        .agg(F.avg("x").alias("cx"))
        .groupBy(key_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cx"))),
                lambda s: s.getField("cx"),
            ).alias("cv")
        )
    )


def _kmeans_buckets(v: DataFrame, k: int, iters: int) -> DataFrame:
    """Deterministic distributed Lloyd iterations (cosine metric).

    Init = the first k vectors by vec_id (fixed seed-free init); each
    iteration: broadcast the k-row centroid table, assign by max cosine
    (ties → lowest bucket), recompute means. Returns (vec_id, bucket).

    The k-row centroid table is persisted and materialized per
    iteration (NOTES trap 4: a lazily-chained iterative DataFrame plan
    nests one full assign+mean subtree per round and gets recomputed by
    every downstream consumer). Each Lloyd pass therefore runs exactly
    once, as its own tiny job, and the final assignment is one
    broadcast join against a 16-row in-memory table.
    """
    from pyspark import StorageLevel

    cent = (
        v.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("bucket"), F.col("v").alias("cv"))
    )
    assign = None
    older = None
    for _ in range(iters):
        cent_used = cent  # referenced by this round's (lazy) assign
        cos = _dot(F.col("v"), F.col("cv")) / (
            _norm(F.col("v")) * _norm(F.col("cv"))
        )
        w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("bucket"))
        assign = (
            v.crossJoin(F.broadcast(cent_used))
            .select("vec_id", "v", "bucket", cos.alias("ccos"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "v", "bucket")
        )
        cent = (
            _mean_vectors(assign, "v", "bucket")
            .select("bucket", F.col("cv"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cent.count()  # force this Lloyd pass now; truncates the lineage
        # centroid tables older than cent_used are dead — nothing can
        # reference them anymore (the _pq_index precedent). cent_used
        # itself must STAY cached: the returned assign is lazy and
        # still reads it.
        if older is not None and older is not cent_used:
            older.unpersist()
        older = cent_used
    return assign.select("vec_id", "bucket"), cent


# Session artifact: the trained IVF index — (bucket assignment,
# centroids). In production an IVF coarse quantizer is
# trained once and served to every query; retraining per query would
# re-run 3 Lloyd passes over the 100-TB embedding table each time. Both
# the float (ivf_topk) and int8 (quantized_topk) paths share it.
@artifact
def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    from pyspark import StorageLevel

    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    # zero-norm policy at the INDEX choke point: a degenerate vector
    # among the first NLIST ids would seed a zero centroid whose
    # cosine is 0/0 against EVERY vector — excluding it here covers
    # training, assignment, and every consumer that joins `buckets`
    v = e.select("vec_id", _dbl("embedding").alias("v")).filter(
        F.exists(F.col("v"), lambda x: x != 0.0)
    )
    buckets, cent = _kmeans_buckets(v, NLIST, KMEANS_ITERS)
    buckets = buckets.persist(StorageLevel.MEMORY_AND_DISK)
    # build eagerly: an index is constructed once, not on first query —
    # and consumer plans must not depend on whether some earlier query
    # happened to materialize the cache (AQE reads cached-relation
    # stats, so a lazy cache makes join strategies cache-state-dependent)
    buckets.count()
    return buckets, cent


# Session artifact: the router output — (probes, cand). Five consumers (float IVF, int8, PQ, two-stage rerank,
# SemDeDup) each reference probes/cand 2-3×; Catalyst inlines every
# reference as its own subtree (plans are trees, not DAGs), so without
# the cache the window-over-crossJoin probe assignment recomputes per
# reference. In production this IS the serving layout: route the query
# batch once, every scorer reads the routed relations.
@artifact
def _ivf_probes_and_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared IVF router: deterministic k-means coarse quantizer (NLIST
    buckets) + top-NPROBE probe assignment per query.

    Returns ``(probes, cand)``: probes = (query_id, qv, bucket) with one
    row per probed bucket; cand = (bucket, cand_id, cv) — the bucketed
    base table. Joining them on `bucket` restricts any downstream
    scoring (float or quantized) to ~NPROBE/NLIST of the data. The
    centroid table is NLIST rows → broadcast; the bucket assignment of
    the base table is one equi-join on vec_id. Both relations are
    session-cached eagerly (trap 17).
    """
    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    # zero-norm policy (matches _ivf_index): degenerate vectors are
    # excluded from both the query batch and the bucketed base table
    v = e.select("vec_id", _dbl("embedding").alias("v")).filter(
        F.exists(F.col("v"), lambda x: x != 0.0)
    )
    buckets, cent_named = _ivf_index(spark, sf_dir)
    cent = cent_named.select("bucket", "cv")
    q = v.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # probe assignment: top-NPROBE centroids per query (centroid table is
    # tiny → broadcast; this is the IVF routing step)
    qc = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "qv",
        "bucket",
        (
            _dot(F.col("qv"), F.col("cv"))
            / (_norm(F.col("qv")) * _norm(F.col("cv")))
        ).alias("ccos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("bucket"))
    # qn/cn: per-vector norms hoisted out of the downstream pair streams
    probes = qc.withColumn("pr", F.row_number().over(wq)).filter(
        F.col("pr") <= NPROBE
    ).select("query_id", "qv", F.col("bucket"), _norm(F.col("qv")).alias("qn"))
    cand = v.join(buckets, "vec_id").select(
        "bucket",
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        _norm(F.col("v")).alias("cn"),
    )
    from pyspark import StorageLevel

    probes = probes.persist(StorageLevel.MEMORY_AND_DISK)
    probes.count()
    cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    cand.count()
    return probes, cand


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: probe top-NPROBE buckets per query, exact cosine
    inside probed buckets only — each query scans ~NPROBE/NLIST of the
    data.

    rows-only check; pytest gates recall vs brute_force_topk on the
    high-cosine subset (the retrievable structure — the fixture
    embeddings are near-uniform directions, where no ANN can beat the
    scan fraction on *arbitrary* neighbors).
    """
    probes, cand = _ivf_probes_and_candidates(spark, sf_dir)
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        probes.join(cand, "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "cand_id", F.round("cos", 6).alias("cosine"))
    )


def _quantize(vec_col, scale_col):
    return F.transform(vec_col, lambda x: F.round(x / scale_col).cast("int"))


def quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over int8-quantized embeddings *inside IVF-probed buckets*
    — the full memory/bandwidth scale path: the coarse quantizer cuts
    candidate count to ~NPROBE/NLIST of the data, and int8 symmetric
    linear quantization (scale = max|x|/127, q_i = round(x_i/scale))
    cuts per-candidate bytes 4× vs float32 / 8× vs double. Round 1
    quantized over a full crossJoin — bandwidth saved but candidates
    not pruned; composing with the IVF router fixes that.

    Dot products run on the int arrays and are rescaled by the two
    scales — cosine error is O(1/127) per axis. Deterministic;
    rows-only for the driver, pytest gates agreement vs the float IVF
    path (same probes, quantization the only difference) and cosine
    error vs exact.
    """
    probes, cand = _ivf_probes_and_candidates(spark, sf_dir)
    qside = probes.select(
        "query_id",
        "bucket",
        (F.array_max(F.transform(F.col("qv"), F.abs)) / 127.0).alias("qs"),
        "qn",
        "qv",
    ).select(
        "query_id",
        "bucket",
        "qs",
        "qn",
        _quantize(F.col("qv"), F.col("qs")).alias("qq"),
    )
    cside = cand.select(
        "bucket",
        "cand_id",
        (F.array_max(F.transform(F.col("cv"), F.abs)) / 127.0).alias("cs"),
        "cn",
        "cv",
    ).select(
        "bucket",
        "cand_id",
        "cs",
        "cn",
        _quantize(F.col("cv"), F.col("cs")).alias("cq"),
    )
    int_dot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    approx_cos = (int_dot.cast("double") * F.col("qs") * F.col("cs")) / (
        F.col("qn") * F.col("cn")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("acos"), F.asc("cand_id"))
    return (
        qside.join(cside, "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", approx_cos.alias("acos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "cand_id", F.round("acos", 6).alias("approx_cosine"))
    )


# BRP-LSH geometry: unit vectors live on the sphere, so euclidean
# distance encodes cosine (d² = 2 − 2cos). The fixture's 10th-neighbor
# cosines sit in [0.24, 0.29] → d ≤ 1.24; threshold 1.25 admits every
# true top-10 edge while excluding most random pairs (cos < 0.22).
BRP_THRESHOLD = 1.25
BRP_BUCKET_LEN = 1.0
BRP_TABLES = 6


def brp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via MLlib BucketedRandomProjectionLSH —
    the `approxSimilarityJoin` API named in SURVEY.md §2's similarity
    row, as the API-parity twin of the engine-default IVF router.

    Vectors are L2-normalized first so the euclidean LSH family
    answers a cosine question (cos = 1 − d²/2). Candidate generation
    is a bucket-equi-join across `numHashTables` random projections
    (OR-amplified), distances are computed only inside matching
    buckets, then an exact per-query top-k ranks survivors. rows-only
    for the driver (random projections aren't SQL-reproducible);
    pytest gates recall ≥ 0.8 against the brute-force oracle.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", array_to_vector(_dbl("embedding")).alias("raw_vec")
    )
    unit = Normalizer(inputCol="raw_vec", outputCol="nv", p=2.0).transform(vecs)
    lsh = BucketedRandomProjectionLSH(
        inputCol="nv",
        outputCol="hashes",
        bucketLength=BRP_BUCKET_LEN,
        numHashTables=BRP_TABLES,
        seed=431,
    )
    model = lsh.fit(unit)
    q = unit.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    joined = model.approxSimilarityJoin(
        q, unit, threshold=BRP_THRESHOLD, distCol="dist"
    ).select(
        F.col("datasetA.vec_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("cand_id"),
        F.col("dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("cand_id"))
    return (
        joined.filter(F.col("query_id") != F.col("cand_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "rank",
            "cand_id",
            F.round(1.0 - F.col("dist") * F.col("dist") / 2.0, 6).alias("cosine"),
        )
    )


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: within each IVF cluster, drop
    every vector that has a lower-id clustermate above NEARDUP_COS.
    ``rep_id`` is the pruned vector's lowest-id near-dup WITNESS (proof
    of why it was dropped), not necessarily a surviving canonical — in
    a transitive chain A~B, B~C, A≁C the witness B is itself pruned
    while C still (correctly) drops. A vector is ``kept`` iff it has
    NO lower-id near-dup; chasing witnesses to kept canonicals is the
    CC labeler's job (``dedup.neardup_clusters``) when group structure
    is needed.

    This is the standard embedding-dedup recipe for pretraining
    corpora (cluster first, compare only within clusters): the coarse
    quantizer — shared, session-cached, trained once — cuts the pair
    stream from O(N²) to Σ|bucket|², and each bucket's pairs land in
    one shuffle partition, so the layout scales with the largest
    cluster, not the corpus. Deterministic (k-means init is seed-free);
    rows-only for the driver, pytest gates prune⊆exact-neardup and
    representative validity.
    """
    buckets, _cent = _ivf_index(spark, sf_dir)
    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    v = (
        e.select("vec_id", _dbl("embedding").alias("v"))
        .join(buckets, "vec_id")
        .withColumn("n", _norm(F.col("v")))
    )
    a = v.select(
        "bucket",
        F.col("vec_id").alias("ida"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    b = v.select(
        "bucket",
        F.col("vec_id").alias("idb"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    # for each vector: the smallest lower-id clustermate above threshold
    reps = (
        a.join(b, "bucket")
        .filter(F.col("idb") < F.col("ida"))
        .filter(cos >= NEARDUP_COS)
        .groupBy(F.col("ida").alias("vec_id"))
        .agg(F.min("idb").alias("rep_id"))
    )
    return (
        v.select("vec_id", "bucket")
        .join(reps, "vec_id", "left")
        .select(
            "vec_id",
            "bucket",
            F.col("rep_id").isNull().alias("kept"),
            F.coalesce("rep_id", "vec_id").alias("rep_id"),
        )
    )


def label_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-consistency probe: for every query vector, the
    fraction (basis points) of its exact cosine top-10 neighbors that
    share its label — the standard cheap eval of embedding quality
    (does the space cluster by label?) run before committing a 100-TB
    embedding table to curation decisions.

    Plan: the brute-force top-k relation (declared oracle baseline) +
    two broadcast joins against the tiny (vec_id, label) projection +
    one query_id agg. Fully oracle-checked.
    """
    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    labels = e.select("vec_id", "label")
    topk = brute_force_topk(spark, sf_dir)
    return (
        topk.join(
            F.broadcast(labels.withColumnRenamed("vec_id", "query_id")), "query_id"
        )
        .join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("cand_id"),
                    F.col("label").alias("cand_label"),
                )
            ),
            "cand_id",
        )
        .groupBy("query_id", "label")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(
                F.when(F.col("cand_label") == F.col("label"), 1).otherwise(0)
            ).alias("n_match"),
        )
        .select(
            "query_id",
            "label",
            F.expr("CAST((n_match * 10000) div k AS BIGINT)").alias("knn_match_bp"),
        )
    )


LABEL_KNN_SQL = f"""
WITH topk AS ({BRUTE_FORCE_SQL}),
l AS (SELECT vec_id, label FROM embeddings)
SELECT t.query_id, ql.label,
       CAST((sum(CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END) * 10000)
            // count(*) AS BIGINT) AS knn_match_bp
FROM topk t
JOIN l ql ON ql.vec_id = t.query_id
JOIN l cl ON cl.vec_id = t.cand_id
GROUP BY t.query_id, ql.label
"""


def centroid_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-IVF-cluster label purity: cluster size, majority label, and
    the majority fraction in basis points — the quick clustering-quality
    diagnostic run before trusting cluster-level curation decisions
    (SemDeDup pruning, stratified sampling) on a new embedding space.

    Reuses the session-cached coarse quantizer; one narrow join to the
    (vec_id, label) projection and two tiny aggs (cardinality ≤ NLIST ×
    labels). Deterministic (ties → lowest label); rows-only for the
    driver — k-means is not SQL-expressible — pytest gates partition
    totals and purity bounds.
    """
    buckets, _cent = _ivf_index(spark, sf_dir)
    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    bl = (
        e.select("vec_id", "label")
        .join(buckets, "vec_id")
        .groupBy("bucket", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("bucket").orderBy(F.desc("c"), F.asc("label"))
    return (
        bl.withColumn("rn", F.row_number().over(w))
        .withColumn("n_vecs", F.sum("c").over(Window.partitionBy("bucket")))
        .filter(F.col("rn") == 1)
        .select(
            "bucket",
            "n_vecs",
            F.col("label").alias("majority_label"),
            F.expr("(c * 10000) div n_vecs").alias("purity_bp"),
        )
    )



MMR_LAMBDA = 0.7
MMR_POOL = 20
MMR_K = 5


def mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank: from each query's top-
    ``MMR_POOL`` cosine pool, greedily pick ``MMR_K`` results that
    trade relevance against redundancy —
    argmax λ·cos(q,c) − (1−λ)·max cos(c, selected). The standard
    diversification pass a training-data sampler runs so one near-
    duplicate cluster cannot monopolize a retrieval budget.

    Shape: the pool rides the shared ``_topk_shortlist`` BLAS kernel
    (k = MMR_POOL) — per-block matmul shortlist, exact JVM fold
    re-rank, O(N) shuffle, never the Q×N pair stream — so the pool
    membership is bit-identical to the crossJoin+window form this
    replaced (the same containment proof as ``brute_force_topk``; IVF
    routing is the approximate drop-in at serving time). Candidate
    vectors ride into ``applyInPandas`` grouped BY QUERY, so the
    greedy O(K·POOL·d) numpy loop runs per group, fully parallel
    across queries — the driver never sees a vector. Ties break on
    cand_id, floats never cross engines (rows-only; the pytest gate
    asserts the diversity property and determinism).
    """
    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    short = _topk_shortlist(e, MMR_POOL).withColumn("cn", _norm(F.col("cv")))
    rel = _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("cand_id"))
    pool = (
        short.select(
            "query_id",
            "cand_id",
            rel.alias("rel"),
            F.transform(F.col("cv"), lambda x: x / F.col("cn")).alias("unit"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MMR_POOL)
    )

    out_schema = (
        "query_id BIGINT, position INT, cand_id BIGINT, "
        "rel_bp BIGINT, mmr_bp BIGINT"
    )

    def greedy(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(["rel", "cand_id"], ascending=[False, True],
                              kind="mergesort").reset_index(drop=True)
        vecs = np.stack(pdf["unit"].to_numpy())
        rel = pdf["rel"].to_numpy()
        sims = vecs @ vecs.T  # unit vectors → pairwise cosine
        n = len(pdf)
        selected: list[int] = []
        rows = []
        for pos in range(min(MMR_K, n)):
            best_i, best_score = -1, None
            for i in range(n):
                if i in selected:
                    continue
                red = max((sims[i, j] for j in selected), default=0.0)
                score = MMR_LAMBDA * rel[i] - (1 - MMR_LAMBDA) * red
                # strict > with index order as tie-break: deterministic
                if best_score is None or score > best_score:
                    best_i, best_score = i, score
            selected.append(best_i)
            rows.append(
                [
                    int(pdf["query_id"].iloc[best_i]),
                    pos + 1,
                    int(pdf["cand_id"].iloc[best_i]),
                    int(np.floor(rel[best_i] * 10000 + 0.5)),
                    int(np.floor(best_score * 10000 + 0.5)),
                ]
            )
        return pd.DataFrame(
            rows, columns=["query_id", "position", "cand_id", "rel_bp", "mmr_bp"]
        )

    return pool.groupBy("query_id").applyInPandas(greedy, out_schema)


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric-distance scoring
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_DSUB = 8  # dims per subspace (fixture d = 64 = PQ_M · PQ_DSUB)
PQ_K = 16  # codes per subspace (4-bit codes)
PQ_ITERS = 2
PQ_TRAIN_STRIDE = 5  # Lloyd runs on a 1/5 sample; encoding is full-table


def _subvectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, m, sv): the vector cut into PQ_M contiguous sub-vectors."""
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(F.col(vec_col), m * PQ_DSUB + 1, PQ_DSUB).alias("sv"),
            )
            for m in range(PQ_M)
        ]
    )
    return df.select(id_col, F.explode(subs).alias("s")).select(
        id_col, "s.m", "s.sv"
    )


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# The trained PQ codebook + encoded table is a session artifact like the
# IVF index: a PQ index is trained once and served, never retrained per
# query.
@artifact
def _pq_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Train the PQ codebook (per-subspace Lloyd, L2 metric) and encode
    the table. Returns ``(codes, cent, cnorm, pmeta)``:

      codes = (vec_id, m, code)          — 8 small ints per vector; the
                                           4-bit-code compression is the
                                           whole point (64 float32 → 8
                                           nibbles ≈ 64× smaller)
      cent  = (m, code, cv, c2, lpos)    — PQ_M·PQ_K = 128 rows, with
                                           |cv|² and the dense LUT slot
                                           precomputed
      cnorm = (vec_id, can)              — code-derived candidate norms,
                                           index metadata cached at
                                           training time (r9)
      pmeta = (vec_id, lps, can)         — codes+norm reshaped to ONE
                                           narrow row per vector for the
                                           ADC queries (r10)

    All PQ_M subspace k-means runs happen in the SAME distributed jobs
    (the subspace id ``m`` is just another key), so training is
    PQ_ITERS Lloyd passes total, not per-subspace — and Lloyd runs on
    a 1/PQ_TRAIN_STRIDE sample (FAISS-style: codebooks train on a
    sample, only ENCODING is a full-table pass). Assignment is an
    argmin over the broadcast per-subspace centroid ARRAY (8 rows,
    each holding the K centroids) — a pure per-row expression, so
    encoding adds zero shuffles and no K× row blowup. Init is
    seed-free (sub-vectors of the first PQ_K vec_ids, code = that
    vec_id); centroid means stay distributed (posexplode + two-level
    agg); every Lloyd pass is forced eagerly (NOTES trap 4/17).
    """
    from pyspark import StorageLevel

    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    v = e.select("vec_id", _dbl("embedding").alias("v"))
    sub = _subvectors(v, "vec_id", "v")
    train = sub.filter(F.col("vec_id") % PQ_TRAIN_STRIDE == 0)
    first = v.orderBy("vec_id").limit(PQ_K).select("vec_id")
    # (m, carr): the K centroids of subspace m as a code-sorted array
    carr = (
        sub.join(F.broadcast(first), "vec_id")
        .select("m", F.col("vec_id").alias("code"), F.col("sv").alias("cv"))
        .groupBy("m")
        .agg(F.array_sort(F.collect_list(F.struct("code", "cv"))).alias("carr"))
    )

    def _assign(rel: DataFrame) -> DataFrame:
        d = F.transform(
            F.col("carr"), lambda c: _l2sq(F.col("sv"), c.getField("cv"))
        )
        best = F.array_position(d, F.array_min(d)).cast("int")
        return rel.join(F.broadcast(carr), "m").select(
            "vec_id",
            "m",
            "sv",
            F.element_at(F.col("carr"), best).getField("code").alias("code"),
        )

    for _ in range(PQ_ITERS):
        prev = carr
        pos = _assign(train).select(
            "m", "code", F.posexplode("sv").alias("pos", "x")
        )
        carr = (
            pos.groupBy("m", "code", "pos")
            .agg(F.avg("x").alias("cx"))
            .groupBy("m", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cx"))),
                    lambda s: s.getField("cx"),
                ).alias("cv")
            )
            .groupBy("m")
            .agg(
                F.array_sort(F.collect_list(F.struct("code", "cv"))).alias("carr")
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        carr.count()  # force this Lloyd pass now; truncates the lineage
        prev.unpersist()  # superseded pass's cache (no-op on the unpersisted init)
    codes = _assign(sub).select("vec_id", "m", "code").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    codes.count()
    # lpos: dense LUT slot per (m, code) — m·PQ_K + per-m code rank
    # (collision-free: every subspace holds ≤ PQ_K codes). Lets the ADC
    # queries address a per-query LUT MAP with one int instead of
    # joining on (m, code) rows (r10).
    wm = Window.partitionBy("m").orderBy("code")
    cent = (
        carr.select("m", F.explode("carr").alias("c"))
        .select(
            "m",
            F.col("c").getField("code").alias("code"),
            F.col("c").getField("cv").alias("cv"),
        )
        .select(
            "m",
            "code",
            "cv",
            F.aggregate(
                F.col("cv"), F.lit(0.0), lambda acc, x: acc + x * x
            ).alias("c2"),
        )
        .withColumn(
            "lpos",
            (F.col("m") * PQ_K + F.row_number().over(wm) - 1).cast("int"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cent.count()
    carr.unpersist()  # codes + cent are materialized; the codebook-array form is done
    # candidate approx norms |x̂| = sqrt(Σ_m |c_{m,code}|²) — pure index
    # metadata (codes × codebook), so computed ONCE at training time
    # and cached with the index (r9): pq_topk and rerank_two_stage
    # each re-derived it per query call, a full aggregate over the
    # N×PQ_M code relation per pass.
    cnorm = (
        codes.join(F.broadcast(cent.select("m", "code", "c2")), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sqrt(F.sum("c2")).alias("can"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cnorm.count()
    # pmeta: per-vector PQ metadata row (vec_id, lps, can) — the 8 LUT
    # slots in subspace order plus the code-derived norm, i.e. the SAME
    # index content as (codes, cnorm) reshaped to one narrow row per
    # vector (r10, guide §2.3). The ADC queries join candidates to this
    # ONE row instead of 8 code rows + a norm row, so the pair stream
    # never blows up 8× and the per-pair LUT sum is a fixed-order array
    # expression instead of a join + re-aggregate. Pure function of the
    # trained index — same artifact class as cnorm (r9 precedent).
    pmeta = (
        codes.join(F.broadcast(cent.select("m", "code", "lpos")), ["m", "code"])
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "lpos"))),
                lambda s: s.getField("lpos"),
            ).alias("lps")
        )
        .join(cnorm, "vec_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pmeta.count()
    return codes, cent, cnorm, pmeta


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed, PQ-compressed top-k (the FAISS ``IVFx,PQy`` shape):
    candidates come from the shared IVF probe routing, but scoring
    reads 8 nibble codes per candidate instead of 64 floats —
    asymmetric distance computation (ADC), where only the QUERY stays
    uncompressed.

    adot(q, x) ≈ Σ_m LUT[m, code_m(x)], LUT[m, c] = ⟨q_m, centroid⟩;
    |x|² ≈ Σ_m |centroid|² exactly (subspaces are orthogonal slices).
    The LUT is (queries × 128) rows → broadcast; candidate scoring is
    therefore one broadcast join + a (query, cand) sum — the shuffled
    bytes per candidate are the codes, a 64× reduction vs the float
    path, which is what makes the scan affordable when the 100-TB
    embedding table doesn't fit hot storage. rows-only for the driver;
    pytest gates recall on the high-cosine planted structure and the
    quantizer's reconstruction error.
    """
    _codes, cent, _can, pmeta = _pq_index(spark, sf_dir)
    probes, cand = _ivf_probes_and_candidates(spark, sf_dir)
    q = probes.select("query_id", "qv", "qn").distinct()
    qsub = _subvectors(q.select("query_id", "qv"), "query_id", "qv")
    # per-query LUT as ONE map row keyed by the dense lpos slot (r10):
    # the old shape joined the pair stream to 8 code rows per candidate
    # and re-aggregated (an 8× row blowup through two wide exchanges);
    # now candidates join their single pmeta row, the LUT map rides a
    # broadcast, and the ADC sum is a fixed-order array fold.
    lutm = (
        qsub.join(F.broadcast(cent.select("m", "cv", "lpos")), "m")
        .select("query_id", "lpos", _dot(F.col("sv"), F.col("cv")).alias("pd"))
        .groupBy("query_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("lpos", "pd")))
            ).alias("lutm")
        )
    )
    pairs = (
        probes.select("query_id", "bucket", "qn")
        .join(cand.select("bucket", "cand_id"), "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    adot = F.aggregate(
        F.col("lps"),
        F.lit(0.0),
        lambda acc, p: acc + F.element_at(F.col("lutm"), p),
    )
    scored = (
        pairs.join(
            pmeta.select(F.col("vec_id").alias("cand_id"), "lps", "can"),
            "cand_id",
        )
        .join(F.broadcast(lutm), "query_id")
        .select(
            "query_id",
            "cand_id",
            (adot / (F.col("qn") * F.col("can"))).alias("pq_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("pq_cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "rank", "cand_id", F.round("pq_cos", 6).alias("pq_cosine")
        )
    )


FILTERED_TOP_K = 5


def filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: top-{k} cosine neighbors restricted to
    candidates SHARING THE QUERY'S LABEL — the metadata-predicate
    search every vector store names as a first-class feature (and the
    case where post-filtering an unfiltered ANN result silently
    under-fills: the filter must run INSIDE candidate generation).

    Registered as the exact pre-filtered form (label partitions the
    candidate set, so the pair stream shrinks to Σ|label|²/50 — the
    filter IS the blocking) and fully oracle-checked; at 100 TB the
    same shape rides the IVF router with the label as a second routing
    key (per-label bucket lists, exactly how partitioned HNSW/IVF
    serve filtered queries).
    """
    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.col("vec_id") % QUERY_STRIDE == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("lbl"),
            _dbl("embedding").alias("qv"),
        )
        .withColumn("qn", _norm(F.col("qv")))
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("lbl"),
        _dbl("embedding").alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        # zero-norm policy (see _nonzero_norm_rows): degenerate vectors
        # are excluded BEFORE the divide — under ANSI the fold would
        # otherwise throw DIVIDE_BY_ZERO; the oracle carries the twin
        q.filter(F.col("qn") > 0)
        .join(c.filter(F.col("cn") > 0), "lbl")  # the filter IS the blocking
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "lbl", "cand_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= FILTERED_TOP_K)
        .select(
            "query_id",
            F.col("lbl").alias("label"),
            "rank",
            "cand_id",
            F.round("cos", 6).alias("cosine"),
        )
    )


FILTERED_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS lbl,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
),
c AS (
  SELECT vec_id AS cand_id, label AS lbl,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings
),
scored AS (
  SELECT query_id, q.lbl AS lbl, cand_id,
         list_sum(list_transform(list_zip(qv, cv), p -> p[1] * p[2]))
           / (sqrt(list_sum(list_transform(qv, x -> x * x)))
              * sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cos
  FROM q JOIN c ON q.lbl = c.lbl
  WHERE query_id <> cand_id
    -- zero-norm policy: degenerate vectors are excluded (kernel twin)
    AND list_sum(list_transform(qv, x -> x * x)) > 0
    AND list_sum(list_transform(cv, x -> x * x)) > 0
)
SELECT query_id, lbl AS label, rank, cand_id, round(cos, 6) AS cosine
FROM (
  SELECT query_id, lbl, cand_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, cand_id ASC) AS rank
  FROM scored
) r
WHERE rank <= {FILTERED_TOP_K}
"""


RERANK_POOL = 50  # coarse candidates per query fed to the exact stage


def rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (the standard serving pattern): stage 1
    scans COMPRESSED codes — PQ/ADC scores inside the IVF-probed
    buckets and keeps a RERANK_POOL-sized shortlist per query; stage 2
    re-scores ONLY the shortlist against full-precision vectors and
    emits the exact-cosine top-{k}.

    Why this shape wins at 100 TB: the expensive float vectors are
    touched for queries × RERANK_POOL rows (a broadcast-sized join
    against the base table), while the bulk scan reads 8 nibbles per
    candidate. Quantization error cannot misrank the final top-{k}
    within the shortlist — only shortlist misses cost recall, so the
    pytest gate is strictly tighter than PQ-alone.
    """
    _codes, cent, _can, pmeta = _pq_index(spark, sf_dir)
    probes, cand = _ivf_probes_and_candidates(spark, sf_dir)
    q = probes.select("query_id", "qv", "qn").distinct()
    qsub = _subvectors(q.select("query_id", "qv"), "query_id", "qv")
    # per-query LUT map + single pmeta row per candidate — the pq_topk
    # r10 shape (see there); the old 8-rows-per-candidate join +
    # re-aggregate is gone.
    lutm = (
        qsub.join(F.broadcast(cent.select("m", "cv", "lpos")), "m")
        .select("query_id", "lpos", _dot(F.col("sv"), F.col("cv")).alias("pd"))
        .groupBy("query_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("lpos", "pd")))
            ).alias("lutm")
        )
    )
    pairs = (
        probes.select("query_id", "bucket")
        .join(cand.select("bucket", "cand_id"), "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    # shortlist by approx COSINE (adot normalized by the code-derived
    # candidate norm — session-cached index metadata, see _pq_index) —
    # the same metric pq_topk and the exact stage rank by; a
    # raw-inner-product pool would be norm-biased and could drop
    # high-cosine/small-norm candidates that PQ-alone returns
    adot = F.aggregate(
        F.col("lps"),
        F.lit(0.0),
        lambda acc, p: acc + F.element_at(F.col("lutm"), p),
    )
    adc = (
        pairs.join(
            pmeta.select(F.col("vec_id").alias("cand_id"), "lps", "can"),
            "cand_id",
        )
        .join(F.broadcast(lutm), "query_id")
        .select("query_id", "cand_id", (adot / F.col("can")).alias("acos"))
    )
    wpool = Window.partitionBy("query_id").orderBy(F.desc("acos"), F.asc("cand_id"))
    shortlist = (
        adc.withColumn("pr", F.row_number().over(wpool))
        .filter(F.col("pr") <= RERANK_POOL)
        .select("query_id", "cand_id")
    )
    # stage 2: exact cosine on the shortlist only
    exact = shortlist.join(
        cand.select("cand_id", "cv", "cn").dropDuplicates(["cand_id"]), "cand_id"
    ).join(q.select("query_id", "qv", "qn"), "query_id")
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        exact.select("query_id", "cand_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "cand_id", F.round("cos", 6).alias("cosine"))
    )


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moment profile of the embedding table — the
    pre-flight QA a pipeline runs before trusting an embedding space
    (dead dimensions, scale imbalance, mean offset all show up here,
    and the same sums feed whitening / PCA preprocessing).

    Plan: posexplode to (dim, x) pairs, then ONE hash aggregate keyed
    by the 64 dims — partial aggregation reduces every partition to
    64 rows before the only (tiny) shuffle, so at 100 TB the exchange
    moves dims × partitions rows, not the table. Moments come from
    explicit Σx / Σx² sums (never var_samp: engine streaming-moment
    algorithms drift; plain double sums agree to ~1e-11 relative) and
    every output is floor(x·10⁴ + 0.5) basis points (trap 1).
    """
    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    ex = e.select(F.posexplode("embedding").alias("d", "xf")).select(
        (F.col("d") + 1).cast("long").alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    bp = lambda c: F.floor(c * 10000 + F.lit(0.5)).cast("long")  # noqa: E731
    return (
        ex.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.min("x").alias("mn"),
            F.max("x").alias("mx"),
        )
        .select(
            "dim",
            "n",
            bp(F.col("sx") / F.col("n")).alias("mean_bp"),
            bp(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.col("n")
            ).alias("var_bp"),
            bp(F.col("mn")).alias("min_bp"),
            bp(F.col("mx")).alias("max_bp"),
        )
        .orderBy("dim")
    )


EMB_DIM_STATS_SQL = """
WITH ex AS (
  SELECT CAST(i AS BIGINT) AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), m AS (
  SELECT dim, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
         min(x) AS mn, max(x) AS mx
  FROM ex GROUP BY dim
)
SELECT dim, n,
       CAST(floor(sx / n * 10000 + 0.5) AS BIGINT) AS mean_bp,
       CAST(floor((sxx - sx * sx / n) / n * 10000 + 0.5) AS BIGINT) AS var_bp,
       CAST(floor(mn * 10000 + 0.5) AS BIGINT) AS min_bp,
       CAST(floor(mx * 10000 + 0.5) AS BIGINT) AS max_bp
FROM m
ORDER BY dim
"""


def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding space — the whitening /
    anisotropy-diagnosis primitive (a dominant component means the
    space wastes capacity on one direction; its loading says which
    dims).

    The 100 TB shape is NOT an iterative power method over the corpus:
    for dim d ≪ n the whole problem collapses to the d×d Gram matrix,
    accumulated in ONE Arrow-batched pass — ``mapInPandas`` emits a
    (count, Σx, flattened XᵀX) partial per batch (numpy ``x.T @ x``,
    BLAS-backed), partials reduce to one row per partition before the
    driver sums the ≤|partitions| rows (a stat frontier), and the 64×64
    eigendecomposition costs microseconds driver-side. No corpus
    shuffle at all — the only traffic is d²-sized partials. Rows-only
    (eigendecomposition is not SQL); the pytest gate compares against
    numpy PCA of the fully collected matrix (eigenvalue ≈, |cos| of
    loadings ≈ 1) and the ppm outputs absorb partial-sum float-order
    jitter.
    """
    import numpy as np
    import pandas as pd

    e = io.load_table_parallel(spark, sf_dir, "embeddings").select("embedding")

    def gram(batches):
        # accumulate across ALL of the partition's Arrow batches and
        # emit ONE partial — yielding per batch would collect
        # |batches| × d² doubles to the driver instead of the
        # ≤|partitions| stat frontier the docstring promises (review)
        n_acc, s_acc, g_acc = 0, None, None
        for pdf in batches:
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            if len(x) == 0:
                continue
            n_acc += len(x)
            s_acc = x.sum(axis=0) if s_acc is None else s_acc + x.sum(axis=0)
            g_acc = x.T @ x if g_acc is None else g_acc + x.T @ x
        if n_acc:
            yield pd.DataFrame(
                {
                    "n": [n_acc],
                    "s": [s_acc.tolist()],
                    "g": [g_acc.ravel().tolist()],
                }
            )

    parts = e.mapInPandas(
        gram, "n BIGINT, s ARRAY<DOUBLE>, g ARRAY<DOUBLE>"
    ).collect()
    schema = (
        "n_vectors BIGINT, dim BIGINT, top_eig_ppm BIGINT,"
        " explained_ppm BIGINT, top_dim BIGINT, top_loading_ppm BIGINT"
    )
    if not parts:  # empty relation: emit empty, don't crash the frontier
        return spark.createDataFrame([], schema)
    n = sum(p["n"] for p in parts)
    d = int(round(len(parts[0]["g"]) ** 0.5))
    s = np.zeros(d)
    g = np.zeros((d, d))
    for p in parts:
        s += np.array(p["s"])
        g += np.array(p["g"]).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    w, v = np.linalg.eigh(cov)
    top = v[:, -1] * (1 if v[int(np.argmax(np.abs(v[:, -1]))), -1] >= 0 else -1)
    ppm = lambda x: int(np.floor(x * 1_000_000 + 0.5))  # noqa: E731
    row = [
        (
            int(n),
            int(d),
            ppm(float(w[-1])),
            ppm(float(w[-1] / w.sum())),
            int(np.argmax(np.abs(top)) + 1),
            ppm(float(top[int(np.argmax(np.abs(top)))])),
        )
    ]
    return spark.createDataFrame(row, schema)


def silhouette_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster cosine silhouette proxy over the IVF partition: for
    every vector, margin = cos(x, own centroid) − max cos(x, other
    centroid); per cluster report size, mean/min margin (bp) and the
    misrouted count (margin < 0 — possible because the cached index
    keeps the centroid table one Lloyd half-step ahead of the
    assignment). This is the clustering-quality readout (tight & far =
    high margin) run before trusting SemDeDup pruning or stratified
    sampling on a new embedding space.

    Shape: one broadcast of the 16-row centroid table, one NLIST-way
    per-vector expansion (the same fan-out IVF routing pays), one
    groupBy vec_id, one groupBy bucket. Per-row margins quantize to
    integer bp BEFORE the per-cluster mean, so aggregation order never
    moves the result (NOTES trap 1). Rows-only: k-means is not
    SQL-expressible; the pytest gate recomputes margins in numpy.
    """
    buckets, cent = _ivf_index(spark, sf_dir)
    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    v = (
        e.select("vec_id", _dbl("embedding").alias("v"))
        .join(buckets, "vec_id")
    )
    cb = cent.select(F.col("bucket").alias("cb"), "cv")
    cos = _dot(F.col("v"), F.col("cv")) / (_norm(F.col("v")) * _norm(F.col("cv")))
    scored = v.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "bucket",
        F.col("cb"),
        cos.alias("c"),
    )
    per_vec = scored.groupBy("vec_id", "bucket").agg(
        F.max(F.when(F.col("cb") == F.col("bucket"), F.col("c"))).alias("a"),
        F.max(F.when(F.col("cb") != F.col("bucket"), F.col("c"))).alias("b"),
    )
    margins = per_vec.select(
        "bucket",
        F.floor((F.col("a") - F.col("b")) * 10000 + F.lit(0.5))
        .cast("long")
        .alias("margin_bp"),
    )
    return (
        margins.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.expr("sum(margin_bp) div count(*)").alias("mean_margin_bp"),
            F.min("margin_bp").alias("min_margin_bp"),
            F.sum(F.when(F.col("margin_bp") < 0, 1).otherwise(0)).alias(
                "n_misrouted"
            ),
        )
        .orderBy("bucket")
    )



RECALL_NPROBES = (1, 2, 3)


def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k curve of the IVF index against exact brute-force truth,
    one row per nprobe setting — the evaluation harness every ANN
    deployment runs before picking its latency/recall operating point.

    Reuses the cached bucketed base table; the probe ranking is
    recomputed WITH its rank retained (the serving router hard-codes
    NPROBE and drops it). Per setting: score only the probed buckets,
    take top-k, count overlaps with the exact top-k via a semi-join on
    (query, cand). Cost is Σ_p p/NLIST of one query-batch scan — the
    curve costs about as much as three serving passes, nothing is
    quadratic. Rows-only (k-means index); pytest gates monotone recall
    in nprobe and agreement with the serving-path recall at NPROBE.
    """
    _probes, cand = _ivf_probes_and_candidates(spark, sf_dir)
    _buckets, cent_named = _ivf_index(spark, sf_dir)
    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.col("vec_id") % QUERY_STRIDE == 0)
        .select(F.col("vec_id").alias("query_id"), _dbl("embedding").alias("qv"))
        .withColumn("qn", _norm(F.col("qv")))
        .filter(F.col("qn") > 0)  # zero-norm policy (kernel twin)
    )
    cent = cent_named.select("bucket", "cv")
    qc = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "qv",
        "qn",
        "bucket",
        (
            _dot(F.col("qv"), F.col("cv"))
            / (_norm(F.col("qv")) * _norm(F.col("cv")))
        ).alias("ccos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("bucket"))
    max_p = max(RECALL_NPROBES)
    ranked = qc.withColumn("pr", F.row_number().over(wq)).select(
        "query_id", "qv", "qn", "bucket", "pr"
    )
    # score ONCE at the widest setting with the probe rank retained —
    # p=1's candidate set is a subset of p=3's, so per-p re-joining
    # would redo the expensive cosine arithmetic three times
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        ranked.filter(F.col("pr") <= max_p)
        .join(cand, "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", "pr", cos.alias("cos"))
        .persist()
    )
    truth = (
        brute_force_topk(spark, sf_dir).select("query_id", "cand_id").persist()
    )
    qids = q.select("query_id").persist()
    n_queries = qids.count()
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    curves = []
    for p in RECALL_NPROBES:
        top = (
            scored.filter(F.col("pr") <= p)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
        )
        # LEFT join from the full query set: a query whose exact
        # neighbors all live in unprobed buckets has ZERO hits and
        # must drag the min to 0, not vanish from it
        hits = (
            qids.join(
                top.join(truth, ["query_id", "cand_id"], "left_semi")
                .groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("h")),
                "query_id",
                "left",
            )
            .select(F.coalesce("h", F.lit(0)).alias("h"))
        )
        curves.append(
            hits.agg(
                F.lit(p).alias("nprobe"),
                F.lit(n_queries).alias("n_queries"),
                F.expr(f"sum(h) * 10000 div ({n_queries} * {TOP_K})").alias(
                    "mean_recall_bp"
                ),
                F.expr(f"min(h) * 10000 div {TOP_K}").alias("min_query_recall_bp"),
            )
        )
    out = curves[0]
    for c in curves[1:]:
        out = out.unionByName(c)
    return out.orderBy("nprobe")



MRL_PREFIX_LENS = (8, 16, 32, 64)  # 64 = the full dimension (recall base)


def matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (prefix-dimension) retrieval audit: for each prefix
    length L ∈ {8, 16, 32}, the exact top-{TOP_K} recall of cosine
    search over the first L dimensions against the full-dimension
    top-{TOP_K} — the dimension-ablation readout run before committing
    a 100-TB serving index to truncated MRL embeddings (how much
    recall does a 4×-cheaper prefix index give up?). One row per
    (prefix_len, query): recall in basis points. Exactly oracled.

    Shape: the SHARED ``_topk_shortlist`` kernel with
    lens=MRL_PREFIX_LENS — all four prefix cosine matrices per block
    come from ONE Arrow transfer of the full vectors (prefix matmuls
    slice the same arrays), emitting per-(L, query) block-local top-K
    candidates with the sliced vectors carried through (one
    implementation of the margin/containment/self-pair logic for all
    three consumers); the exact re-rank folds the carried slices with
    the oracle's sequential order, and the recall join compares each
    prefix's exact top-K set against the L=64 set. Every phase is
    bounded: Arrow volume O(N·|lens|) vectors, final windows ≤
    ~K·N_BLOCKS rows per (L, query).
    """
    e = io.load_table_parallel(spark, sf_dir, "embeddings")
    short = _topk_shortlist(e, TOP_K, MRL_PREFIX_LENS)
    cos = _dot(F.col("qv"), F.col("cv")) / (
        _norm(F.col("qv")) * _norm(F.col("cv"))
    )
    w = Window.partitionBy("plen", "query_id").orderBy(
        F.desc("cos"), F.asc("cand_id")
    )
    topk = (
        short.select("plen", "query_id", "cand_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("plen", "query_id", "cand_id")
    )
    full = topk.filter(F.col("plen") == MRL_PREFIX_LENS[-1]).select(
        "query_id", "cand_id", F.lit(1).alias("hit")
    )
    return (
        topk.filter(F.col("plen") != MRL_PREFIX_LENS[-1])
        .join(full, ["query_id", "cand_id"], "left")
        .groupBy("plen", "query_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"))
        .select(
            F.col("plen").cast("int").alias("prefix_len"),
            "query_id",
            F.expr(f"CAST(n_hit * 10000 div {TOP_K} AS BIGINT)").alias(
                "recall_bp"
            ),
        )
        .orderBy("prefix_len", "query_id")
    )


MATRYOSHKA_PREFIX_RECALL_SQL = f"""
WITH lens AS (SELECT unnest([{", ".join(str(x) for x in MRL_PREFIX_LENS)}]) AS plen),
q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
),
c AS (
  SELECT vec_id AS cand_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings
),
scored AS (
  SELECT plen, query_id, cand_id,
         list_sum(list_transform(list_zip(qv[1:plen], cv[1:plen]),
                                 p -> p[1] * p[2]))
           / (sqrt(list_sum(list_transform(qv[1:plen], x -> x * x)))
              * sqrt(list_sum(list_transform(cv[1:plen], x -> x * x)))) AS cos
  FROM q CROSS JOIN c CROSS JOIN lens
  WHERE query_id <> cand_id
    -- zero-norm policy, per prefix length (kernel twin)
    AND list_sum(list_transform(qv[1:plen], x -> x * x)) > 0
    AND list_sum(list_transform(cv[1:plen], x -> x * x)) > 0
),
topk AS (
  SELECT plen, query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY plen, query_id
                                 ORDER BY cos DESC, cand_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {TOP_K}
)
SELECT CAST(t.plen AS INTEGER) AS prefix_len, t.query_id AS query_id,
       CAST(count(f.cand_id) * 10000 // {TOP_K} AS BIGINT) AS recall_bp
FROM topk t
LEFT JOIN topk f ON f.plen = {MRL_PREFIX_LENS[-1]}
                AND f.query_id = t.query_id AND f.cand_id = t.cand_id
WHERE t.plen <> {MRL_PREFIX_LENS[-1]}
GROUP BY t.plen, t.query_id
ORDER BY prefix_len, query_id
"""


QUERIES = {
    "sim_brute_force_topk": (brute_force_topk, BRUTE_FORCE_SQL),
    "sim_embedding_neardup": (embedding_neardup, EMBEDDING_NEARDUP_SQL),
    "sim_ivf_topk": (ivf_topk, None),
    "sim_quantized_topk": (quantized_topk, None),
    "sim_brp_lsh_topk": (brp_lsh_topk, None),
    "sim_semantic_dedup": (semantic_dedup, None),
    "emb_label_knn_accuracy": (label_knn_accuracy, LABEL_KNN_SQL),
    "emb_centroid_purity": (centroid_purity, None),
    "sim_mmr_diversify": (mmr_diversify, None),
    "emb_dim_stats": (embedding_dim_stats, EMB_DIM_STATS_SQL),
    "sim_pq_topk": (pq_topk, None),
    "sim_rerank_two_stage": (rerank_two_stage, None),
    "sim_filtered_topk": (filtered_topk, FILTERED_TOPK_SQL),
    "emb_pca_top_component": (pca_top_component, None),
    "emb_silhouette_margin": (silhouette_margin, None),
    "sim_ann_recall_curve": (ann_recall_curve, None),
    "sim_matryoshka_prefix_recall": (
        matryoshka_prefix_recall,
        MATRYOSHKA_PREFIX_RECALL_SQL,
    ),
}
