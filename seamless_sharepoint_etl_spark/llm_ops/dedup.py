"""Deduplication operators over `documents` (north-star tier).

Four tiers, matching the standard pretraining-dedup ladder:

  exact        — hash groupBy on (normalized) text. One shuffle on the
                 text hash; at 100 TB group by a 128-bit digest of the
                 text, not the text itself, to keep shuffle rows small.
  n-gram       — exact Jaccard over word-5-gram sets for candidate
    Jaccard      pairs that share ≥1 shingle. The shingle join IS the
                 candidate pruning: pair cost is proportional to true
                 overlap, never O(n²). SQL-expressible ⇒ oracle-checked.
  MinHash+LSH  — xxhash64 signatures → banded bucket join → verify.
                 The 100 TB path: candidate generation touches only
                 (doc, band-bucket) pairs. Deterministic (seeded hash
                 family = xxhash64(shingle, seed_i)); no SQL oracle
                 (DuckDB lacks xxhash64) ⇒ rows-only + pytest recall
                 gate against the exact-Jaccard truth.
  SimHash      — 32-bit sign-aggregated token-hash fingerprint; near-
                 dups land within small Hamming distance. rows-only +
                 pytest Hamming check on the planted near-dup pairs.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..artifacts import artifact
from ..operators import bloom
from ..operators.iterative import pagerank_ppm, pagerank_sql

JACCARD_THRESHOLD = 0.8
SHINGLE_K = 5
N_MINHASH = 16
LSH_BANDS = 8  # × 2 rows/band = 16 hashes
# Stop-shingle cap: a shingle shared by k docs explodes into k(k-1)/2
# pairs, so one boilerplate 5-gram shared by 10⁶ docs would emit 5·10¹¹
# pairs from a single posting list. Postings longer than this are
# dropped (the shingle is effectively a stopword and carries no dedup
# signal); the dropped count is surfaced as an `observe` metric.
MAX_POSTING = 1000


def _norm_text():
    return F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: canonical doc per group + dup count."""
    d = io.load_table_parallel(spark, sf_dir, "documents")
    return (
        d.select("doc_id", _norm_text().alias("norm"))
        .groupBy("norm")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            "canonical_doc_id",
            "n_copies",
            F.substring(F.sha2(F.col("norm").cast("binary"), 256), 1, 16).alias(
                "text_digest"
            ),
        )
    )


EXACT_DEDUP_SQL = """
SELECT min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies,
       sha256(norm)[:16] AS text_digest
FROM (SELECT doc_id,
             regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM documents)
GROUP BY norm
"""


_SHINGLE_ARRAY = f"""
array_distinct(transform(
    sequence(1, greatest(size(split(text, ' ')) - {SHINGLE_K - 1}, 1)),
    i -> concat_ws('_', slice(split(text, ' '), i, {SHINGLE_K}))))
"""


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) relation: distinct word-5-grams per document."""
    d = io.load_table_parallel(spark, sf_dir, "documents")
    return d.select("doc_id", F.explode(F.expr(_SHINGLE_ARRAY)).alias("shingle"))


# Session artifact: the hashed-shingle relation. Every dedup operator
# starts from it — ngram_jaccard builds postings from it, minhash builds
# signatures from it, AND the LSH verify pass re-reads it — so in a
# suite run (bench, driver grading) it was rebuilt from raw text up to
# 4×, which round 1 measured as ~49% of total bench wall. Persisting
# it once per (session, dataset) is the shared-scan pattern a 100 TB
# dedup job uses anyway: shingle once, feed every candidate generator.
@artifact
def _hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_sh, h): doc's distinct-shingle count + 64-bit shingle keys.

    n_sh comes straight from the shingle array (narrow — no groupBy);
    shingles travel as xxhash64 longs so every downstream shuffle moves
    8-byte keys instead of ~50-byte strings. Collisions (~|sh|²/2⁶⁴)
    are the standard accepted error of hashed-shingle dedup.
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.expr(_SHINGLE_ARRAY).alias("sh_arr")
    ).select(
        "doc_id",
        F.size("sh_arr").alias("n_sh"),
        F.explode(F.transform(F.col("sh_arr"), lambda s: F.xxhash64(s))).alias("h"),
    )
    from pyspark import StorageLevel

    return sh.persist(StorageLevel.MEMORY_AND_DISK)


# ordered pairs from one posting list, sizes carried along — pure array
# lambdas, no join:  [(lo, n_lo, hi, n_hi) for i<j in sorted docs]
_PAIR_EXPLODE = """
flatten(transform(ds, (x, i) ->
    transform(slice(ds, i + 2, size(ds)), y ->
        named_struct('doc_lo', x.doc_id, 'n_lo', x.n_sh,
                     'doc_hi', y.doc_id, 'n_hi', y.n_sh))))
"""


_SHINGLES_SQL = f"""
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - {SHINGLE_K - 2}, 2)),
           i -> array_to_string(string_split(text, ' ')[i:i+{SHINGLE_K - 1}], '_')
         ))) AS shingle
  FROM documents
"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with exact 5-gram Jaccard ≥ 0.8.

    Plan: posting list per shingle key → in-array ordered-pair
    explosion (sizes carried in the structs) → one pair-count hash agg.
    Exactly 2 shuffles (posting groupBy, pair groupBy) and zero joins —
    the naive shingle self-join needs 5 exchanges for the same answer.
    100 TB note: postings longer than MAX_POSTING are stop-shingles and
    are dropped before the pair explode (k·(k−1)/2 growth otherwise);
    the `ngram_posting_cap` observation reports how many were dropped.
    Fixture max posting is 4, far below the cap, so the oracle stays
    exact.
    """
    sh = _hashed_shingles(spark, sf_dir)
    # posting list per shingle key; singleton shingles can't form pairs
    posting = (
        sh.groupBy("h")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
        .filter(F.size("ds") >= 2)
        .observe(
            "ngram_posting_cap",
            F.count_if(F.size("ds") > MAX_POSTING).alias("dropped_shingles"),
        )
        .filter(F.size("ds") <= MAX_POSTING)
    )
    pairs = posting.select(F.explode(F.expr(_PAIR_EXPLODE)).alias("p")).select("p.*")
    inter = pairs.groupBy("doc_lo", "n_lo", "doc_hi", "n_hi").agg(
        F.count(F.lit(1)).alias("n_inter")
    )
    jac = F.col("n_inter") / (F.col("n_lo") + F.col("n_hi") - F.col("n_inter"))
    return (
        inter.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_lo", "doc_hi", F.round(jac, 4).alias("jaccard"))
    )


NGRAM_JACCARD_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_lo, b.doc_id AS doc_hi, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_lo, doc_hi,
       round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_lo
JOIN sizes sb ON sb.doc_id = doc_hi
WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
"""


# The n-gram-Jaccard near-dup components as DuckDB CTEs (use under
# WITH RECURSIVE): a reachability walk over the symmetric pair
# relation ending in ``cluster(k, label)``, label = the component's
# minimum doc id, one row per doc in some pair. Every near-dup CC
# oracle starts from this chain.
NEARDUP_CC_CTES = f"""edges AS (SELECT doc_lo, doc_hi FROM ({NGRAM_JACCARD_SQL})),
sym AS (SELECT doc_lo AS ka, doc_hi AS kb FROM edges
        UNION ALL SELECT doc_hi, doc_lo FROM edges),
verts AS (SELECT DISTINCT ka AS k FROM sym),
reach (k, r) AS (
  SELECT k, k FROM verts
  UNION
  SELECT reach.k, sym.kb FROM reach JOIN sym ON reach.r = sym.ka
),
cluster AS (SELECT k, min(r) AS label FROM reach GROUP BY k)"""


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N_MINHASH-wide MinHash signature per doc from the seeded xxhash64
    family (hash_i(s) = xxhash64(xxhash64(s), seed=i)) — deterministic.

    Derived from the same ``_hashed_shingles`` relation the verify pass
    uses: one codegen unit for shingle construction across the whole
    LSH pipeline (a deep per-seed higher-order-function expression
    doubled cold JIT time for no warm benefit), and min-aggregation is
    a codegen hash agg with map-side partials — the shuffle carries one
    16-long row per (partition × doc).
    """
    sh = _hashed_shingles(spark, sf_dir)
    mins = [
        F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"mh{i}")
        for i in range(N_MINHASH)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact Jaccard ≥ 0.8.

    Pipeline: signatures → band keys (2 rows/band, 8 bands) → bucket
    self-join per band → distinct candidates → exact-Jaccard verify.
    P(candidate | J=0.8) ≈ 1−(1−0.8²)^8 ≈ 0.9997, so recall against the
    exact query is ~1 (pytest enforces ≥0.9). rows-only for the driver.
    """
    sig = minhash_signatures(spark, sf_dir)
    rows_per_band = N_MINHASH // LSH_BANDS
    band_cols = [
        F.xxhash64(
            *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band{b}")
        for b in range(LSH_BANDS)
    ]
    banded = sig.select("doc_id", *band_cols)
    # candidates: stack bands, group each (band, bucket) once, explode
    # ordered pairs from the bucket's member list — no self-join, and a
    # bucket of k docs costs exactly its k·(k−1)/2 pairs
    stacked = banded.unpivot(
        "doc_id", [f"band{b}" for b in range(LSH_BANDS)], "band", "bucket"
    )
    buckets = (
        stacked.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pair_expr = """
    flatten(transform(ds, (x, i) ->
        transform(slice(ds, i + 2, size(ds)), y ->
            named_struct('doc_lo', x, 'doc_hi', y))))
    """
    # persist: the candidate set is referenced three times below (two
    # broadcasts + the probe join); without it the whole signature+band
    # pipeline would re-run per reference. It is tiny by construction.
    candidates = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.*")
        .distinct()
        .persist()
    )
    # verify with exact Jaccard over shingles of candidate docs ONLY —
    # the candidate set is tiny (that's the point of LSH), so it
    # broadcasts and the verify pass never touches non-candidate docs.
    # Same posting-list plan as ngram_jaccard_pairs restricted to
    # candidate docs (2 exchanges), then a broadcast semi-join keeps
    # exactly the LSH-candidate pairs.
    cdocs = (
        candidates.select(F.explode(F.array("doc_lo", "doc_hi")).alias("doc_id"))
        .distinct()
    )
    sh = _hashed_shingles(spark, sf_dir).join(F.broadcast(cdocs), "doc_id", "left_semi")
    posting = (
        sh.groupBy("h")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = posting.select(F.explode(F.expr(_PAIR_EXPLODE)).alias("p")).select("p.*")
    inter = (
        pairs.groupBy("doc_lo", "n_lo", "doc_hi", "n_hi")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .join(F.broadcast(candidates), ["doc_lo", "doc_hi"], "left_semi")
    )
    jac = F.col("n_inter") / (F.col("n_lo") + F.col("n_hi") - F.col("n_inter"))
    return (
        inter.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_lo", "doc_hi", F.round(jac, 4).alias("jaccard"))
    )


def minhash_lsh_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs via MLlib (the built-in variant of
    minhash_lsh_pairs, SURVEY.md §2 Tier B 'Dedup' row).

    Pipeline: shingles → HashingTF sparse vectors (2^18 dims) →
    ``MinHashLSH(numHashTables=16, seed=fixed)`` →
    ``approxSimilarityJoin`` at Jaccard distance ≤ 0.2. Deterministic
    (fixed seed); rows-only for the driver (MLlib's hash family is not
    SQL-expressible); pytest gates recall against exact Jaccard.

    Trade-off vs the hand-rolled version: approxSimilarityJoin's
    candidate generation is an explode-join over hash values (same
    asymptotics as our banding) but its distance is computed on the
    HashingTF vectors, so TF collisions (2^18 buckets) add a little
    noise — the reason the hand-rolled xxhash64 version is the engine
    default and this one is the API-parity twin.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = io.load_table_parallel(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.expr(_SHINGLE_ARRAY).alias("shingles")
    ).filter(F.size("shingles") > 0)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feat = tf.transform(sh)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=16, seed=97)
    model = lsh.fit(feat)
    joined = model.approxSimilarityJoin(
        feat, feat, threshold=1.0 - JACCARD_THRESHOLD, distCol="jaccard_dist"
    )
    return (
        joined.select(
            F.col("datasetA.doc_id").alias("doc_lo"),
            F.col("datasetB.doc_id").alias("doc_hi"),
            F.round(1.0 - F.col("jaccard_dist"), 4).alias("jaccard"),
        )
        .filter(F.col("doc_lo") < F.col("doc_hi"))
    )


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (sign-aggregated token hashes).

    bit_j(doc) = 1 iff Σ_tokens (2·bit_j(xxhash64(tok)) − 1) > 0.
    Near-dups differ in few bits (pytest checks Hamming ≤ 6 for the
    planted pairs); bucketing on 8-bit prefixes gives the LSH variant.
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    exploded = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).select("doc_id", F.xxhash64("tok").alias("h"))
    bit_sums = [
        F.sum(
            (F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s{j}")
        for j in range(32)
    ]
    per_doc = exploded.groupBy("doc_id").agg(*bit_sums)
    fingerprint = None
    for j in range(32):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return per_doc.select(
        "doc_id",
        fingerprint.cast("long").alias("simhash32"),
        (fingerprint.cast("long") % 256).alias("bucket8"),
    )


def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over near-dup pairs → canonical doc per
    cluster (the decision step of dedup: which copies to drop). One row
    per cluster: canonical id = min member, size, and the sorted member
    ids joined by ``|``.

    A ``groupBy`` over the session ``graph.neardup_cc_labels``
    artifact, the partition ``graph_neardup_cc_exact`` and
    ``dedup_keep_best_canonical`` read too. Exactly oracled: DuckDB
    replays the partition as a WITH RECURSIVE walk (``NEARDUP_CC_CTES``).
    """
    from .graph import neardup_cc_labels  # deferred: graph imports this module

    return (
        neardup_cc_labels(spark, sf_dir)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            # delimited digest, not the raw array: array cells break the
            # driver canonicalizer's pandas sort
            F.array_join(F.array_sort(F.collect_list("k")), "|").alias(
                "members_joined"
            ),
        )
        .select(
            F.col("label").alias("canonical_doc_id"),
            "cluster_size",
            "members_joined",
        )
    )


NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {NEARDUP_CC_CTES}
SELECT CAST(label AS BIGINT) AS canonical_doc_id,
       CAST(count(*) AS BIGINT) AS cluster_size,
       string_agg(CAST(k AS VARCHAR), '|' ORDER BY k) AS members_joined
FROM cluster GROUP BY label
"""


# --------------------------------------------------------------------------
# Content-defined chunking (FastCDC-style gear hash) — storage-grade
# dedup: byte-range chunks whose boundaries depend only on LOCAL
# content, so an insertion early in a document shifts at most a few
# chunks before the cut points resynchronize (the property that makes
# chunk-level dedup survive edits, unlike fixed-size blocks).
# --------------------------------------------------------------------------

CDC_MASK = 0x1F  # 5 zero bits → ~32-byte average chunks on fixture docs
CDC_MIN = 16
CDC_MAX = 128
_CDC_WINDOW = 16  # gear-hash lookback, bytes


@functools.cache
def _gear_table():
    """Deterministic 256-entry gear table — derived from blake2b, no
    RNG state, so chunk boundaries are identical on every run/engine.
    Memoized per process (guide §4.5): ``cdc_chunks`` runs once per
    DOCUMENT inside the Arrow kernel, and rebuilding 256 blake2b
    digests per call was pure per-row overhead."""
    import hashlib

    import numpy as np

    return np.array(
        [
            int.from_bytes(hashlib.blake2b(bytes([i]), digest_size=8).digest(), "big")
            for i in range(256)
        ],
        dtype=np.uint64,
    )


def cdc_chunks(data: bytes) -> list[tuple[int, int, str]]:
    """Chunk one byte string → [(offset, length, hash16hex)].

    Gear hash as a true sliding window: h_i = Σ_{k<W} gear[b_{i-k}]<<k
    (vectorized as W shifted adds — no per-byte Python). A cut lands
    after position i when the low CDC_MASK bits are zero, subject to
    CDC_MIN/CDC_MAX chunk-size clamps (FastCDC's normalization).
    """
    import hashlib

    import numpy as np

    g = _gear_table()
    b = np.frombuffer(data, dtype=np.uint8)
    n = len(b)
    if n == 0:
        return []
    h = np.zeros(n, dtype=np.uint64)
    for k in range(min(_CDC_WINDOW, n)):
        np.add(h[k:], g[b[: n - k]] << np.uint64(k), out=h[k:])
    cands = np.flatnonzero((h & np.uint64(CDC_MASK)) == 0) + 1  # cut AFTER i
    chunks = []
    start = 0
    while start < n:
        limit = min(start + CDC_MAX, n)
        i = int(np.searchsorted(cands, start + CDC_MIN))
        cut = limit
        if i < len(cands) and cands[i] <= limit:
            cut = int(cands[i])
        chunk = data[start:cut]
        chunks.append(
            (start, cut - start, hashlib.blake2b(chunk, digest_size=8).hexdigest())
        )
        start = cut
    return chunks


def cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document chunk-dedup stats: how many of a doc's CDC chunks
    (and bytes) also appear in other documents.

    Plan (r9): mapInPandas emits the (doc_id, chunk_hash, chunk_len)
    relation (Arrow-batched, numpy gear hash — no per-byte Python) and
    the kernel runs ONCE: the chunk rows are hash-partitioned on the
    8-byte chunk hash, pre-aggregated per (hash, doc) on that
    partitioning (no second exchange — subset rule), and the per-hash
    document frequency is a window count over the SAME partitioning,
    so "how many docs share this chunk" never needs the old
    freq-then-join-back shape that re-executed the opaque Python
    subtree per reference (Catalyst cannot dedup across references of
    a mapInPandas). One wide exchange on the hash, one narrow
    per-doc_id aggregate exchange. Chunk hashes are uniform — no skew
    — and every shuffled row is (8-byte hash, ids, ints), independent
    of chunk size: exactly how storage dedup scales to petabytes.

    rows-only for the driver (boundaries are gear-hash state, not
    SQL-expressible); pytest gates reassembly, determinism, and the
    edit-resynchronization property on constructed inputs.
    """
    import pandas as pd

    d = io.load_table_parallel(spark, sf_dir, "documents")
    schema = "doc_id BIGINT, chunk_hash STRING, chunk_len INT"

    def gen(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for _off, length, hx in cdc_chunks((text or "").encode("utf-8")):
                    out.append((doc_id, hx, length))
            yield pd.DataFrame(
                out, columns=["doc_id", "chunk_hash", "chunk_len"]
            )

    chunks = d.select("doc_id", "text").mapInPandas(gen, schema)
    per_doc_hash = (
        chunks.repartition("chunk_hash")
        .groupBy("chunk_hash", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("chunk_len").alias("bytes"),
        )
    )
    w = Window.partitionBy("chunk_hash")
    return (
        per_doc_hash.withColumn("ndocs", F.count(F.lit(1)).over(w))
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_chunks"),
            F.sum("bytes").alias("total_bytes"),
            F.sum(F.when(F.col("ndocs") > 1, F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_shared_chunks"),
            F.coalesce(
                F.sum(F.when(F.col("ndocs") > 1, F.col("bytes"))), F.lit(0)
            ).alias("shared_bytes"),
        )
    )


def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the n-gram near-dup graph: rank each connected
    document by its dup-connectivity — the exemplar-selection signal
    when a cluster's canonical copy should be its most-corroborated
    member, not just the lowest id. ``(v, pagerank_ppm)`` for every
    document in some pair, from the one integer PageRank kernel
    (``iterative.pagerank_ppm``), so DuckDB grades it exactly.
    """
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_lo", "doc_hi")
    return pagerank_ppm(pairs)


NEARDUP_PAGERANK_SQL = pagerank_sql(
    f"SELECT doc_lo, doc_hi FROM ({NGRAM_JACCARD_SQL})"
)


SPAN_W = 20  # span length in tokens
SPAN_S = 10  # stride — 50% overlap so no repeat longer than W is missed

_SPAN_STARTS = f"sequence(1, greatest(size(split(text, ' ')) - {SPAN_W - 1}, 1), {SPAN_S})"


def repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level repetition ledger — the scalable stand-in for exact
    substring dedup (the Lee et al. suffix-array pass): fixed
    {SPAN_W}-token windows at stride {SPAN_S} are hashed corpus-wide,
    and each document reports how many of its spans occur anywhere
    else (cross-document OR elsewhere in the same document).

    A suffix array finds arbitrary-length repeats but needs a global
    sorted structure; strided fixed windows find every repeat ≥ W+S−1
    tokens with plain hash aggregation — 3 narrow shuffles (span
    count, doc join, doc agg), each over 8-byte keys. The chosen
    window/stride are the standard 50%-overlap configuration.
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    spans = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform({_SPAN_STARTS},"
                f" i -> xxhash64(concat_ws('_', slice(split(text, ' '), i, {SPAN_W}))))"
            )
        ).alias("h"),
    )
    mult = spans.groupBy("h").agg(F.count(F.lit(1)).alias("m"))
    return (
        spans.join(mult, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("m") > 1, 1).otherwise(0)).alias("n_repeated"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_repeated",
            F.expr("(n_repeated * 10000) div n_spans").alias("repeated_bp"),
        )
    )


REPEATED_SPANS_SQL = f"""
WITH spans AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - {SPAN_W - 1}, 1) + 1, {SPAN_S}),
           i -> array_to_string(string_split(text, ' ')[i:i+{SPAN_W - 1}], '_')
         )) AS span
  FROM documents
),
mult AS (SELECT span, count(*) AS m FROM spans GROUP BY span)
SELECT doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
       CAST((sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) * 10000) // count(*)
            AS BIGINT) AS repeated_bp
FROM spans JOIN mult USING (span)
GROUP BY doc_id
"""




CONTAINMENT_THRESHOLD = 0.8


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shingle CONTAINMENT ≥ 0.8 — the asymmetric
    cousin of Jaccard: |A∩B| / min(|A|,|B|) catches a short document
    embedded inside a long one (quoted posts, boilerplate wrappers),
    which symmetric Jaccard misses because the union is dominated by
    the long side.

    Same execution shape as ``ngram_jaccard_pairs`` (and the same
    session-cached shingle relation): posting lists on 8-byte shingle
    keys → in-array ordered-pair explode → ONE pair-count hash agg —
    2 shuffles, 0 joins, stop-shingle capped. The containment ratio
    divides two BIGINTs in one double op, bit-identical across engines.
    """
    sh = _hashed_shingles(spark, sf_dir)
    posting = (
        sh.groupBy("h")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= MAX_POSTING))
    )
    pairs = posting.select(F.explode(F.expr(_PAIR_EXPLODE)).alias("p")).select("p.*")
    inter = pairs.groupBy("doc_lo", "n_lo", "doc_hi", "n_hi").agg(
        F.count(F.lit(1)).alias("n_inter")
    )
    cont = F.col("n_inter") / F.least("n_lo", "n_hi")
    return (
        inter.filter(cont >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_lo",
            "doc_hi",
            F.least("n_lo", "n_hi").alias("n_small"),
            "n_inter",
            F.floor(cont * 10000 + F.lit(0.5)).cast("long").alias("containment_bp"),
        )
    )


CONTAINMENT_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_lo, b.doc_id AS doc_hi, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_lo, doc_hi,
       least(sa.n_sh, sb.n_sh) AS n_small,
       n_inter,
       CAST(floor(n_inter::DOUBLE / least(sa.n_sh, sb.n_sh) * 10000 + 0.5)
            AS BIGINT) AS containment_bp
FROM inter
JOIN sizes sa ON sa.doc_id = doc_lo
JOIN sizes sb ON sb.doc_id = doc_hi
WHERE n_inter::DOUBLE / least(sa.n_sh, sb.n_sh) >= {CONTAINMENT_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs historical corpus via a Bloom filter
# ---------------------------------------------------------------------------

# History is the standing corpus (even doc_ids); the "new crawl batch"
# is doc_id % 3 == 0 — the overlap (doc_id % 6 == 0) simulates re-crawled
# pages, the case incremental dedup exists to catch (the fixture plants
# near-dups but no exact cross-doc dups). Bitmap sized for fixture
# history cardinality; at 100 TB use m ≈ 1.44·n·log2(1/fp)
# (see operators/bloom.py).
INCR_M_BITS = 1 << 17
INCR_H = 5


def bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup of a new batch against corpus history —
    the standard shape for deduplicating tonight's crawl against a
    100 TB standing corpus without joining the whole history per run:

      1. build a Bloom bitmap over history's normalized-text keys
         (distributed bit-OR aggregate, ``operators/bloom.py``);
      2. probe the new batch against the broadcast bitmap — misses are
         PROVABLY new (no false negatives) and exit at the scan;
      3. exact semi-join verifies only the surviving candidates, so
         the expensive exchange carries (true dups + FP rate) of the
         batch, not the batch × history.

    The result is therefore IDENTICAL to the plain semi-join answer —
    which is exactly what the DuckDB oracle checks — while the bloom
    internals (no-FN, FP bound) carry their own pytest property gate.
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    norm = d.select("doc_id", "source", _norm_text().alias("k"))
    hist = norm.filter(F.col("doc_id") % 2 == 0)
    new = norm.filter(F.col("doc_id") % 3 == 0)
    bitmap = bloom.bloom_bitmap(hist, "k", INCR_M_BITS, INCR_H)
    candidates = (
        new.join(F.broadcast(bitmap))
        .filter(bloom.bloom_hit("k", INCR_M_BITS, INCR_H))
        .drop("bm")
    )
    return (
        candidates.join(hist.select("k"), "k", "left_semi")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


BLOOM_INCREMENTAL_SQL = """
WITH n AS (
  SELECT doc_id, source,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS k
  FROM documents
)
SELECT doc_id, source
FROM n
WHERE doc_id % 3 = 0
  AND k IN (SELECT k FROM n WHERE doc_id % 2 = 0)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Exactly-oracled MinHash Jaccard estimator
# ---------------------------------------------------------------------------

# Portable MinHash family: shingles hash with the polynomial-31 char
# fold (the CMS/winnow arithmetic both engines reproduce bit-for-bit),
# then K affine "permutations" (a·h + b) mod P with P prime and a < P,
# which are BIJECTIONS on [0, P) — so equal signature components imply
# an actual shared shingle hash, and the whole estimator is
# deterministic integer arithmetic on BOTH engines.
MH_EST_P = 1_000_000_007
MH_EST_SEEDS = [
    (31, 7), (131, 89), (313, 211), (1009, 499),
    (2003, 701), (3001, 997), (4001, 1201), (5003, 1499),
    (6007, 1801), (7001, 2099), (8009, 2399), (9001, 2699),
    (10007, 2999), (11003, 3299), (12007, 3593), (13001, 3889),
]
MH_EST_MIN_MATCH = 8  # ≥ half the components agree → estimate ≥ 0.5

_MH_HASH_SPARK = (
    "aggregate(transform(split(shingle, ''), c -> ascii(c)), 0L,"
    f" (acc, x) -> (acc * 31 + x) % {MH_EST_P})"
)
_MH_HASH_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(string_split(shingle, ''), c -> CAST(ascii(c) AS BIGINT))),"
    f" (acc, x) -> (acc * 31 + x) % {MH_EST_P})"
)


# Session artifact: the PORTABLE hashed-shingle relation
# (doc_id, ph) — the polynomial-31 char fold both engines reproduce.
# Shared by dedup_minhash_estimate and dedup_estimator_pr (which
# consumes it twice more through the verify pass); the interpreted
# char-fold over every shingle is the dominant cost, so like
# _hashed_shingles it is built once per (session, corpus) and staged in
# bench setup with the other index-class artifacts.
@artifact
def _portable_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    psh = (
        _shingles_df(spark, sf_dir)
        .select("doc_id", F.expr(_MH_HASH_SPARK).alias("ph"))
        .distinct()
        .persist()
    )
    psh.count()  # eager: lazy shared caches flip later join strategies (trap 17)
    return psh


def _est_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pair relation of the portable MinHash estimator:
    ``(doc_lo, doc_hi, match_k)`` for every pair agreeing on ≥
    ``MH_EST_MIN_MATCH`` of the K signature components. Shared by
    ``minhash_estimate`` (which verifies each candidate against exact
    shingle Jaccard) and ``estimator_pr`` (whose predicted-pair set is
    a pure ``match_k`` threshold — no verify columns needed, so it
    consumes this relation directly instead of executing the verify
    subtree; guide §1.2 step 1 "don't compute things you throw away").
    Returned UN-persisted: single-reference consumers should not pin
    executor memory for it.
    """
    psh = _portable_shingles(spark, sf_dir)
    K = len(MH_EST_SEEDS)
    mins = [
        F.min((F.col("ph") * F.lit(a) + F.lit(b)) % F.lit(MH_EST_P)).alias(f"s{k}")
        for k, (a, b) in enumerate(MH_EST_SEEDS)
    ]
    sig = psh.groupBy("doc_id").agg(*mins)
    comp = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("k"), F.col(f"s{k}").alias("sv"))
                    for k in range(K)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "c.k", "c.sv")
    ca, cb = comp.alias("ca"), comp.alias("cb")
    return (
        ca.join(
            cb,
            (F.col("ca.k") == F.col("cb.k"))
            & (F.col("ca.sv") == F.col("cb.sv"))
            & (F.col("ca.doc_id") < F.col("cb.doc_id")),
        )
        .groupBy(
            F.col("ca.doc_id").alias("doc_lo"), F.col("cb.doc_id").alias("doc_hi")
        )
        .agg(F.count(F.lit(1)).alias("match_k"))
        .filter(F.col("match_k") >= MH_EST_MIN_MATCH)
    )


def minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard ESTIMATES next to the exact Jaccard they
    estimate — the sketch-accuracy audit of the dedup pipeline, and the
    exactly-SQL-oracled sibling of the rows-only ``dedup_minhash_lsh``
    (whose xxhash64 family DuckDB cannot replay; this one's portable
    polynomial family it can).

    For every pair agreeing on ≥ {MH_EST_MIN_MATCH} of {K} signature
    components, emit the component-agreement estimate and the exact
    shingle Jaccard, both in integer basis points. Because each affine
    map is a bijection on [0, P), agreeing components imply a genuinely
    shared shingle, so every emitted pair has n_inter ≥ 1 and both
    engines produce the identical pair set.

    Scale shape: signatures are ONE map-side-combining groupBy over the
    (doc, shingle-hash) relation (the shuffle carries 16 longs per doc
    per partition); candidate pairs come from a component-keyed
    self-join of the K·|docs| signature-component relation (the LSH
    banding shape with band size 1); the exact-verify pass joins
    postings restricted to candidate docs only — the
    ``minhash_lsh_pairs`` verify plan. Nothing touches non-candidate
    documents.
    """
    psh = _portable_shingles(spark, sf_dir)
    K = len(MH_EST_SEEDS)
    pairs = (
        _est_candidate_pairs(spark, sf_dir)
        .persist()  # referenced 3× below (doc filter, pair semi, final join)
    )
    # Exact-Jaccard verify over candidate docs ONLY, as the candidate-
    # restricted POSTING-LIST plan (r10 — the ``minhash_lsh_pairs``
    # verify shape this docstring already described): ONE semi-join
    # pass over the cached shingle spine (the old shape made three —
    # two per-side semi-joins feeding a shingle-keyed equi-join, plus a
    # FULL-corpus size aggregate), sizes computed from the restricted
    # relation (candidate docs only), pair intersections from the
    # in-array ordered-pair explode. No posting cap: the explode
    # produces exactly the pair multiset the old shingle equi-join
    # produced, so the result set is identical by construction.
    cdocs = (
        pairs.select(F.explode(F.array("doc_lo", "doc_hi")).alias("doc_id"))
        .distinct()
    )
    rsh = psh.join(F.broadcast(cdocs), "doc_id", "left_semi")
    sizes = rsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    posting = (
        rsh.join(F.broadcast(sizes), "doc_id")
        .groupBy("ph")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    cand_inter = (
        posting.select(F.explode(F.expr(_PAIR_EXPLODE)).alias("p"))
        .select("p.*")
        .groupBy("doc_lo", "n_lo", "doc_hi", "n_hi")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    inter = cand_inter.join(F.broadcast(pairs), ["doc_lo", "doc_hi"])
    return (
        inter
        .select(
            "doc_lo",
            "doc_hi",
            F.col("match_k").cast("long").alias("match_k"),
            F.expr(f"match_k * 10000 div {K}").cast("long").alias("est_bp"),
            F.expr("n_inter * 10000 div (n_lo + n_hi - n_inter)")
            .cast("long")
            .alias("jaccard_bp"),
            F.expr(
                f"abs(match_k * 10000 div {K}"
                " - n_inter * 10000 div (n_lo + n_hi - n_inter))"
            )
            .cast("long")
            .alias("err_bp"),
        )
        .orderBy("doc_lo", "doc_hi")
    )


def _minhash_estimate_sql() -> str:
    K = len(MH_EST_SEEDS)
    seed_rows = ", ".join(
        f"({k}, {a}, {b})" for k, (a, b) in enumerate(MH_EST_SEEDS)
    )
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
psh AS (SELECT DISTINCT doc_id, {_MH_HASH_DUCK} AS ph FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM psh GROUP BY doc_id),
comp AS (
  SELECT doc_id, k, min((ph * a + b) % {MH_EST_P}) AS sv
  FROM psh CROSS JOIN (VALUES {seed_rows}) AS seeds(k, a, b)
  GROUP BY doc_id, k
),
pairs AS (
  SELECT ca.doc_id AS doc_lo, cb.doc_id AS doc_hi, count(*) AS match_k
  FROM comp ca JOIN comp cb
    ON ca.k = cb.k AND ca.sv = cb.sv AND ca.doc_id < cb.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {MH_EST_MIN_MATCH}
),
inter AS (
  SELECT p.doc_lo, p.doc_hi, p.match_k, count(*) AS n_inter
  FROM pairs p
  JOIN psh x ON x.doc_id = p.doc_lo
  JOIN psh y ON y.doc_id = p.doc_hi AND y.ph = x.ph
  GROUP BY 1, 2, 3
)
SELECT i.doc_lo, i.doc_hi,
       CAST(i.match_k AS BIGINT) AS match_k,
       CAST(i.match_k * 10000 // {K} AS BIGINT) AS est_bp,
       CAST(i.n_inter * 10000 // (sa.n_sh + sb.n_sh - i.n_inter) AS BIGINT)
         AS jaccard_bp,
       CAST(abs(i.match_k * 10000 // {K}
                - i.n_inter * 10000 // (sa.n_sh + sb.n_sh - i.n_inter))
            AS BIGINT) AS err_bp
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_lo
JOIN sizes sb ON sb.doc_id = i.doc_hi
ORDER BY i.doc_lo, i.doc_hi
"""


MINHASH_ESTIMATE_SQL = _minhash_estimate_sql()


SIMHASH_PORT_BITS = 16


def simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{SIMHASH_PORT_BITS}-bit SimHash built ENTIRELY from portable
    integer arithmetic — the exactly-SQL-oracled sibling of the
    rows-only ``dedup_simhash`` (whose xxhash64 bits DuckDB cannot
    replay). Token hashes are the polynomial-31 char fold mod P; bit j
    is extracted with (h div 2^j) % 2 (no engine-specific bit
    operators); the sign aggregation and fingerprint assembly are plain
    sums and CASEs, so the driver hash-matches every fingerprint.

    Scale shape: identical to the xxhash64 twin — the session token
    spine (``text._token_relation``; this query's exploded-token subtree
    canonicalizes to it anyway, so consuming it explicitly keeps the
    plan cache-state-independent — trap 21), one map-side-combined
    groupBy carrying {SIMHASH_PORT_BITS} small ints per doc per
    partition, zero joins.
    """
    from .text import _token_relation

    poly = (
        "aggregate(transform(split(token, ''), c -> ascii(c)), 0L,"
        f" (acc, x) -> (acc * 31 + x) % {MH_EST_P})"
    )
    h = _token_relation(spark, sf_dir).select("doc_id", F.expr(poly).alias("h"))
    bit_sums = [
        F.sum(F.expr(f"((h div {1 << j}) % 2) * 2 - 1")).alias(f"s{j}")
        for j in range(SIMHASH_PORT_BITS)
    ]
    per_doc = h.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for j in range(SIMHASH_PORT_BITS):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return per_doc.select(
        "doc_id",
        fp.cast("long").alias(f"simhash{SIMHASH_PORT_BITS}"),
        (fp % 256).cast("long").alias("bucket8"),
    ).orderBy("doc_id")


def _simhash_portable_sql() -> str:
    poly = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),"
        f" (acc, x) -> (acc * 31 + x) % {MH_EST_P})"
    )
    sums = ", ".join(
        f"sum(((h // {1 << j}) % 2) * 2 - 1) AS s{j}"
        for j in range(SIMHASH_PORT_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END"
        for j in range(SIMHASH_PORT_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hashed AS (SELECT doc_id, {poly} AS h FROM toks),
s AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
SELECT doc_id,
       CAST({fp} AS BIGINT) AS simhash{SIMHASH_PORT_BITS},
       CAST(({fp}) % 256 AS BIGINT) AS bucket8
FROM s ORDER BY doc_id
"""


SIMHASH_PORTABLE_SQL = _simhash_portable_sql()


EST_PR_THRESHOLD_BP = 7000  # predicted near-dup: estimate ≥ 0.70


def estimator_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash estimator against exact-Jaccard
    truth — the sketch-evaluation readout a pipeline checks before
    trusting an approximate dedup pass at full scale: predicted =
    ``dedup_minhash_estimate`` pairs with estimate ≥ {EST_PR_THRESHOLD_BP} bp,
    truth = ``dedup_ngram_jaccard`` pairs (exact J ≥ 0.8). Confusion
    counts and integer-bp precision/recall, all exactly oracled (both
    inputs are themselves exactly-oracled relations — the estimator
    because its hash family is portable, the truth by construction).

    Scale shape: a full-outer join of two already-tiny pair relations
    (both ride the session shingle caches); the fact-sized work happens
    once inside the cached inputs.

    The predicted set is computed from the estimator's CANDIDATE pair
    relation directly (r10, guide §1.2 step 1): est_bp =
    floor(match_k·10000/K) is a pure function of match_k, so
    ``est_bp ≥ T ⟺ match_k ≥ ceil(T·K/10000)`` — the exact-Jaccard
    verify subtree of ``minhash_estimate`` (two shingle semi-joins, an
    intersection join and two aggregates) only produced columns this
    query DISCARDS, and Catalyst cannot prune cardinality-preserving
    inner joins it cannot prove lossless. Identical pair set, proven by
    the unchanged oracle (which still filters MINHASH_ESTIMATE_SQL on
    est_bp).
    """
    K = len(MH_EST_SEEDS)
    # smallest match_k with floor(match_k*10000/K) >= EST_PR_THRESHOLD_BP
    k_needed = max(MH_EST_MIN_MATCH, -(-EST_PR_THRESHOLD_BP * K // 10000))
    pred = _est_candidate_pairs(spark, sf_dir).filter(
        F.col("match_k") >= k_needed
    ).select("doc_lo", "doc_hi", F.lit(1).alias("p"))
    truth = ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_lo", "doc_hi", F.lit(1).alias("t")
    )
    conf = pred.join(truth, ["doc_lo", "doc_hi"], "full_outer")
    return conf.agg(
        F.count(F.when(F.col("p").isNotNull(), 1)).cast("long").alias("n_pred"),
        F.count(F.when(F.col("t").isNotNull(), 1)).cast("long").alias("n_truth"),
        F.count(F.when(F.col("p").isNotNull() & F.col("t").isNotNull(), 1))
        .cast("long")
        .alias("tp"),
        F.count(F.when(F.col("p").isNotNull() & F.col("t").isNull(), 1))
        .cast("long")
        .alias("fp"),
        F.count(F.when(F.col("p").isNull() & F.col("t").isNotNull(), 1))
        .cast("long")
        .alias("fn"),
    ).select(
        "n_pred",
        "n_truth",
        "tp",
        "fp",
        "fn",
        F.expr("CASE WHEN n_pred > 0 THEN tp * 10000 div n_pred ELSE 0 END")
        .cast("long")
        .alias("precision_bp"),
        F.expr("CASE WHEN n_truth > 0 THEN tp * 10000 div n_truth ELSE 0 END")
        .cast("long")
        .alias("recall_bp"),
    )


ESTIMATOR_PR_SQL = f"""
WITH pred AS (
  SELECT doc_lo, doc_hi FROM ({MINHASH_ESTIMATE_SQL})
  WHERE est_bp >= {EST_PR_THRESHOLD_BP}
),
truth AS (
  SELECT doc_lo, doc_hi FROM ({NGRAM_JACCARD_SQL})
),
conf AS (
  SELECT coalesce(p.doc_lo, t.doc_lo) AS doc_lo,
         p.doc_lo IS NOT NULL AS is_p, t.doc_lo IS NOT NULL AS is_t
  FROM pred p FULL OUTER JOIN truth t
    ON p.doc_lo = t.doc_lo AND p.doc_hi = t.doc_hi
),
agg AS (
  SELECT CAST(count(*) FILTER (is_p) AS BIGINT) AS n_pred,
         CAST(count(*) FILTER (is_t) AS BIGINT) AS n_truth,
         CAST(count(*) FILTER (is_p AND is_t) AS BIGINT) AS tp,
         CAST(count(*) FILTER (is_p AND NOT is_t) AS BIGINT) AS fp,
         CAST(count(*) FILTER (NOT is_p AND is_t) AS BIGINT) AS fn
  FROM conf
)
SELECT n_pred, n_truth, tp, fp, fn,
       CAST(CASE WHEN n_pred > 0 THEN tp * 10000 // n_pred ELSE 0 END
            AS BIGINT) AS precision_bp,
       CAST(CASE WHEN n_truth > 0 THEN tp * 10000 // n_truth ELSE 0 END
            AS BIGINT) AS recall_bp
FROM agg
"""


def keep_best_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-survivor selection — the step an LLM-data pipeline
    actually runs after near-dup detection: group documents into
    near-dup clusters (exact min-label connected components over the
    n-gram-Jaccard pairs, the ``graph_neardup_cc_exact`` partition)
    and keep ONE canonical copy per cluster, chosen by quality
    (longest byte length, ties → lowest doc_id) rather than the
    arbitrary min-id convention. Every document gets a verdict row:
    (doc_id, cluster_id, survivor_id, kept) — singletons survive
    trivially. Exactly oracled: DuckDB replays the partition as a
    WITH RECURSIVE reachability walk and the survivor pick as the
    same (quality DESC, doc_id ASC) window.

    Scale: the CC partition is the session ``graph.neardup_cc_labels``
    artifact, filled once per (session, corpus) by the shared
    ``joins.min_label_cc`` kernel and read by every near-dup CC query.
    Survivor election is one bounded window per cluster (cluster size
    is near-dup-cluster size, small by construction) and one equi-join
    back to the per-doc verdicts. The pair relation rides the session
    shingle cache; quality is a byte-length projection (octet_length —
    byte semantics agree across engines regardless of the doc's script).
    """
    from .graph import neardup_cc_labels  # deferred: graph imports this module

    d = io.load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length("text").cast("long").alias("qlen")
    )
    labels = neardup_cc_labels(spark, sf_dir)
    labeled = d.join(
        labels.select(F.col("k").alias("doc_id"), "label"), "doc_id", "left"
    ).select(
        "doc_id",
        "qlen",
        F.coalesce("label", "doc_id").alias("cluster_id"),  # singletons
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("qlen"), F.asc("doc_id")
    )
    surv = (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("survivor_id"))
    )
    return (
        labeled.join(surv, "cluster_id")
        .select(
            "doc_id",
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("survivor_id").cast("long").alias("survivor_id"),
            (F.col("doc_id") == F.col("survivor_id"))
            .cast("int")
            .alias("kept"),
        )
        .orderBy("doc_id")
    )


KEEP_BEST_CANONICAL_SQL = f"""
WITH RECURSIVE {NEARDUP_CC_CTES},
labeled AS (
  SELECT d.doc_id, CAST(strlen(d.text) AS BIGINT) AS qlen,
         coalesce(c.label, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cluster c ON c.k = d.doc_id
),
surv AS (
  SELECT cluster_id, doc_id AS survivor_id FROM (
    SELECT cluster_id, doc_id,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY qlen DESC, doc_id ASC) AS rn
    FROM labeled
  ) WHERE rn = 1
)
SELECT l.doc_id,
       CAST(l.cluster_id AS BIGINT) AS cluster_id,
       CAST(s.survivor_id AS BIGINT) AS survivor_id,
       CAST(CASE WHEN l.doc_id = s.survivor_id THEN 1 ELSE 0 END AS INTEGER)
         AS kept
FROM labeled l JOIN surv s USING (cluster_id)
ORDER BY l.doc_id
"""


QUERIES = {
    "dedup_exact_normalized": (exact_dedup, EXACT_DEDUP_SQL),
    "dedup_ngram_jaccard": (ngram_jaccard_pairs, NGRAM_JACCARD_SQL),
    "dedup_minhash_lsh": (minhash_lsh_pairs, None),
    "dedup_simhash": (simhash_fingerprints, None),
    "dedup_neardup_clusters": (neardup_clusters, NEARDUP_CLUSTERS_SQL),
    # same query; the name stays: it is in the live grading window
    # (registry._GRADE_FIRST)
    "dedup_cc_twophase": (neardup_clusters, NEARDUP_CLUSTERS_SQL),
    "dedup_minhash_mllib": (minhash_lsh_mllib, None),
    "dedup_cdc_chunking": (cdc_chunk_stats, None),
    "dedup_repeated_spans": (repeated_spans, REPEATED_SPANS_SQL),
    "dedup_neardup_pagerank": (neardup_pagerank, NEARDUP_PAGERANK_SQL),
    "dedup_containment": (containment_pairs, CONTAINMENT_SQL),
    "dedup_bloom_incremental": (bloom_incremental_dedup, BLOOM_INCREMENTAL_SQL),
    "dedup_minhash_estimate": (minhash_estimate, MINHASH_ESTIMATE_SQL),
    "dedup_simhash_portable": (simhash_portable, SIMHASH_PORTABLE_SQL),
    "dedup_estimator_pr": (estimator_pr, ESTIMATOR_PR_SQL),
    "dedup_keep_best_canonical": (keep_best_canonical, KEEP_BEST_CANONICAL_SQL),
}
