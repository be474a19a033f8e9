"""Corpus-curation operators for training-data pipelines (north-star tier).

Provenance: SURVEY.md §2 Tier B north-star requirement (BASELINE.json
``north_star``: LLM-data-pipeline operators at 100 TB scale); no
reference counterpart (the reference's dataflow surface is the 125-line
ETL script, bin/copy-seamless-to-sharepoint.rb).

Five operators a pretraining-data pipeline runs between raw crawl and
tokenizer, each expressed as JVM-side DataFrame plans:

- ``text_contamination_overlap`` — benchmark decontamination: which
  training documents share word-5-grams with a held-out eval split.
- ``text_unigram_logprob`` — corpus-trained unigram language model
  scoring (the cheap stand-in for a KenLM-style perplexity filter).
- ``text_sequence_packing`` — concat-and-split packing manifest: which
  context-window bin each document lands in, via a two-phase
  distributed prefix sum (never a single-task global window).
- ``text_gopher_quality_rules`` — repetition-based quality heuristics
  (duplicate-word / duplicate-trigram / top-word-run fractions) as
  pure per-row array folds.
- ``text_stratified_reservoir`` — deterministic per-language k-sample
  via two-phase per-group top-k (sub-bucket top-k then merge).

Float discipline (NOTES.md trap 1): every fractional output is an
integer basis-point column computed with ``floor(x·10⁴ + 0.5)`` or pure
integer division — no cross-engine round() flaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io, portable
from ..operators.windows import running_sums
from .dedup import _SHINGLES_SQL, _hashed_shingles
from .text import _token_relation

# ---------------------------------------------------------------------------
# 1. Benchmark-contamination check (eval-split n-gram overlap)
# ---------------------------------------------------------------------------

# Deterministic held-out split: ~1% of doc_ids play the eval set.
EVAL_MOD = 97


def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs that share ≥1 word-5-gram with the eval split.

    The standard decontamination pass before a pretraining run: shingle
    both splits, join on the shingle key, report per (train, eval) pair
    how many distinct shingles leak and what fraction of the training
    doc they cover.

    Scale shape: reuses the session-cached hashed-shingle relation the
    dedup family builds (shingle once, feed every candidate generator).
    The eval side is a tiny fraction of the corpus by construction, so
    the join broadcasts it — the 100-TB training side is never
    shuffled; the only exchange is the final (train, eval) pair agg.
    Shingles travel as xxhash64 longs; collisions (~|sh|²/2⁶⁴) are the
    standard accepted error, same as the dedup family.
    """
    sh = _hashed_shingles(spark, sf_dir)  # (doc_id, n_sh, h), distinct per doc
    ev = sh.filter(F.col("doc_id") % EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_doc"), "h"
    )
    tr = sh.filter(F.col("doc_id") % EVAL_MOD != 0).select(
        F.col("doc_id").alias("train_doc"), "n_sh", "h"
    )
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("train_doc", "eval_doc", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            "train_doc",
            "eval_doc",
            "n_shared",
            F.expr("CAST((n_shared * 10000) div n_sh AS BIGINT)").alias(
                "overlap_bp"
            ),
        )
    )


CONTAMINATION_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
ev AS (SELECT doc_id AS eval_doc, shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT doc_id AS train_doc, shingle FROM sh WHERE doc_id % {EVAL_MOD} <> 0)
SELECT train_doc, eval_doc, count(*) AS n_shared,
       (count(*) * 10000) // s.n_sh AS overlap_bp
FROM tr JOIN ev USING (shingle) JOIN sizes s ON s.doc_id = tr.train_doc
GROUP BY train_doc, eval_doc, s.n_sh
"""


# ---------------------------------------------------------------------------
# 2. Unigram-LM log-probability scoring (perplexity-filter stand-in)
# ---------------------------------------------------------------------------


# LN2_MICRO / the fxlog2 frac scale convert a sum of portable
# fixed-point log2 terms into rounded basis points of nats:
#   nll_bp = round( (Σ fxlog2(total, cnt)) / n · ln2 · 10^4 / 2^16 )
#          = (2·s·LN2_MICRO + D) div (2·D),  D = n · 2^16 · 100
# — pure BIGINT on both engines (Spark `div` and DuckDB `//` both
# truncate; operands are positive so truncation == floor). Headroom:
# s ≤ n·43·2^16 and 2·43·2^16·LN2_MICRO ≈ 2^41.8, so 2·s·LN2_MICRO
# stays under 2^63 only for n < ~2.36M ≈ 2^21.2 tokens/doc (ADVICE r8
# corrected the earlier 2^24 claim). _NLL_DOC_BOUND = 2^21 is the
# conservative per-doc guard: past it Spark's non-ANSI BIGINT multiply
# would WRAP silently while DuckDB raises — the Spark rendering
# therefore raise_error's per doc instead of diverging (the guard
# never fires on any in-domain corpus; a 2M-token single document is
# beyond every tokenizer's doc cap).
_LN2_MICRO = 693147  # ln(2) · 10^6, the agg_hll_portable constant
_NLL_DEN = (1 << portable.FXLOG2_FRAC_BITS) * 100
# fxlog2's q20 normalization needs a·2^20 < 2^63 (portable.py)
_NLL_DOMAIN_BOUND = 1 << 43
_NLL_DOC_BOUND = 1 << 21  # per-doc token bound for the bp conversion


def _nll_bp_expr(s: str, n: str) -> str:
    """Rounded nll basis points from a fxlog2 term sum — identical
    text for Spark (div) and DuckDB (//) modulo the division token.
    The caller-side Spark rendering should wrap with
    ``_nll_bp_guarded`` (DuckDB raises on BIGINT overflow by itself;
    Spark must be told to)."""
    return (
        f"(2 * {s} * {_LN2_MICRO} + {n} * {_NLL_DEN})"
        f" {{div}} (2 * {n} * {_NLL_DEN})"
    )


def _nll_bp_guarded(s: str, n: str) -> str:
    """Spark rendering of ``_nll_bp_expr`` with the per-doc domain
    guard: raise loudly past n ≥ 2^21 instead of wrapping silently."""
    return (
        f"CASE WHEN {n} < {_NLL_DOC_BOUND}"
        f" THEN {_nll_bp_expr(s, n).format(div='div')}"
        f" ELSE raise_error('nll_bp: document with >= 2^21 tokens"
        " exceeds the BIGINT headroom of the basis-point conversion"
        " — pre-scale or split the document') END"
    )


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus's
    own unigram model — the cheap, fully-distributed analog of the
    KenLM perplexity filters used to score crawl quality.

    Portability: the per-token term is portable.fxlog2(g_total, cnt)
    — pure-BIGINT digit extraction, bit-identical across engines BY
    CONSTRUCTION — not libm ln(), whose last-ulp rounding the two
    engines don't guarantee to agree on (this family was the last
    libm exposure after diag_mutual_information's port; VERDICT r7).
    The ratio is ≥ 1 by construction (cnt ≤ g_total), the sweet spot
    of fxlog2's precision; the METRIC is defined as this algorithm.
    g_total rides a broadcast 1-row aggregate with an in-plan
    raise_error domain guard (a < 2^43) — no driver collect in the
    query path (guide §5), and the vocab exchange is runtime-reused by
    both its references.

    Scale shape: the vocabulary aggregate is a classic map-side-partial
    hash agg (vocab ≪ corpus); the trained model (token → fxlog2) is
    broadcast back, so scoring is a broadcast join + one doc_id agg —
    the corpus-sized relation shuffles once, on doc_id. The narrow
    (doc_id, token) relation is the session-cached ``_token_relation``
    shared with TF-IDF: both the vocab agg and the scoring pass consume
    it, and re-deriving it would double-read the wide ``text`` column
    at 100 TB.
    """
    toks = _token_relation(spark, sf_dir)
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    # Domain guard, in-plan (r9): g_total rides a broadcast 1-row
    # aggregate and the a < 2^43 fxlog2 domain is enforced with
    # raise_error INSIDE the model projection — Spark raises (like the
    # DuckDB oracle would on overflow) instead of wrapping, with no
    # driver-synchronized collect job per query call. g_total is
    # Σ vocab counts = the TOTAL TOKEN COUNT, so it aggregates the
    # cached token stream directly (a near-free count over cached
    # batches): deriving it from `vocab` duplicated the whole vocab
    # aggregate subtree, because AQE stage reuse does NOT match the
    # two copies Catalyst inlines for a self-referencing plan
    # (verified on the executed final plan — separate ShuffleQueryStage
    # ids for canonically-identical subtrees; the bigram guard `ng`
    # already used this shape).
    g = toks.agg(F.count(F.lit(1)).cast("long").alias("g_total"))
    lm = vocab.crossJoin(F.broadcast(g)).select(
        "token",
        F.expr(
            f"CASE WHEN g_total < {_NLL_DOMAIN_BOUND} THEN g_total "
            "ELSE raise_error('unigram_logprob: corpus token count >= "
            "2^43 exceeds the fxlog2 fixed-point domain — pre-scale "
            "(divide counts by a common power of two) before the log "
            "(see portable.py)') END"
        ).alias("a"),
        F.col("cnt").cast("long").alias("b"),
    )
    lm = lm.selectExpr(
        "token", *portable.fxlog2_select_items("div")
    ).select("token", "fxlog2")
    return (
        toks.join(F.broadcast(lm), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("fxlog2").cast("long").alias("s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr(_nll_bp_guarded("s", "n_tokens"))
            .cast("long")
            .alias("nll_bp"),
        )
    )


def _unigram_logprob_sql() -> str:
    steps = portable.fxlog2_steps("//")
    ctes = []
    prev = "base"
    for j, (name, expr) in enumerate(steps):
        ctes.append(f"u{j} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = f"u{j}"
    return f"""
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
v AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
g AS (SELECT CAST(sum(cnt) AS BIGINT) AS g_total FROM v),
base AS (SELECT token, g_total AS a, CAST(cnt AS BIGINT) AS b FROM v, g),
{", ".join(ctes)},
lm AS (SELECT token, fxlog2 FROM {prev}),
d AS (
  SELECT doc_id, count(*) AS n_tokens, CAST(sum(fxlog2) AS BIGINT) AS s
  FROM t JOIN lm USING (token)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       CAST({_nll_bp_expr("s", "n_tokens").format(div="//")} AS BIGINT)
         AS nll_bp
FROM d
"""


UNIGRAM_LOGPROB_SQL = _unigram_logprob_sql()


# ---------------------------------------------------------------------------
# 3. Sequence-packing manifest (context-window binning)
# ---------------------------------------------------------------------------

CTX_TOKENS = 512


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split packing manifest: documents are concatenated in
    deterministic doc_id order and split into fixed CTX_TOKENS windows;
    each doc reports its global token offset, the window it starts in,
    and how many windows it spans — what a training-data loader needs
    to build packed sequences without materializing them.

    The global running token sum is ``windows.running_sums`` over
    doc_id, not a single ``Window.orderBy(doc_id)`` that would put the
    whole corpus through one task.
    """
    from pyspark import StorageLevel

    d = io.load_table_parallel(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return running_sums(
        docs, F.col("doc_id"), [], {"end_off": F.col("n_tokens")}
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("end_off") - F.col("n_tokens")).alias("offset"),
        F.expr(f"(end_off - n_tokens) div {CTX_TOKENS}").alias("bin_id"),
        F.expr(
            f"((end_off - 1) div {CTX_TOKENS})"
            f" - ((end_off - n_tokens) div {CTX_TOKENS}) + 1"
        ).alias("bins_spanned"),
    )


SEQUENCE_PACKING_SQL = f"""
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
c AS (SELECT doc_id, n_tokens,
        CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             AS BIGINT) AS end_off
      FROM t)
SELECT doc_id, n_tokens, end_off - n_tokens AS offset,
       (end_off - n_tokens) // {CTX_TOKENS} AS bin_id,
       ((end_off - 1) // {CTX_TOKENS})
         - ((end_off - n_tokens) // {CTX_TOKENS}) + 1 AS bins_spanned
FROM c
"""


# ---------------------------------------------------------------------------
# 4. Repetition-based quality rules (Gopher/C4-style)
# ---------------------------------------------------------------------------

# Thresholds are fixture-calibrated so both outcomes occur; on a real
# corpus they come from the curation spec (Gopher rules table).
DUP_TRI_MAX_BP = 4000
TOP_WORD_MAX_BP = 1600
DUP_WORD_MAX_BP = 9000

# max same-word run length in the sorted token array — a single O(n log n)
# per-row fold, no shuffle (vs the explode→groupBy→max alternative, which
# shuffles the whole token relation twice).
_TOP_RUN = """
aggregate(
  array_sort(split(text, ' ')),
  named_struct('prev', '', 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
  (acc, x) -> named_struct(
      'prev', x,
      'run', IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)),
      'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)))),
  acc -> acc.best)
"""

_TRI_DISTINCT = """
CASE WHEN size(split(text, ' ')) >= 3 THEN
  CAST(size(array_distinct(transform(
    sequence(1, size(split(text, ' ')) - 2),
    i -> concat_ws('_', slice(split(text, ' '), i, 3))))) AS BIGINT)
ELSE CAST(0 AS BIGINT) END
"""


def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gates: duplicate-word fraction,
    duplicate-trigram fraction, longest same-word run — the heuristics
    pretraining curation uses to drop boilerplate and degenerate pages.

    Scale shape: every metric is a per-row array expression (split /
    distinct / fold) — embarrassingly parallel, zero shuffles, stays in
    whole-stage codegen. All fractions are integer basis points
    (``(a·10⁴) div b``), bit-identical across engines.
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    out = (
        d.select(
            "doc_id",
            F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_words"),
            F.expr(
                "CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
            ).alias("n_distinct"),
            F.expr(f"CAST({_TOP_RUN} AS BIGINT)").alias("top_run"),
            F.expr(_TRI_DISTINCT).alias("tri_distinct"),
            F.expr(
                "CAST(greatest(size(split(text, ' ')) - 2, 0) AS BIGINT)"
            ).alias("tri_total"),
        )
        .select(
            "doc_id",
            "n_words",
            F.expr("((n_words - n_distinct) * 10000) div n_words").alias(
                "dup_word_bp"
            ),
            F.expr(
                "CASE WHEN tri_total > 0 THEN"
                " ((tri_total - tri_distinct) * 10000) div tri_total"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("dup_tri_bp"),
            F.expr("(top_run * 10000) div n_words").alias("top_run_bp"),
        )
        .withColumn(
            "keep",
            (F.col("dup_tri_bp") < DUP_TRI_MAX_BP)
            & (F.col("top_run_bp") < TOP_WORD_MAX_BP)
            & (F.col("dup_word_bp") < DUP_WORD_MAX_BP),
        )
    )
    return out


GOPHER_RULES_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         CAST(greatest(len(string_split(text, ' ')) - 2, 0) AS BIGINT) AS tri_total,
         CASE WHEN len(string_split(text, ' ')) >= 3 THEN
           CAST(len(list_distinct(list_transform(
             range(1, len(string_split(text, ' ')) - 1),
             i -> array_to_string(string_split(text, ' ')[i:i+2], '_')))) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS tri_distinct
  FROM documents
),
runs AS (
  -- max count per (doc, word) == longest same-word run in sorted order
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_run
  FROM (SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY doc_id, w)
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_words,
       ((b.n_words - b.n_distinct) * 10000) // b.n_words AS dup_word_bp,
       CASE WHEN b.tri_total > 0 THEN
         ((b.tri_total - b.tri_distinct) * 10000) // b.tri_total
       ELSE CAST(0 AS BIGINT) END AS dup_tri_bp,
       (r.top_run * 10000) // b.n_words AS top_run_bp,
       (CASE WHEN b.tri_total > 0 THEN
          ((b.tri_total - b.tri_distinct) * 10000) // b.tri_total
        ELSE CAST(0 AS BIGINT) END) < {DUP_TRI_MAX_BP}
         AND (r.top_run * 10000) // b.n_words < {TOP_WORD_MAX_BP}
         AND ((b.n_words - b.n_distinct) * 10000) // b.n_words < {DUP_WORD_MAX_BP}
         AS keep
FROM base b LEFT JOIN runs r USING (doc_id)
"""
# LEFT JOIN, not JOIN: for a NULL-text doc, unnest(string_split(NULL))
# yields no rows, so `runs` has no entry and an inner join would drop
# the doc from the oracle while the Spark per-row plan still emits it
# (with NULL metrics). LEFT JOIN keeps both engines' row sets equal —
# the doc surfaces with NULL top_run/keep on both sides.


# ---------------------------------------------------------------------------
# 5. Deterministic stratified reservoir (per-language k-sample)
# ---------------------------------------------------------------------------

RESERVOIR_K = 8
_RESERVOIR_SUB = 32
# Same multiplicative-hash family as the mixture sampler (text.py) —
# identical integer arithmetic in both engines.
_RESERVOIR_PR = "((doc_id % 1000000) * 2654435761) % 4294967296"


def stratified_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language k-sample: the k docs with the
    smallest priority hash per language — a reproducible reservoir
    sample for eval-set carving and spot-check audits.

    Scale shape: two-phase per-group top-k. Phase 1 takes the k
    smallest within each (lang, sub-bucket) — parallel across
    ``_RESERVOIR_SUB`` buckets per language, so no single task ever
    sorts a whole language. Phase 2 re-ranks the ≤ sub·k survivors per
    language (tiny). The k-smallest overall are always a subset of the
    union of per-bucket k-smallest, so the result is identical to the
    naive single window.
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.expr(_RESERVOIR_PR).alias("pr")).withColumn(
        "sub", F.expr(f"pr % {_RESERVOIR_SUB}")
    )
    w1 = Window.partitionBy("lang", "sub").orderBy("pr", "doc_id")
    cand = (
        t.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= RESERVOIR_K)
        .drop("rn1", "sub")
    )
    w2 = Window.partitionBy("lang").orderBy("pr", "doc_id")
    return (
        cand.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= RESERVOIR_K)
        .select("lang", "rn", "doc_id", F.col("pr").alias("sample_pr"))
    )


STRATIFIED_RESERVOIR_SQL = f"""
WITH t AS (SELECT doc_id, lang, {_RESERVOIR_PR} AS pr FROM documents)
SELECT lang, row_number() OVER (PARTITION BY lang ORDER BY pr, doc_id) AS rn,
       doc_id, pr AS sample_pr
FROM t
QUALIFY rn <= {RESERVOIR_K}
"""


# ---------------------------------------------------------------------------
# 5b. Weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

_WS_P = 1_000_000_007
_WS_K = 20


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (k=20, weight = n_chars) via
    the Efraimidis–Spirakis exponential-keys trick, derandomized: each
    doc gets key = ln(u)/w for a deterministic uniform u — taking the k
    LARGEST keys is exactly a weighted sample without replacement
    (A-ES; u^(1/w) max-selection, ln-transformed so no cross-engine
    pow). u comes from a portable LCG-style integer hash of doc_id, so
    both engines derive bit-identical keys.

    THE distributed weighted-sampling shape: key assignment is
    embarrassingly parallel and selection is a global top-k, which
    Spark executes as per-partition heaps + one k-row merge
    (TakeOrderedAndProject) — no sort, no shuffle of the corpus. At
    100 TB this is one scan + a k-row exchange; the same keys also
    make the sample MERGEABLE across shards/days (union then re-top-k
    gives the sample of the union).
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(1_103_515_245) + F.lit(12_345)) % F.lit(_WS_P)
    u = (h + F.lit(1)).cast("double") / F.lit(float(_WS_P + 1))
    t = d.filter(F.col("n_chars") > 0).select(
        "doc_id",
        "n_chars",
        (F.log(u) / F.col("n_chars")).alias("es_key"),
    )
    return (
        t.orderBy(F.col("es_key").desc(), "doc_id")
        .limit(_WS_K)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


WEIGHTED_SAMPLE_SQL = f"""
WITH t AS (
  SELECT doc_id, n_chars,
         ln(CAST((doc_id * 1103515245 + 12345) % {_WS_P} + 1 AS DOUBLE)
            / {float(_WS_P + 1)}) / n_chars AS es_key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars FROM t
ORDER BY es_key DESC, doc_id LIMIT {_WS_K}
"""


# ---------------------------------------------------------------------------
# 6. Per-source reputation (C4-style blocklist candidates)
# ---------------------------------------------------------------------------

# Fixture-calibrated so both verdicts occur (per-source aggregate TTR
# straddles 4200 bp at sf0.001/0.01/0.1); on a real corpus these come
# from the curation spec.
SRC_DUP_MAX_BP = 1500
SRC_TTR_MIN_BP = 4200


def source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus-quality ledger: document count, corpus-wide
    exact-duplicate rate, aggregate type-token ratio, mean document
    length — the statistics a C4-style source blocklist is cut from
    (a source whose docs are mostly corpus duplicates or degenerate
    boilerplate gets dropped wholesale).

    Scale shape: per-doc metrics are per-row array expressions (no
    explode); duplicate detection groups on the 64-bit normalized-text
    hash — three narrow shuffles total (norm-hash × source count,
    norm-hash window for corpus totals, final source agg whose
    cardinality is the source dimension, i.e. tiny). All fractions are
    integer basis points.
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    base = d.select(
        "source",
        F.xxhash64(
            F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
        ).alias("h"),
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tokens"),
        F.expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT)").alias(
            "n_distinct"
        ),
    )
    per_hs = base.groupBy("h", "source").agg(
        F.count(F.lit(1)).alias("c_hs"),
        F.sum("n_tokens").alias("t"),
        F.sum("n_distinct").alias("td"),
    )
    w = Window.partitionBy("h")
    flagged = per_hs.withColumn("c_h", F.sum("c_hs").over(w))
    return (
        flagged.groupBy("source")
        .agg(
            F.sum("c_hs").alias("n_docs"),
            F.sum(F.when(F.col("c_h") > 1, F.col("c_hs")).otherwise(0)).alias(
                "n_dup"
            ),
            F.sum("t").alias("sum_tokens"),
            F.sum("td").alias("sum_distinct"),
        )
        .select(
            "source",
            "n_docs",
            F.expr("(n_dup * 10000) div n_docs").alias("dup_bp"),
            F.expr("(sum_distinct * 10000) div sum_tokens").alias("ttr_bp"),
            F.expr("sum_tokens div n_docs").alias("avg_tokens"),
        )
        .withColumn(
            "keep",
            (F.col("dup_bp") <= SRC_DUP_MAX_BP) & (F.col("ttr_bp") >= SRC_TTR_MIN_BP),
        )
    )


SOURCE_REPUTATION_SQL = f"""
WITH base AS (
  SELECT source,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
  FROM documents
),
per_hs AS (
  SELECT norm, source, count(*) AS c_hs,
         sum(n_tokens) AS t, sum(n_distinct) AS td
  FROM base GROUP BY norm, source
),
flagged AS (
  SELECT *, sum(c_hs) OVER (PARTITION BY norm) AS c_h FROM per_hs
)
SELECT source,
       CAST(sum(c_hs) AS BIGINT) AS n_docs,
       CAST((sum(CASE WHEN c_h > 1 THEN c_hs ELSE 0 END) * 10000) // sum(c_hs)
            AS BIGINT) AS dup_bp,
       CAST((sum(td) * 10000) // sum(t) AS BIGINT) AS ttr_bp,
       CAST(sum(t) // sum(c_hs) AS BIGINT) AS avg_tokens,
       (sum(CASE WHEN c_h > 1 THEN c_hs ELSE 0 END) * 10000) // sum(c_hs)
         <= {SRC_DUP_MAX_BP}
         AND (sum(td) * 10000) // sum(t) >= {SRC_TTR_MIN_BP} AS keep
FROM flagged
GROUP BY source
"""


# ---------------------------------------------------------------------------
# 7. PII scrubbing (regex count + redaction)
# ---------------------------------------------------------------------------

# Conservative patterns that parse identically under Java regex (Spark)
# and RE2 (DuckDB): no lookaround, no backreferences.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}[- .]\d{3}[- .]\d{4}\b"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction ledger: per document, the count of
    email / IPv4 / phone matches and the text length after replacing
    each class with a fixed placeholder — the pass every public-crawl
    pipeline runs before training.

    The fixture corpus is synthetic token text, so counts are zero
    there — the oracle run proves the *plumbing* (both engines execute
    the same patterns); semantics are proven by the pytest fixture that
    injects real PII strings. Per-row regexes, embarrassingly parallel,
    zero shuffles.
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_IPV4,
            "<IP>",
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_IPV4), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.length(red).cast("long").alias("redacted_len"),
    )


PII_SCRUB_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_IPV4}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(length(
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_IPV4}', '<IP>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
FROM documents
"""



# ---------------------------------------------------------------------------
# 8. Bigram-LM log-probability scoring (order-aware perplexity stand-in)
# ---------------------------------------------------------------------------


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus's
    own bigram model — the order-aware upgrade of ``unigram_logprob``
    (a scrambled-word document scores like clean text under a unigram
    LM; the bigram model catches it). p(w2|w1) = c(w1,w2) / c(w1,.),
    trained and scored on the same corpus, so every scored bigram is
    in the model and no smoothing mass is needed.

    Scale shape: the (doc_id, w1, w2) bigram relation is the session-
    cached text._bigram_relation — this plan references it THREE times
    (pair counts, left-context totals, the scoring join), and Catalyst
    inlines every reference as its own subtree, so uncached the
    trap-22-class explode (full-document split re-run per bigram)
    executed three times per query. The model tables are
    bigram/left-context counts (vocab^2-bounded but Zipf-concentrated,
    far smaller than the corpus) joined back WITHOUT a broadcast hint
    so AQE broadcasts at fixture scale and shuffle-joins at 100 TB,
    like pmi_collocations. Docs with <2 tokens carry no bigrams and
    drop out of both engines identically (inner join).
    """
    from .text import _bigram_relation

    bg = _bigram_relation(spark, sf_dir)
    # fxlog2 domain guard, in-plan (r9): max(c1) ≤ the total bigram
    # count, an O(1)-row agg over the session-cached bigram relation —
    # broadcast into the model projection with raise_error instead of a
    # driver-synchronized collect job per query call (Spark raises,
    # like the DuckDB oracle would on overflow, instead of wrapping).
    ng = bg.agg(F.count(F.lit(1)).cast("long").alias("n_bg"))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    # c1 (left-context totals) as a window sum over the pair-count
    # relation instead of a groupBy + self-join: the join form inlined
    # the c2 aggregate subtree TWICE (AQE stage reuse does not match
    # the copies — see unigram_logprob), so the full bigram-count
    # aggregate over the cached stream ran once per reference. The
    # window needs one extra narrow exchange of the MODEL relation
    # (vocab²-bounded, the same rows the old c1 join shuffled) and
    # computes the identical BIGINT sum.
    c1w = Window.partitionBy("w1")
    lm = (
        c2.withColumn("c1", F.sum("c2").over(c1w))
        .crossJoin(F.broadcast(ng))
        .select(
            "w1",
            "w2",
            F.expr(
                f"CASE WHEN n_bg < {_NLL_DOMAIN_BOUND} "
                "THEN CAST(c1 AS BIGINT) "
                "ELSE raise_error('bigram_logprob: corpus bigram count "
                ">= 2^43 exceeds the fxlog2 fixed-point domain — "
                "pre-scale the model counts before the log "
                "(see portable.py)') END"
            ).alias("a"),
            F.col("c2").cast("long").alias("b"),
        )
    )
    lm = lm.selectExpr(
        "w1", "w2", *portable.fxlog2_select_items("div")
    ).select("w1", "w2", "fxlog2")
    # Explicit broadcast of the MODEL side (r10): the cached bigram
    # stream carries exact statistics, so the static planner judged IT
    # broadcastable and built a hashed relation over the whole corpus
    # stream while probing with the 3-orders-smaller model (the
    # aggregate's output size is unknown statically) — measured 1.2 s
    # of pure broadcast-build at sf0.1, and upside down at any scale.
    # Scoring a corpus under an LM ships the MODEL to the workers —
    # the hint pins that side. (unigram_logprob already builds on its
    # model side without a hint; only this join mis-planned.)
    return (
        bg.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("fxlog2").cast("long").alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr(_nll_bp_guarded("s", "n_bigrams"))
            .cast("long")
            .alias("nll_bp"),
        )
    )


def _bigram_logprob_sql() -> str:
    steps = portable.fxlog2_steps("//")
    ctes = []
    prev = "base"
    for j, (name, expr) in enumerate(steps):
        ctes.append(f"b{j} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = f"b{j}"
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
bg AS (
  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
  FROM t, unnest(range(1, greatest(len(a), 1))) AS u(i)
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
base AS (SELECT w1, w2, c1 AS a, CAST(c2 AS BIGINT) AS b
         FROM c2 JOIN c1 USING (w1)),
{", ".join(ctes)},
lm AS (SELECT w1, w2, fxlog2 FROM {prev}),
d AS (
  SELECT doc_id, count(*) AS n_bigrams, CAST(sum(fxlog2) AS BIGINT) AS s
  FROM bg JOIN lm USING (w1, w2)
  GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       CAST({_nll_bp_expr("s", "n_bigrams").format(div="//")} AS BIGINT)
         AS nll_bp
FROM d
"""


BIGRAM_LOGPROB_SQL = _bigram_logprob_sql()


# ---------------------------------------------------------------------------
# 8b. CCNet perplexity buckets (head / middle / tail)
# ---------------------------------------------------------------------------


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality tiers (Wenzek et al. 2020): score every doc
    with the corpus LM, then split the corpus at the 1/3 and 2/3
    perplexity quantiles into head (fluent), middle, tail (noisy) —
    the standard cheap stratification before sampling pretraining data
    by tier.

    The per-doc score reuses the unigram-LM relation (already one
    broadcast join + one doc agg over the cached token relation). The
    two cut points are ONE 2-row global aggregate — broadcast back, so
    tier assignment is a per-row comparison, never a global sort or
    single-task ntile. Thresholds interpolate over integer nll_bp
    scores with the same p·(n−1) rule in both engines, and docs
    exactly on a cut go to the lower tier (< / <) deterministically.
    """
    # The doc-level NLL relation is consumed twice (cut computation +
    # tier assignment) and Catalyst inlines each reference as its own
    # subtree — AQE stage reuse does not match the copies (verified on
    # the executed final plan), so without intervention the whole
    # corpus-sized scoring pipeline ran once per reference. A lazy
    # localCheckpoint materializes the SMALL doc-level relation once
    # inside the same action (the cuts broadcast job computes it, the
    # tier projection re-reads the stored partitions) — the fixpoint-
    # loop precedent, nothing persists across query calls (each call
    # builds a fresh plan and recomputes). ~25% off the query wall.
    nll = (
        unigram_logprob(spark, sf_dir)
        .select("doc_id", "nll_bp")
        .localCheckpoint(eager=False)
    )
    cuts = nll.agg(
        F.expr(
            "percentile(nll_bp, array(CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3))"
        ).alias("c")
    ).select(F.col("c")[0].alias("c1"), F.col("c")[1].alias("c2"))
    return (
        nll.crossJoin(F.broadcast(cuts))
        .select(
            "doc_id",
            "nll_bp",
            F.when(F.col("nll_bp") < F.col("c1"), "head")
            .when(F.col("nll_bp") < F.col("c2"), "middle")
            .otherwise("tail")
            .alias("ppl_tier"),
        )
    )


PERPLEXITY_BUCKETS_SQL = f"""
WITH nll AS ({_unigram_logprob_sql()}),
cuts AS (
  SELECT quantile_cont(nll_bp, CAST(1 AS DOUBLE)/3) AS c1,
         quantile_cont(nll_bp, CAST(2 AS DOUBLE)/3) AS c2
  FROM nll
)
SELECT doc_id, nll_bp,
       CASE WHEN nll_bp < c1 THEN 'head'
            WHEN nll_bp < c2 THEN 'middle'
            ELSE 'tail' END AS ppl_tier
FROM nll, cuts
"""


# ---------------------------------------------------------------------------
# 9. DSIR importance resampling (hashed-bigram log-likelihood ratio)
# ---------------------------------------------------------------------------

# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
# fit bag-of-hashed-ngrams models on a small target-domain sample and on
# the raw pool, score every raw document by the log-likelihood ratio
# Σ_b c_b(doc) · (ln p_target(b) − ln p_raw(b)), and keep the top-scored
# documents. The hash keeps the feature space fixed (DSIR_BUCKETS) no
# matter how large the vocabulary grows.
DSIR_TARGET_SOURCES = ("src18", "src6", "src7")
DSIR_BUCKETS = 256
DSIR_TOP = 200

# Character-polynomial bucket hash, bit-identical across engines (unlike
# xxhash64, which DuckDB lacks): fold acc·31 + codepoint mod 1000003
# (prime, keeps acc < 2^45 — no BIGINT overflow under ANSI mode), then
# mod DSIR_BUCKETS. Bigram strings are never empty (the '_' separator),
# so the sequence(1, length) fold never sees trap 12's descending range.
# Portability: hypothesis-fuzzed bit-identical across engines. The
# split-to-chars fold iterates CODEPOINTS (Java's regex split keeps
# surrogate pairs whole), matching DuckDB's codepoint-based
# substr/ascii — which also lifts the BMP-only bound the old
# length()/substring() form had (it walked UTF-16 code units).
# {col} is referenced exactly ONCE: a template with two references
# (the old length()/substring() form) lets CollapseProject inline a
# non-trivial producer expression (e.g. the bigram concat) into every
# fold step — O(len²) per string under interpreted eval. Folding over
# the split-to-chars array keeps the producer evaluated once per row
# no matter what Catalyst substitutes into the template.
_DSIR_BUCKET = (
    "aggregate(transform(split({col}, ''), c -> ascii(c)),"
    " CAST(7 AS BIGINT), (acc, c) -> (acc * 31 + c) % 1000003)"
    f" % {DSIR_BUCKETS}"
)

def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: rank the raw pool by hashed-bigram
    importance weight against a target-domain sample.

    The model pass aggregates the exploded bigram stream straight to
    (bucket, side) counts — 512 groups, so map-side partials reduce
    every partition to ≤512 rows before the only model exchange. The
    256-row log-ratio table is broadcast (constant size by
    construction — that is the point of the hashing); the scoring pass
    then joins the broadcast table into the SAME exploded stream and
    aggregates once on doc_id. The bigram stream is the session-cached
    text._bigram_relation: this plan references it twice (model +
    scoring), and uncached each reference re-ran the trap-22-class
    split-per-bigram explode; the target flag joins in from a 2-column
    documents projection (AQE broadcasts it). Weights are emitted as
    floor(w·10⁴ + 0.5) basis points: the per-bucket ratio is a single
    ln() expression with fixed operation order on integer counts, so
    cross-engine drift is ~1e-15 relative, far below the 1e-4 grid
    (trap 1).
    """
    from .text import _bigram_relation

    is_tgt = F.col("source").isin(*DSIR_TARGET_SOURCES)
    flags = io.load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", is_tgt.alias("tgt")
    )
    # CollapseProject inlines the bgs alias into the fold regardless of
    # how it's staged — safe because _DSIR_BUCKET references {col}
    # exactly once (see the template comment): the concat evaluates
    # once per bigram, not once per character
    bg = (
        _bigram_relation(spark, sf_dir)
        .select("doc_id", F.concat_ws("_", "w1", "w2").alias("bgs"))
        .select("doc_id", F.expr(_DSIR_BUCKET.format(col="bgs")).alias("b"))
        .join(flags, "doc_id")
    )
    sides = bg.groupBy("b").agg(
        F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("tc"),
        F.sum(F.when(~F.col("tgt"), 1).otherwise(0)).alias("rc"),
    )
    tots = sides.agg(
        F.sum("tc").alias("tt"), F.sum("rc").alias("rt")
    )
    lr = sides.crossJoin(F.broadcast(tots)).select(
        "b",
        F.log(
            (F.col("tc") + 1)
            / (F.col("tt") + DSIR_BUCKETS)
            / (F.col("rc") + 1)
            * (F.col("rt") + DSIR_BUCKETS)
        ).alias("lr"),
    )
    return (
        bg.filter(~F.col("tgt"))
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.floor(F.sum(F.col("lr")) * 10000 + F.lit(0.5))
            .cast("long")
            .alias("weight_bp"),
        )
        .orderBy(F.desc("weight_bp"), F.asc("doc_id"))
        .limit(DSIR_TOP)
    )


_DSIR_BUCKET_SQL = (
    "list_reduce(list_prepend(CAST(7 AS BIGINT),"
    " list_transform(range(1, length({col}) + 1),"
    " i -> CAST(ascii(substr({col}, i, 1)) AS BIGINT))),"
    " (acc, c) -> (acc * 31 + c) % 1000003)"
    f" % {DSIR_BUCKETS}"
)

DSIR_IMPORTANCE_SQL = f"""
WITH t AS (
  SELECT doc_id, source IN {DSIR_TARGET_SOURCES} AS tgt,
         string_split(text, ' ') AS a
  FROM documents
), bg AS (
  SELECT doc_id, tgt,
         unnest(list_transform(range(1, len(a)),
                               i -> concat(a[i], '_', a[i + 1]))) AS bgs
  FROM t
), bk AS (
  SELECT doc_id, tgt, {_DSIR_BUCKET_SQL.format(col='bgs')} AS b
  FROM bg
), sides AS (
  SELECT b,
         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tc,
         CAST(sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS BIGINT) AS rc
  FROM bk GROUP BY b
), tots AS (
  SELECT CAST(sum(tc) AS BIGINT) AS tt, CAST(sum(rc) AS BIGINT) AS rt
  FROM sides
), lr AS (
  SELECT b, ln((tc + 1) / CAST(tt + {DSIR_BUCKETS} AS DOUBLE)
               / (rc + 1) * (rt + {DSIR_BUCKETS})) AS lr
  FROM sides, tots
)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(floor(sum(lr) * 10000 + 0.5) AS BIGINT) AS weight_bp
FROM bk JOIN lr USING (b)
WHERE NOT tgt
GROUP BY doc_id
ORDER BY weight_bp DESC, doc_id ASC
LIMIT {DSIR_TOP}
"""


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split
# ---------------------------------------------------------------------------

# split thresholds on the 0-99 hash grid: 80/10/10
SPLIT_TRAIN_LT = 80
SPLIT_VAL_LT = 90


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-keyed train/val/test assignment: the split hash is
    computed from each document's NORMALIZED TEXT (lowercased,
    whitespace-collapsed), not its doc_id, so byte-duplicate documents
    can never straddle train and test — the leakage bug every naive
    id-hash split ships. Exact duplicates land in the same split by
    construction; pairing with the near-dup cluster relation
    (``dedup_neardup_clusters``) extends the guarantee to near-dups.

    The content key is a 31-bit polynomial char fold (portable LCG
    grid: both engines reproduce it digit-for-digit), mixed once more
    through :func:`portable.lcg31` before the 0-99 bucket so adjacent
    hashes decorrelate. At 100 TB this is a pure per-row projection —
    zero shuffles in the assignment itself; the summary rollup here
    (per split: docs, distinct contents, tokens) adds the one
    aggregate exchange. The scale path hashes the full text exactly
    like this; nothing is shipped or grouped by raw text.
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.expr(
            "regexp_replace(lower(coalesce(text, '')), '\\\\s+', ' ')"
        ).alias("s"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    # scalar-accumulator char fold (trap 18: struct folds are broken in
    # the oracle engine; scalar folds are exact on both). Empty text is
    # guarded: sequence(1, 0) DESCENDS in Spark (trap 12) while the
    # oracle's range(1, 1) is empty.
    h = F.expr(
        "CASE WHEN length(s) = 0 THEN CAST(7 AS BIGINT)"
        " ELSE aggregate(sequence(1, length(s)), CAST(7 AS BIGINT),"
        " (acc, i) -> (acc * 131 + ascii(substring(s, i, 1))) % 2147483648)"
        " END"
    )
    assigned = base.select(
        "doc_id",
        "n_tokens",
        portable.lcg31(h).alias("content_key"),
    ).select(
        "doc_id",
        "n_tokens",
        "content_key",
        F.when(F.col("content_key") % 100 < SPLIT_TRAIN_LT, "train")
        .when(F.col("content_key") % 100 < SPLIT_VAL_LT, "val")
        .otherwise("test")
        .alias("split"),
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("content_key").cast("long").alias("n_contents"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("split")
    )


LEAKAGE_SAFE_SPLIT_SQL = f"""
WITH base AS (
  SELECT doc_id,
         regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g') AS s,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
hashed AS (
  SELECT doc_id, n_tokens,
         {portable.lcg31_sql(
             "list_reduce(list_prepend(CAST(7 AS BIGINT),"
             " range(1, length(s) + 1)),"
             " (acc, i) -> (acc * 131 + ascii(substr(s, CAST(i AS INTEGER), 1)))"
             " % 2147483648)"
         )} AS content_key
  FROM base
),
assigned AS (
  SELECT doc_id, n_tokens, content_key,
         CASE WHEN content_key % 100 < {SPLIT_TRAIN_LT} THEN 'train'
              WHEN content_key % 100 < {SPLIT_VAL_LT} THEN 'val'
              ELSE 'test' END AS split
  FROM hashed
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT content_key) AS BIGINT) AS n_contents,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM assigned GROUP BY split
ORDER BY split
"""


# ---------------------------------------------------------------------------
# Per-source boilerplate prefix detection
# ---------------------------------------------------------------------------


def source_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest common prefix of every document within a source — the
    shared-template detector (scraped sites and form exports prepend
    identical headers; strip-before-train lists start here).

    Uses the order-statistics LCP identity: the common prefix of a
    string SET equals the common prefix of just its lexicographic MIN
    and MAX — so the whole corpus reduces with one plain min/max
    aggregate (map-side combined; the full text never shuffles beyond
    two exemplar rows per source), and only the per-source pair is
    char-compared. The char walk is a scalar running-match fold
    (trap 18: scalar accumulators only), stopped arithmetic-style at
    the first mismatch; empty strings are guarded (trap 12:
    ``sequence(1, 0)`` descends in Spark).
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    mm = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("text").alias("m1"),
        F.max("text").alias("m2"),
    )
    lcp_len = F.expr(
        "CASE WHEN least(length(m1), length(m2)) = 0 THEN CAST(0 AS BIGINT)"
        " ELSE aggregate(sequence(1, least(length(m1), length(m2))),"
        " CAST(0 AS BIGINT),"
        " (acc, i) -> CASE WHEN acc = i - 1"
        " AND substring(m1, i, 1) = substring(m2, i, 1)"
        " THEN acc + 1 ELSE acc END) END"
    )
    return (
        mm.withColumn("lcp_len", lcp_len)
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "lcp_len",
            F.expr("substring(m1, 1, least(CAST(lcp_len AS INT), 40))").alias(
                "lcp_prefix_40"
            ),
        )
        .orderBy("source")
    )


SOURCE_BOILERPLATE_SQL = """
WITH mm AS (
  SELECT source, count(*) AS n_docs, min(text) AS m1, max(text) AS m2
  FROM documents GROUP BY source
),
walked AS (
  SELECT source, n_docs,
         CASE WHEN least(length(m1), length(m2)) = 0 THEN CAST(0 AS BIGINT)
              ELSE list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                             range(1, least(length(m1), length(m2)) + 1)),
                (acc, i) -> CASE WHEN acc = i - 1
                            AND substr(m1, CAST(i AS INTEGER), 1)
                              = substr(m2, CAST(i AS INTEGER), 1)
                            THEN acc + 1 ELSE acc END) END AS lcp_len,
         m1
  FROM mm
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, lcp_len,
       substr(m1, 1, CAST(least(lcp_len, 40) AS INTEGER)) AS lcp_prefix_40
FROM walked
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Cross-source shingle overlap (corpus-level contamination matrix)
# ---------------------------------------------------------------------------


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair contamination matrix: distinct word-5-gram Jaccard
    between every pair of SOURCES — the corpus-level dual of the
    per-document dedup family (which crawl snapshots / dumps are
    near-copies of each other decides what to drop wholesale before
    any per-doc work).

    Shape: rides the session shingle cache; (source, shingle) distinct
    collapse, posting list per shingle over SOURCES (bounded by
    |sources|, so the in-array pair explode is |sources|²-bounded per
    key — no stop-shingle cap needed, unlike per-doc postings), one
    pair hash-agg, broadcast per-source totals. All exchanges carry
    8-byte shingle keys. Jaccard in integer bp (NOTES trap 1); hashed
    shingles vs the oracle's string shingles share counts modulo the
    standard ~|sh|²/2⁶⁴ collision risk the dedup family accepts.
    """
    sh = _hashed_shingles(spark, sf_dir)
    src = io.load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # ss is consumed twice (per-source totals + the posting lists);
    # Catalyst inlines each reference as its own subtree and AQE stage
    # reuse does not deduplicate copies rooted on a cached relation
    # (r9 diagnosis), so the join+distinct over the full shingle spine
    # ran TWICE per call. The lazy per-call localCheckpoint
    # materializes the distinct (source, h) relation — 2 narrow
    # columns — in the first consumer's job; the second reads stored
    # partitions. Alternating A-B at sf0.1: ~2x (1.08 -> 0.57 s
    # steady-state). No cross-run state: a fresh plan per invocation.
    ss = (
        sh.join(src, "doc_id")
        .select("source", "h")
        .distinct()
        .localCheckpoint(eager=False)
    )
    counts = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    posting = (
        ss.groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pairs = posting.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (x, i) ->"
                " transform(slice(srcs, i + 2, size(srcs)),"
                " y -> named_struct('a', x, 'b', y))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    inter = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_shared"))
    ca = counts.select(F.col("source").alias("a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("source").alias("b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .select(
            F.col("a").alias("src_a"),
            F.col("b").alias("src_b"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr("n_shared * 10000 div (n_a + n_b - n_shared)")
            .cast("long")
            .alias("jaccard_bp"),
        )
        .orderBy("src_a", "src_b")
    )


SOURCE_OVERLAP_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
ss AS (
  SELECT DISTINCT d.source, sh.shingle
  FROM sh JOIN documents d USING (doc_id)
),
counts AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
inter AS (
  SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_shared
  FROM ss x JOIN ss y ON x.shingle = y.shingle AND x.source < y.source
  GROUP BY 1, 2
)
SELECT src_a, src_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(ca.n AS BIGINT) AS n_a,
       CAST(cb.n AS BIGINT) AS n_b,
       CAST(n_shared * 10000 // (ca.n + cb.n - n_shared) AS BIGINT)
         AS jaccard_bp
FROM inter
JOIN counts ca ON ca.source = src_a
JOIN counts cb ON cb.source = src_b
ORDER BY src_a, src_b
"""


QUERIES = {
    "text_contamination_overlap": (contamination_overlap, CONTAMINATION_SQL),
    "text_unigram_logprob": (unigram_logprob, UNIGRAM_LOGPROB_SQL),
    "text_sequence_packing": (sequence_packing, SEQUENCE_PACKING_SQL),
    "text_gopher_quality_rules": (gopher_quality_rules, GOPHER_RULES_SQL),
    "text_stratified_reservoir": (stratified_reservoir, STRATIFIED_RESERVOIR_SQL),
    "text_weighted_sample": (weighted_sample, WEIGHTED_SAMPLE_SQL),
    "text_source_reputation": (source_reputation, SOURCE_REPUTATION_SQL),
    "text_pii_scrub": (pii_scrub, PII_SCRUB_SQL),
    "text_bigram_logprob": (bigram_logprob, BIGRAM_LOGPROB_SQL),
    "text_dsir_importance": (dsir_importance, DSIR_IMPORTANCE_SQL),
    "text_perplexity_buckets": (perplexity_buckets, PERPLEXITY_BUCKETS_SQL),
    "text_leakage_safe_split": (leakage_safe_split, LEAKAGE_SAFE_SPLIT_SQL),
    "text_source_boilerplate_prefix": (
        source_boilerplate_prefix,
        SOURCE_BOILERPLATE_SQL,
    ),
    "text_source_overlap": (source_overlap, SOURCE_OVERLAP_SQL),
}
