"""Model-style document scoring over `documents` (north-star tier).

Provenance: SURVEY.md §2 Tier B extension — the quality-classifier /
novelty / fingerprint trio every pretraining curation stack runs after
the rule-based filters (Gopher rules, reputation) and before sampling:

  hashed linear classifier — fastText-style inference: hashed unigram
      + bigram features, a deterministic weight table, averaged score.
      This is the shape of "run the quality classifier over the
      corpus": at 100 TB it is a PURE PER-ROW PROJECTION — zero
      shuffles, zero joins, the weight lookup is integer arithmetic
      inlined into codegen (a real model would broadcast its weight
      array; the plan shape is identical).
  n-gram novelty — fraction of a doc's distinct 5-gram shingles that
      appear in NO other document: the memorization/boilerplate signal
      dual to dedup (novelty 10000 bp = fully original; low novelty =
      template spam). Rides the session shingle cache; two 8-byte-key
      shuffles, one per-doc join.
  winnowing fingerprint — Schleimer/Wilkerson/Aiken MOSS winnowing:
      k-gram rolling hashes, window-min selection; the guarantee is
      any shared substring of length k+w-1 = 11 contributes a shared
      fingerprint. Per-row array lambdas only (no shuffle); the
      fingerprint SET is what a plagiarism/contamination index would
      invert. Digest/min/max/count outputs are order-independent, so
      the whole operator is exactly SQL-oracled.

All three are exact integer / fixed-point arithmetic end-to-end —
bit-reproducible across engines (NOTES traps 1, 9, 19 respected:
no float rounding at tie boundaries, no engine avg(), no bracket
indexing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io, portable
from ..artifacts import artifact
from .dedup import _hashed_shingles, _SHINGLES_SQL

# ---------------------------------------------------------------------------
# Hashed linear classifier (fastText-style inference)
# ---------------------------------------------------------------------------

CLS_P = 1_000_000_007  # polynomial-fold modulus (same as the CMS hash)
CLS_BUCKETS = 256  # feature-hash width
CLS_BIGRAM_MIX = 8_191  # combine adjacent token hashes into bigram features

# Deterministic weight for bucket b: LCG-mix the bucket id, map into
# [-1000, 1000] milli-units. A trained model would broadcast its weight
# vector; the deterministic table keeps the operator exactly oracled
# while exercising the identical plan shape (per-feature weight lookup
# folded into the row projection).
def _w_expr(engine_hash: str) -> str:
    """Weight-lookup text for a hash expression (identical both engines)."""
    bucket = f"(({engine_hash}) % {CLS_BUCKETS})"
    return f"(({portable.lcg31_sql(bucket)}) % 2001 - 1000)"


# ASCII-printable token filter: ascii()/codepoint arithmetic is only
# portable for single-byte chars, so non-ASCII tokens are excluded from
# the feature set (not from the doc) on BOTH engines.
# coalesce NULL text to '' (ADVICE r2 precedent: NULL text is an
# in-scope input) — '' splits to [''] which the 1+-char filter drops,
# so NULL and empty docs both land in the n_feats = 0 'empty' branch.
_CLS_TOKS_SPARK = "filter(split(coalesce(text, ''), ' '), t -> t rlike '^[ -~]+$')"
_CLS_TOKS_DUCK = (
    "list_filter(string_split(coalesce(text, ''), ' '),"
    " t -> regexp_matches(t, '^[ -~]+$'))"
)

_CLS_HASHES_SPARK = (
    f"transform({_CLS_TOKS_SPARK}, t -> aggregate(transform(split(t, ''),"
    f" c -> ascii(c)), 0L, (acc, x) -> (acc * 31 + x) % {CLS_P}))"
)
_CLS_HASHES_DUCK = (
    f"list_transform({_CLS_TOKS_DUCK}, t -> list_reduce(list_prepend("
    "CAST(0 AS BIGINT), list_transform(string_split(t, ''),"
    f" c -> CAST(ascii(c) AS BIGINT))), (acc, x) -> (acc * 31 + x) % {CLS_P}))"
)


def hashed_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style hashed linear classifier inference per document.

    Features: polynomial-31 token hashes (unigrams) plus combined
    adjacent-hash bigrams, each mapped to one of 256 buckets; the
    bucket weight is deterministic integer arithmetic. Score is the
    feature-averaged weight in milli-units; verdict thresholds at 0.

    Scale: per-row array lambdas only — the whole operator is one
    WholeStageCodegen projection over the scan, no exchange anywhere.
    A trained 2M-bucket model swaps the weight expression for a
    broadcast array lookup; nothing else changes.
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    uni_w = _w_expr("x")
    big_h = f"(a * {CLS_BIGRAM_MIX} + b) % {CLS_P}"
    hs = F.expr(_CLS_HASHES_SPARK)
    n_uni = F.size(hs)
    uni_sum = F.expr(
        f"aggregate({_CLS_HASHES_SPARK}, 0L, (acc, x) -> acc + {uni_w})"
    )
    # bigrams: zip the hash array with itself shifted by one; zip_with
    # pads the tail with NULL, which the CASE filters out — safe on
    # 0- and 1-token docs (NOTES trap 12: no descending sequence()).
    bi_pairs = (
        f"zip_with({_CLS_HASHES_SPARK}, slice({_CLS_HASHES_SPARK}, 2,"
        f" greatest(size({_CLS_HASHES_SPARK}), 1)),"
        " (a, b) -> CASE WHEN b IS NULL THEN NULL"
        f" ELSE {big_h} END)"
    )
    bi_hashes = f"filter({bi_pairs}, x -> x IS NOT NULL)"
    bi_sum = F.expr(f"aggregate({bi_hashes}, 0L, (acc, x) -> acc + {_w_expr('x')})")
    n_bi = F.expr(f"size({bi_hashes})")

    n_feats = (n_uni + n_bi).cast("long")
    score_sum = uni_sum + bi_sum
    score_milli = F.when(n_feats == 0, F.lit(0).cast("long")).otherwise(
        F.floor(score_sum.cast("double") / n_feats).cast("long")
    )
    return d.select(
        "doc_id",
        "lang",
        n_feats.alias("n_feats"),
        score_milli.alias("score_milli"),
        F.when(n_feats == 0, F.lit("empty"))
        .when(score_milli >= 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("verdict"),
    )


HASHED_LINEAR_CLASSIFIER_SQL = f"""
WITH feat AS (
  SELECT doc_id, lang, {_CLS_HASHES_DUCK} AS hs
  FROM documents
),
big AS (
  SELECT doc_id, lang, hs,
         CASE WHEN len(hs) >= 2 THEN
           list_transform(range(1, len(hs)),
             i -> (hs[i] * {CLS_BIGRAM_MIX} + hs[i + 1]) % {CLS_P})
         ELSE [] END AS bh
  FROM feat
),
scored AS (
  -- coalesce each side: DuckDB list_sum([]) is NULL, so a one-token
  -- doc (bh = []) would otherwise score NULL and force-'drop' while
  -- Spark's 0L-seeded aggregate computes a real score
  SELECT doc_id, lang,
         CAST(len(hs) + len(bh) AS BIGINT) AS n_feats,
         coalesce(list_sum(list_transform(hs, x -> {_w_expr('x')})), 0)
           + coalesce(list_sum(list_transform(bh, x -> {_w_expr('x')})), 0) AS s
  FROM big
)
SELECT doc_id, lang, n_feats,
       CASE WHEN n_feats = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(CAST(s AS DOUBLE) / n_feats) AS BIGINT)
       END AS score_milli,
       CASE WHEN n_feats = 0 THEN 'empty'
            WHEN floor(CAST(s AS DOUBLE) / n_feats) >= 0 THEN 'keep'
            ELSE 'drop' END AS verdict
FROM scored
"""


# ---------------------------------------------------------------------------
# N-gram novelty (corpus-uniqueness scoring)
# ---------------------------------------------------------------------------


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: share of its distinct 5-gram shingles
    found in no other document (basis points).

    Rides the session shingle cache (8-byte hashed keys). Shape: one
    groupBy on the shingle hash (cnt == 1 ⇒ the shingle's single
    posting names its only document), one per-doc count, one per-doc
    join back to the corpus — every exchange is keyed by an 8-byte
    hash or doc_id. Hash-collision risk is the standard accepted error
    of hashed-shingle dedup (same posture as dedup_ngram_jaccard).
    """
    sh = _hashed_shingles(spark, sf_dir)  # (doc_id, n_sh, h), distinct per doc
    uniq = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("doc_id").alias("only_doc"))
        .filter(F.col("cnt") == 1)
        .groupBy("only_doc")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .withColumnRenamed("only_doc", "doc_id")
    )
    totals = sh.select("doc_id", "n_sh").distinct()
    return (
        totals.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
            F.floor(
                F.lit(10000.0)
                * F.coalesce("n_unique", F.lit(0))
                / F.col("n_sh")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("novelty_bp"),
        )
    )


NGRAM_NOVELTY_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
uniq AS (
  SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS one
  FROM (SELECT shingle, min(doc_id) AS doc_id
        FROM sh GROUP BY shingle HAVING count(*) = 1)
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_sh,
       CAST(coalesce(u.one, 0) AS BIGINT) AS n_unique,
       CAST(floor(10000.0 * coalesce(u.one, 0) / t.n_sh + 0.5) AS BIGINT)
         AS novelty_bp
FROM tot t LEFT JOIN uniq u ON t.doc_id = u.doc_id
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------

WINNOW_K = 8  # char-gram length
WINNOW_W = 4  # winnowing window: guarantee threshold t = k + w - 1 = 11
WINNOW_B = 131  # polynomial base
WINNOW_M = 2_147_483_648  # 2^31

# gram hash at 1-based position i: explicit 8-term positional
# polynomial (no recurrence — every gram is independent, so the whole
# array is one parallel transform; max term sum ≈ 1e17, well inside
# BIGINT for ANSI mode).
# CAST each code point to BIGINT before the multiply: coefficients
# below 2^31 parse as INT literals, and ANSI INT×INT throws on the
# (frequent) 127 × 131^4 overflow instead of widening.
_GRAM_TERMS = " + ".join(
    f"CAST(ascii(substring(s, i + {j}, 1)) AS BIGINT)"
    f" * {WINNOW_B ** (WINNOW_K - 1 - j)}"
    for j in range(WINNOW_K)
)
_GRAM_TERMS_DUCK = " + ".join(
    f"CAST(ascii(substr(s, CAST(i + {j} AS INTEGER), 1)) AS BIGINT)"
    f" * {WINNOW_B ** (WINNOW_K - 1 - j)}"
    for j in range(WINNOW_K)
)


@artifact
def _winnow_sel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_grams, n_windows, fps): the per-document winnowing
    fingerprint sets — ONE builder feeding both the per-doc reductions
    (`text_winnow_fingerprint`) and the cross-document span matcher
    (`text_winnow_crossdoc`). A session artifact (same class as
    `_token_relation` / `_hashed_shingles`: at 100 TB the fingerprint
    index is materialized once per corpus snapshot and every consumer
    reads it).

    The cache is also a CORRECTNESS-OF-COST fence: without it,
    CollapseProject inlines the regexp normalization of `s` into every
    polynomial term of the gram-hash lambda, and on the explode path
    (crossdoc postings) the expression runs in interpreted eval with no
    CSE — the full-document regex re-executes 8 × n_grams times per
    row (observed: a single sf0.01 task pinned >10 min in
    RegExpReplace.nullSafeEval under BinaryArithmetic.eval).
    Materializing here evaluates the normalization exactly once per
    document."""
    d = io.load_table_parallel(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.expr(
            "regexp_replace(regexp_replace(lower(coalesce(text, '')),"
            " '[^ -~]', '?'), ' +', ' ')"
        ).alias("s"),
    )
    sized = base.select(
        "doc_id",
        "s",
        F.expr(f"greatest(length(s) - {WINNOW_K - 1}, 0)").alias("n_grams"),
    )
    hashed = sized.select(
        "doc_id",
        "n_grams",
        F.expr(f"greatest(n_grams - {WINNOW_W - 1}, 0)").alias("n_windows"),
        F.expr(
            f"CASE WHEN n_grams > 0 THEN transform(sequence(1, n_grams),"
            f" i -> ({_GRAM_TERMS}) % {WINNOW_M})"
            " ELSE array() END"
        ).alias("hs"),
    )
    from pyspark import StorageLevel

    sel = hashed.select(
        "doc_id",
        "n_grams",
        "n_windows",
        F.expr(
            "CASE WHEN n_windows > 0 THEN array_distinct("
            "transform(sequence(1, n_windows),"
            f" j -> array_min(slice(hs, j, {WINNOW_W}))))"
            " ELSE array() END"
        ).alias("fps"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sel.count()  # eager fill: trap 17 (AQE reads cache stats)
    return sel


def winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints per document.

    Lowercase, collapse whitespace, ASCII-sanitize (byte==char on both
    engines), then hash every 8-char gram with a positional polynomial
    and keep the minimum hash of every 4-gram window — any substring
    match of length ≥ 11 chars between two documents is guaranteed to
    share a fingerprint. Outputs are order-independent reductions of
    the fingerprint set (count / modular sum / min / max), so the
    operator is exactly oracled despite DuckDB's unordered
    list_distinct.

    Scale: pure per-row array lambdas — no exchange. The (doc_id,
    fingerprint) inverted index a contamination checker needs is one
    explode away and shuffles 8-byte keys.
    """
    sel = _winnow_sel(spark, sf_dir)
    return sel.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_windows").cast("long").alias("n_windows"),
        F.expr("CAST(size(fps) AS BIGINT)").alias("n_fp"),
        F.expr(
            f"aggregate(fps, 0L, (acc, x) -> (acc + x) % {WINNOW_M})"
        ).alias("fp_digest"),
        F.expr("coalesce(array_min(fps), -1L)").alias("fp_min"),
        F.expr("coalesce(array_max(fps), -1L)").alias("fp_max"),
    )


# The per-doc fingerprint chain of both winnowing oracles, as DuckDB
# CTEs ending in ``sel(doc_id, n_grams, n_windows, fps)``.
_WINNOW_SEL_CTES = f"""base AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(coalesce(text, '')),
                        '[^ -~]', '?', 'g'), ' +', ' ', 'g') AS s
  FROM documents
),
sized AS (
  SELECT doc_id, s, greatest(length(s) - {WINNOW_K - 1}, 0) AS n_grams
  FROM base
),
hashed AS (
  SELECT doc_id, n_grams, greatest(n_grams - {WINNOW_W - 1}, 0) AS n_windows,
         CASE WHEN n_grams > 0
              THEN list_transform(range(1, CAST(n_grams AS BIGINT) + 1),
                     i -> ({_GRAM_TERMS_DUCK}) % {WINNOW_M})
              ELSE [] END AS hs
  FROM sized
),
sel AS (
  SELECT doc_id, n_grams, n_windows,
         CASE WHEN n_windows > 0
              THEN list_distinct(list_transform(
                     range(1, CAST(n_windows AS BIGINT) + 1),
                     j -> list_aggregate(hs[CAST(j AS INTEGER):
                          CAST(j + {WINNOW_W - 1} AS INTEGER)], 'min')))
              ELSE [] END AS fps
  FROM hashed
)"""


WINNOW_FINGERPRINT_SQL = f"""
WITH {_WINNOW_SEL_CTES}
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_windows AS BIGINT) AS n_windows,
       CAST(len(fps) AS BIGINT) AS n_fp,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), fps),
                        (acc, x) -> (acc + x) % {WINNOW_M}) AS BIGINT)
         AS fp_digest,
       CAST(coalesce(list_aggregate(fps, 'min'), -1) AS BIGINT) AS fp_min,
       CAST(coalesce(list_aggregate(fps, 'max'), -1) AS BIGINT) AS fp_max
FROM sel
"""


# ---------------------------------------------------------------------------
# RAKE keyword extraction
# ---------------------------------------------------------------------------

RAKE_TOP = 20
# import, don't re-declare: a drifted copy would let RAKE and the
# text_* quality metrics disagree on what a stopword is
from .text import STOPWORDS as RAKE_STOPWORDS  # noqa: E402


def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction) over the corpus:
    candidate phrases are maximal token runs between stopwords; each
    word scores deg(w)/freq(w) (deg = Σ length of phrases containing
    it); a phrase scores the sum of its word scores; top-20 phrases.

    Exactness: word scores are pre-quantized to INTEGER micro-units
    ((deg·10⁶) div freq) so the per-phrase sum is an order-free BIGINT
    sum — summing float ratios in groupBy order would flap the ulp at
    rounding boundaries. Shape: positional token explode → one doc-keyed
    window pass (stopword prefix count = phrase id, phrase length) →
    vocabulary rollup → broadcast word-score join → phrase rollup →
    TakeOrderedAndProject. At 100 TB the vocabulary table follows the
    PMI posture (broadcast at fixture scale, shuffle-join fallback
    beyond broadcast limits); deg·10⁶ needs deg ≤ 9e12 — pre-divide
    deg by 1000 beyond that corpus size.
    """
    d = io.load_table_parallel(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias(
            "pos", "token"
        ),
    ).filter(F.col("token") != "")
    is_stop = F.col("token").isin(*RAKE_STOPWORDS)
    wpre = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = toks.select(
        "doc_id",
        "pos",
        "token",
        F.sum(is_stop.cast("long")).over(wpre).alias("pid"),
        is_stop.alias("stop"),
    )
    members = marked.filter(~F.col("stop")).drop("stop")
    wp = Window.partitionBy("doc_id", "pid")
    memlen = members.withColumn("plen", F.count(F.lit(1)).over(wp))
    wscore = (
        memlen.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
        .select("token", F.expr("deg * 1000000 div freq").alias("sw"))
    )
    phrases = (
        memlen.join(F.broadcast(wscore), "token")
        .groupBy("doc_id", "pid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
                "_",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
            F.sum("sw").alias("score_micro"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            # identical wherever the phrase occurs (word scores are
            # corpus-level and the length is the phrase's own)
            F.min("score_micro").alias("score_micro"),
            F.min("plen").alias("n_words"),
        )
        .orderBy(F.desc("score_micro"), F.asc("phrase"))
        .limit(RAKE_TOP)
    )


_RAKE_STOPLIST = ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)

RAKE_KEYWORDS_SQL = f"""
WITH ts AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts FROM documents
),
toks AS (
  SELECT doc_id, u.pos AS pos, u.tok AS token
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(ts) + 1),
                      i -> struct_pack(pos := i, tok := ts[i]))) AS u
        FROM ts)
  WHERE u.tok <> ''
),
marked AS (
  SELECT doc_id, pos, token,
         sum(CASE WHEN token IN ({_RAKE_STOPLIST}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
           AS pid
  FROM toks
),
members AS (
  SELECT doc_id, pos, token, pid FROM marked
  WHERE token NOT IN ({_RAKE_STOPLIST})
),
memlen AS (
  SELECT *, count(*) OVER (PARTITION BY doc_id, pid) AS plen FROM members
),
wscore AS (
  SELECT token,
         CAST(sum(plen) AS BIGINT) * 1000000 // count(*) AS sw
  FROM memlen GROUP BY token
),
phrases AS (
  SELECT m.doc_id, m.pid,
         string_agg(m.token, '_' ORDER BY m.pos) AS phrase,
         count(*) AS plen,
         CAST(sum(w.sw) AS BIGINT) AS score_micro
  FROM memlen m JOIN wscore w USING (token)
  GROUP BY m.doc_id, m.pid
)
SELECT phrase,
       count(*) AS n_occurrences,
       min(score_micro) AS score_micro,
       CAST(min(plen) AS BIGINT) AS n_words
FROM phrases GROUP BY phrase
ORDER BY score_micro DESC, phrase
LIMIT {RAKE_TOP}
"""


WINNOW_MIN_SHARED = 3  # shared fingerprints to call a cross-doc match
# Stop-fingerprint cap, deliberately TIGHT (not the dedup family's
# 1000): a fingerprint shared by more than this many docs is corpus
# boilerplate with no span-match signal, and the pair explode is
# quadratic per posting — on the shared-vocabulary fixture nearly
# every common-phrase fingerprint would otherwise post ~all docs and
# the explode goes O(|corpus|²). MOSS applies the same "too common to
# mean anything" drop.
WINNOW_MAX_POSTING = 32


def winnow_crossdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span matching over the winnowing index — the
    payoff query: document pairs sharing ≥ 3 fingerprints, i.e. at
    least ~3 distinct ≥11-char substrings in common. This is MOSS's
    plagiarism report / a contamination checker's span-level evidence,
    one step past set-level dedup.

    Shape: explode the per-doc fingerprint sets → posting lists per
    fingerprint (8-byte keys) → in-array pair explode per posting
    (never a posting self-join) with the same stop-fingerprint cap as
    the shingle dedup family (a boilerplate fingerprint shared by 10⁶
    docs must not emit 5·10¹¹ pairs) → one (lo, hi) hash aggregate.
    Exactly oracled — the fingerprint arithmetic is the shared
    positional polynomial, and pair order (lo < hi) is canonical.
    """
    sel = _winnow_sel(spark, sf_dir)
    postings = (
        sel.select("doc_id", F.explode("fps").alias("fp"))
        .groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(
            (F.size("ds") >= 2) & (F.size("ds") <= WINNOW_MAX_POSTING)
        )
    )
    pairs = postings.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) ->"
                " transform(slice(ds, i + 2, size(ds)),"
                " y -> named_struct('lo', x, 'hi', y))))"
            )
        ).alias("p")
    ).select("p.lo", "p.hi")
    return (
        pairs.groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= WINNOW_MIN_SHARED)
        .select(
            F.col("lo").alias("doc_lo"),
            F.col("hi").alias("doc_hi"),
            "n_shared_fp",
        )
        .orderBy("doc_lo", "doc_hi")
    )


WINNOW_CROSSDOC_SQL = f"""
WITH {_WINNOW_SEL_CTES},
postings AS (
  SELECT fp, list_sort(list(doc_id)) AS ds
  FROM (SELECT doc_id, unnest(fps) AS fp FROM sel)
  GROUP BY fp
  HAVING len(list(doc_id)) BETWEEN 2 AND {WINNOW_MAX_POSTING}
),
pairs AS (
  SELECT u.lo AS lo, u.hi AS hi
  FROM (SELECT unnest(flatten(list_transform(range(1, len(ds) + 1),
          i -> list_transform(ds[CAST(i + 1 AS INTEGER):],
               y -> struct_pack(lo := ds[CAST(i AS INTEGER)], hi := y))))) AS u
        FROM postings)
)
SELECT lo AS doc_lo, hi AS doc_hi, count(*) AS n_shared_fp
FROM pairs GROUP BY lo, hi
HAVING count(*) >= {WINNOW_MIN_SHARED}
ORDER BY doc_lo, doc_hi
"""


QUERIES = {
    "text_hashed_linear_classifier": (
        hashed_linear_classifier,
        HASHED_LINEAR_CLASSIFIER_SQL,
    ),
    "text_ngram_novelty": (ngram_novelty, NGRAM_NOVELTY_SQL),
    "text_winnow_fingerprint": (winnow_fingerprint, WINNOW_FINGERPRINT_SQL),
    "text_winnow_crossdoc": (winnow_crossdoc, WINNOW_CROSSDOC_SQL),
    "text_rake_keywords": (rake_keywords, RAKE_KEYWORDS_SQL),
}
