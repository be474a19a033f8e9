"""Invariant tests for the non-SQL-oracled LLM ops (rows-only for the
driver, but *not* unchecked — each has a ground-truth gate here)."""

from __future__ import annotations

import pytest
from conftest import SF_DIR


def test_minhash_lsh_matches_exact_jaccard(spark):
    """LSH-verified pairs ⊆ exact pairs; recall ≥ 0.9 (P(miss) ≈ 3e-4)."""
    from seamless_sharepoint_etl_spark.llm_ops import dedup

    exact = {
        (r["doc_lo"], r["doc_hi"])
        for r in dedup.ngram_jaccard_pairs(spark, SF_DIR).collect()
    }
    lsh = {
        (r["doc_lo"], r["doc_hi"])
        for r in dedup.minhash_lsh_pairs(spark, SF_DIR).collect()
    }
    assert exact, "no planted near-dups found — fixture assumption broken"
    assert lsh <= exact  # verification pass guarantees no false positives
    assert len(lsh) >= 0.9 * len(exact)


def test_simhash_hamming_close_for_neardups(spark):
    """Planted near-dup pairs (Jaccard ≥ 0.8) have small SimHash Hamming
    distance; random pairs average much larger."""
    from pyspark.sql import functions as F

    from seamless_sharepoint_etl_spark.llm_ops import dedup

    pairs = dedup.ngram_jaccard_pairs(spark, SF_DIR)
    sims = dedup.simhash_fingerprints(spark, SF_DIR)
    a = sims.select(
        F.col("doc_id").alias("doc_lo"), F.col("simhash32").alias("h_lo")
    )
    b = sims.select(
        F.col("doc_id").alias("doc_hi"), F.col("simhash32").alias("h_hi")
    )
    ham = F.bit_count(F.col("h_lo").bitwiseXOR(F.col("h_hi")))
    neardup_ham = (
        pairs.join(a, "doc_lo").join(b, "doc_hi").select(ham.alias("d")).collect()
    )
    assert neardup_ham
    avg_near = sum(r["d"] for r in neardup_ham) / len(neardup_ham)
    assert avg_near <= 6, f"near-dup avg hamming {avg_near} too large"


def test_ivf_recall_vs_brute_force(spark):
    """The fixture embeddings are near-uniform random directions, so on
    *arbitrary* top-10 neighbors no ANN beats the scan fraction
    (NPROBE/NLIST = 1/4). The gates:
      1. high-cosine neighbors (≥0.9 — the planted, retrievable
         structure) must be found with recall ≥ 0.9;
      2. overall recall must clear the scan-fraction floor.
    """
    from seamless_sharepoint_etl_spark.llm_ops import similarity

    truth_rows = similarity.brute_force_topk(spark, SF_DIR).collect()
    truth = {(r["query_id"], r["cand_id"]) for r in truth_rows}
    high = {
        (r["query_id"], r["cand_id"]) for r in truth_rows if r["cosine"] >= 0.9
    }
    approx = {
        (r["query_id"], r["cand_id"])
        for r in similarity.ivf_topk(spark, SF_DIR).collect()
    }
    assert truth
    if high:
        high_recall = len(high & approx) / len(high)
        assert high_recall >= 0.9, f"high-cos recall {high_recall:.3f} < 0.9"
    overall = len(truth & approx) / len(truth)
    floor = 0.5 * similarity.NPROBE / similarity.NLIST
    assert overall >= floor, f"overall recall {overall:.3f} < floor {floor}"


def test_approx_distinct_within_rsd(spark):
    """agg_approx_distinct (rows-only for the driver): HLL estimate is
    within 3×rsd of the exact count."""
    from pyspark.sql import functions as F

    from seamless_sharepoint_etl_spark import io
    from seamless_sharepoint_etl_spark.operators import aggregates

    approx = {
        r["l_returnflag"]: r["approx_orders"]
        for r in aggregates.approx_distinct(spark, SF_DIR).collect()
    }
    li = io.load_table(spark, SF_DIR, "lineitem")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) / v <= 0.06, (k, approx[k], v)


def test_neardup_clusters_partition_properties(spark):
    """CC output: every near-dup pair co-clustered; canonical = min id;
    members cover exactly the docs that appear in some pair."""
    from pyspark.sql import functions as F
    from seamless_sharepoint_etl_spark.llm_ops import dedup

    pairs = [
        (r["doc_lo"], r["doc_hi"])
        for r in dedup.ngram_jaccard_pairs(spark, SF_DIR).collect()
    ]
    clusters = dedup.neardup_clusters(spark, SF_DIR).collect()
    label_of = {}
    for c in clusters:
        members = [int(m) for m in c["members_joined"].split("|")]
        assert c["canonical_doc_id"] == min(members)
        assert c["cluster_size"] == len(members)
        for m in members:
            assert m not in label_of  # clusters are disjoint
            label_of[m] = c["canonical_doc_id"]
    paired_docs = {d for p in pairs for d in p}
    assert set(label_of) == paired_docs
    for lo, hi in pairs:
        assert label_of[lo] == label_of[hi]  # edges never cross clusters


def test_quantized_topk_agrees_with_float_ivf(spark):
    """IVF-routed int8 scoring: probes are shared with the float IVF
    path, so quantization is the only difference — per-query top-10
    overlap >= 0.9. Approx cosine stays within 0.02 of the exact value
    for every pair the exact brute force also ranks."""
    from seamless_sharepoint_etl_spark.llm_ops import similarity

    ivf = {}
    for r in similarity.ivf_topk(spark, SF_DIR).collect():
        ivf.setdefault(r["query_id"], set()).add(r["cand_id"])
    quant = {}
    for r in similarity.quantized_topk(spark, SF_DIR).collect():
        quant.setdefault(r["query_id"], {})[r["cand_id"]] = r["approx_cosine"]

    assert set(quant) == set(ivf)
    overlaps = [
        len(set(cands) & ivf[qid]) / len(ivf[qid]) for qid, cands in quant.items()
    ]
    assert sum(overlaps) / len(overlaps) >= 0.9, sorted(overlaps)[:5]

    exact = {}
    for r in similarity.brute_force_topk(spark, SF_DIR).collect():
        exact.setdefault(r["query_id"], {})[r["cand_id"]] = r["cosine"]
    for qid, cands in quant.items():
        for cid, acos in cands.items():
            if cid in exact.get(qid, {}):
                assert abs(acos - exact[qid][cid]) < 0.02, (qid, cid)


def test_minhash_mllib_recall_vs_exact(spark):
    """MLlib MinHashLSH variant: recall ≥ 0.8 vs exact Jaccard pairs
    (slightly looser than the hand-rolled gate — HashingTF collisions
    perturb the distance)."""
    from seamless_sharepoint_etl_spark.llm_ops import dedup

    exact = {
        (r["doc_lo"], r["doc_hi"])
        for r in dedup.ngram_jaccard_pairs(spark, SF_DIR).collect()
    }
    got = {
        (r["doc_lo"], r["doc_hi"])
        for r in dedup.minhash_lsh_mllib(spark, SF_DIR).collect()
    }
    assert exact, "fixture must contain planted near-dups"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, (recall, len(got), len(exact))


def test_text_ops_survive_degenerate_docs(spark, tmp_path):
    """1-token, empty, and NULL text must not kill the job: the round-1
    bigram/frame-sample expressions built sequence(1, size-1), which
    DESCENDS for size=1 and then indexes out of bounds. Real corpora
    always contain such rows even when fixtures don't."""
    import os

    import pandas as pd

    from seamless_sharepoint_etl_spark.llm_ops import multimodal, text

    d = str(tmp_path / "degenerate")
    os.makedirs(d)
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["solo", "", None, "two tokens"],
            "lang": ["en", "en", "en", "en"],
            "source": ["src0"] * 4,
            "n_chars": [4, 0, 0, 10],
        }
    ).to_parquet(os.path.join(d, "documents.parquet"))

    bigrams = {r["bigram"]: r["tf"] for r in text.bigram_tf(spark, d).collect()}
    assert bigrams == {"two_tokens": 1}

    checksums = {
        r["doc_id"]: r["byte_checksum"]
        for r in multimodal.frame_sample_checksum(spark, d).collect()
    }
    assert checksums[0] == ord("s")  # every-16th byte over 4 bytes = byte 1 only
    assert checksums[1] == 0  # empty payload -> 0, not an error
    assert checksums[2] == 0  # NULL payload -> 0
    assert checksums[3] == ord("t")  # 10 bytes -> byte 1 only

    # the rest of the text family also runs clean over the same rows
    text.fingerprint(spark, d).collect()
    text.token_stats(spark, d).collect()
    text.quality_score(spark, d).collect()


def _chain_docs_dir(tmp_path):
    """5 docs whose near-dup graph is a CHAIN 0-1-2-3-4: 64 unique base
    tokens (60 distinct 5-gram shingles), doc_i replaces the first i of
    5 positions spaced 10 apart. d = |i-j| replaced positions differ ->
    J = (60-5d)/(60+5d): d=1 -> 0.846 (edge), d=2 -> 0.714 (no edge)."""
    import os

    import pandas as pd

    base = [f"tok{t}" for t in range(64)]
    positions = [5, 15, 25, 35, 45]
    texts = []
    for i in range(5):
        toks = list(base)
        for k in range(i):
            toks[positions[k]] = f"alt{k}"
        texts.append(" ".join(toks))
    d = str(tmp_path / "chain")
    os.makedirs(d)
    pd.DataFrame(
        {
            "doc_id": list(range(5)),
            "text": texts,
            "lang": ["en"] * 5,
            "source": ["src0"] * 5,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(os.path.join(d, "documents.parquet"))
    return d


def test_neardup_chain_converges_to_one_cluster(spark, tmp_path):
    """Chain-shaped cluster of diameter 4: a fixed 3-round label
    propagation splits it (the round-1 bug); the fixpoint loop must
    return ONE cluster with canonical id 0."""
    from seamless_sharepoint_etl_spark.llm_ops import dedup

    d = _chain_docs_dir(tmp_path)
    pairs = {
        (r["doc_lo"], r["doc_hi"])
        for r in dedup.ngram_jaccard_pairs(spark, d).collect()
    }
    assert pairs == {(0, 1), (1, 2), (2, 3), (3, 4)}
    clusters = dedup.neardup_clusters(spark, d).collect()
    assert len(clusters) == 1
    assert clusters[0]["canonical_doc_id"] == 0
    assert clusters[0]["cluster_size"] == 5
    assert clusters[0]["members_joined"] == "0|1|2|3|4"


def test_posting_cap_drops_stop_shingles(spark, tmp_path, monkeypatch):
    """With MAX_POSTING below the fixture's posting sizes every shared
    shingle is a stop-shingle -> zero candidate pairs; the default cap
    leaves the exact result intact (covered by the oracle test)."""
    from seamless_sharepoint_etl_spark.llm_ops import dedup

    d = _chain_docs_dir(tmp_path)
    assert dedup.ngram_jaccard_pairs(spark, d).count() == 4
    monkeypatch.setattr(dedup, "MAX_POSTING", 1)
    assert dedup.ngram_jaccard_pairs(spark, d).count() == 0


def test_cdc_chunker_reassembles_and_clamps():
    """Chunks must tile the input exactly and respect min/max sizes;
    same input twice -> identical chunk list (no RNG state)."""
    from seamless_sharepoint_etl_spark.llm_ops import dedup

    data = ("the quick brown fox jumps over the lazy dog " * 40).encode()
    chunks = dedup.cdc_chunks(data)
    assert chunks == dedup.cdc_chunks(data)
    assert sum(ln for _o, ln, _h in chunks) == len(data)
    pos = 0
    for off, ln, _h in chunks:
        assert off == pos
        pos += ln
    for _off, ln, _h in chunks[:-1]:  # last chunk may be short
        assert dedup.CDC_MIN <= ln <= dedup.CDC_MAX
    assert dedup.cdc_chunks(b"") == []


def test_cdc_chunker_resynchronizes_after_edit():
    """The CDC property: an insertion near the start must leave the
    tail of the chunk sequence identical (fixed-size blocks would shift
    every boundary)."""
    from seamless_sharepoint_etl_spark.llm_ops import dedup

    base = ("alpha bravo charlie delta echo foxtrot golf hotel " * 30).encode()
    edited = base[:10] + b"INSERTED BYTES " + base[10:]
    h_base = [h for _o, _l, h in dedup.cdc_chunks(base)]
    h_edit = [h for _o, _l, h in dedup.cdc_chunks(edited)]
    # tails must re-align; require at least half the base chunks shared
    k = 0
    while k < min(len(h_base), len(h_edit)) and h_base[-1 - k] == h_edit[-1 - k]:
        k += 1
    assert k >= len(h_base) // 2, (k, len(h_base))


def test_cdc_chunk_stats_detects_shared_chunks(spark, tmp_path):
    """Two docs sharing a long identical middle must report shared
    chunks/bytes; a unique doc must report zero."""
    import pyspark.sql.types as T

    from seamless_sharepoint_etl_spark.llm_ops import dedup

    shared = "common payload segment " * 20
    rows = [
        (0, "head A " + shared + "tail A", "en", "s", 1),
        (1, "head B " + shared + "tail B", "en", "s", 1),
        (2, "entirely unrelated content " * 12, "en", "s", 1),
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    d = str(tmp_path / "docs")
    spark.createDataFrame(rows, schema).write.parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r for r in dedup.cdc_chunk_stats(spark, d).collect()}
    assert out[0]["n_shared_chunks"] > 0
    assert out[1]["shared_bytes"] > 0
    assert out[2]["n_shared_chunks"] == 0 and out[2]["shared_bytes"] == 0


def test_brp_lsh_recall_vs_brute_force(spark):
    """BucketedRandomProjectionLSH twin (SURVEY §2's named API): on
    unit vectors the euclidean threshold 1.25 covers every true top-10
    edge (10th-neighbor cos ≥ 0.24 → d ≤ 1.24), so recall should be
    near-exact; gate at 0.8 to absorb bucket-boundary effects."""
    from seamless_sharepoint_etl_spark.llm_ops import similarity

    truth = {
        (r["query_id"], r["cand_id"])
        for r in similarity.brute_force_topk(spark, SF_DIR).collect()
    }
    approx = {
        (r["query_id"], r["cand_id"])
        for r in similarity.brp_lsh_topk(spark, SF_DIR).collect()
    }
    assert truth
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.8, f"BRP-LSH recall {recall:.3f} < 0.8"


def test_curation_ops_survive_degenerate_docs(spark, tmp_path):
    """The curation family must tolerate 1-token, empty, and NULL text
    (the round-1 bigram trap: unguarded sequence(1, size-2) descends
    and indexes out of bounds on short docs)."""
    import os

    import pandas as pd

    from seamless_sharepoint_etl_spark.llm_ops import curation

    d = str(tmp_path / "degenerate")
    os.makedirs(d)
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["solo", "", None, "two tokens"],
            "lang": ["en", "en", "en", "en"],
            "source": ["src0"] * 4,
            "n_chars": [4, 0, 0, 10],
        }
    ).to_parquet(os.path.join(d, "documents.parquet"))

    gq = {r["doc_id"]: r for r in curation.gopher_quality_rules(spark, d).collect()}
    # 1-token doc: no trigrams (guarded to 0), run of 1 == whole doc
    assert gq[0]["dup_tri_bp"] == 0 and gq[0]["top_run_bp"] == 10000
    assert gq[3]["dup_word_bp"] == 0 and gq[3]["keep"] is False  # top_run 1/2
    # NULL text must not vanish from either engine's row set: the
    # oracle's `runs` CTE has no row for it (unnest of NULL), so only a
    # LEFT JOIN keeps the doc — pin both engines at 4 rows
    import duckdb

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(d, 'documents.parquet')}'"
    )
    oracle_ids = {r[0] for r in con.sql(curation.GOPHER_RULES_SQL).fetchall()}
    assert set(gq) == oracle_ids == {0, 1, 2, 3}

    pk = {r["doc_id"]: r for r in curation.sequence_packing(spark, d).collect()}
    assert pk[0]["offset"] == 0 and pk[0]["bins_spanned"] == 1

    # these must simply run clean over the same rows
    curation.unigram_logprob(spark, d).collect()
    curation.stratified_reservoir(spark, d).collect()
    curation.contamination_overlap(spark, d).collect()


def test_dictionary_spotting_is_a_real_aho_corasick(spark):
    """text_dictionary_spotting: (a) a hand vector pins the output
    links — 'scan' emits scan+can+an+a at one end position, 'the'
    emits the+he — i.e. nested patterns all fire (the property naive
    substring search shares but a broken failure chain loses);
    (b) 500 random strings over the dictionary alphabet match a
    brute-force position scan for every pattern (overlapping
    included); (c) corpus pass is deterministic."""
    import random

    from seamless_sharepoint_etl_spark.llm_ops import text as tx

    goto, fail, out = tx._ac_automaton(tx.SPOT_PATTERNS)
    n = len(tx.SPOT_PATTERNS)
    idx = {p: i for i, p in enumerate(tx.SPOT_PATTERNS)}

    c = tx._ac_count("scan", goto, fail, out, n)
    assert c[idx["scan"]] == 1 and c[idx["can"]] == 1
    assert c[idx["an"]] == 1 and c[idx["a"]] == 1
    c = tx._ac_count("the", goto, fail, out, n)
    assert c[idx["the"]] == 1 and c[idx["he"]] == 1
    c = tx._ac_count("window order", goto, fail, out, n)
    assert c[idx["window"]] == 1 and c[idx["win"]] == 1
    assert c[idx["order"]] == 1 and c[idx["rde"]] == 1 and c[idx["or"]] == 1
    c = tx._ac_count("sort or", goto, fail, out, n)
    assert c[idx["sort"]] == 1 and c[idx["or"]] == 2

    random.seed(5)
    for _ in range(500):
        s = "".join(
            random.choice("athencsorwidbky ")
            for _ in range(random.randint(0, 120))
        )
        got = tx._ac_count(s, goto, fail, out, n)
        ref = [
            sum(1 for i in range(len(s) - len(p) + 1) if s[i : i + len(p)] == p)
            for p in tx.SPOT_PATTERNS
        ]
        assert got == ref

    rows = tx.dictionary_spotting(spark, SF_DIR).collect()
    assert rows and all(r["n_hits"] >= r["best_count"] >= 0 for r in rows)
    again = tx.dictionary_spotting(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_heavy_hitters_mg_guarantee(spark):
    """text_heavy_hitters: (a) the output equals the exact GROUP
    BY/HAVING answer (the sketch only prunes, never decides); (b) the
    Misra–Gries completeness theorem holds adversarially — on a
    skew+noise stream in sorted AND shuffled order, every token with
    count·K > N survives the capacity-K batched merge; (c) summaries
    respect the K-size bound."""
    from collections import Counter

    import duckdb
    import numpy as np

    from seamless_sharepoint_etl_spark.llm_ops import text as tx

    # (a) exact-vs-oracle on the real corpus
    got = [
        (r["token"], r["cnt"])
        for r in tx.heavy_hitters(spark, SF_DIR).collect()
    ]
    ref = duckdb.sql(
        f"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
                       FROM read_parquet('{SF_DIR}/documents.parquet')),
                n AS (SELECT count(*) AS nt FROM t)
            SELECT token, count(*) AS cnt FROM t, n
            GROUP BY token, nt HAVING count(*) * {tx.HH_K} > nt
            ORDER BY cnt DESC, token"""
    ).fetchall()
    assert got == [(t, c) for t, c in ref] and len(got) > 0

    # (b)+(c) adversarial synthetic stream through the same merge step
    def mg_candidates(stream, k):
        summary: Counter = Counter()
        for i in range(0, len(stream), 97):  # odd batch size
            summary.update(Counter(stream[i : i + 97]))
            if len(summary) > k:
                kth = sorted(summary.values(), reverse=True)[k]
                summary = Counter(
                    {t: c - kth for t, c in summary.items() if c > kth}
                )
            assert len(summary) <= k
        return set(summary)

    rng = np.random.RandomState(3)
    heavy = [f"h{i}" for i in range(5)]
    stream = heavy * 400 + [f"n{i}" for i in range(3000)]
    n = len(stream)
    k = 50
    true_hh = {t for t, c in Counter(stream).items() if c * k > n}
    assert true_hh == set(heavy)
    for order in (stream, list(rng.permutation(stream))):
        cands = mg_candidates(order, k)
        assert true_hh <= cands, "MG completeness violated"


def test_logprob_fxlog2_metric_tracks_libm_ln(spark):
    """The unigram/bigram nll_bp metric is DEFINED as the portable
    fxlog2 algorithm (bit-identical across engines by construction —
    the round-8 port off libm ln). Sanity-pin that the fixed-point
    metric tracks an independent float64 libm computation within 2
    basis points on the real corpus, so the port changed rounding, not
    meaning."""
    import math
    from collections import Counter

    import duckdb

    from seamless_sharepoint_etl_spark.llm_ops import curation

    rows = {
        r["doc_id"]: r
        for r in curation.unigram_logprob(spark, SF_DIR).collect()
    }
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    vocab: Counter = Counter()
    per_doc: dict = {}
    for doc_id, text in docs:
        toks = [t for t in (text or "").split(" ") if True]
        per_doc[doc_id] = toks
        vocab.update(toks)
    g_total = sum(vocab.values())
    checked = 0
    for doc_id, toks in per_doc.items():
        if doc_id not in rows or not toks:
            continue
        ref = sum(-math.log(vocab[t] / g_total) for t in toks) / len(toks)
        ref_bp = ref * 10000
        assert abs(rows[doc_id]["nll_bp"] - ref_bp) <= 2.0, (
            f"doc {doc_id}: fx={rows[doc_id]['nll_bp']} libm={ref_bp:.2f}"
        )
        checked += 1
    assert checked >= 100


def test_semantic_dedup_prunes_only_true_neardups(spark):
    """SemDeDup gate: (a) every pruned vector has an exact-cosine
    near-dup partner (prune ⊆ truth — the IVF blocking must never
    invent a duplicate); (b) the representative is a lower id in the
    same cluster; (c) kept+pruned partitions the table."""
    from seamless_sharepoint_etl_spark.llm_ops import similarity

    truth_pairs = {
        (r["id_lo"], r["id_hi"])
        for r in similarity.embedding_neardup(spark, SF_DIR).collect()
    }
    rows = similarity.semantic_dedup(spark, SF_DIR).collect()
    by_id = {r["vec_id"]: r for r in rows}
    pruned = [r for r in rows if not r["kept"]]
    assert len(rows) == len(by_id)  # one row per vector
    for r in pruned:
        assert r["rep_id"] < r["vec_id"]
        assert (r["rep_id"], r["vec_id"]) in truth_pairs, (
            f"pruned {r['vec_id']} against {r['rep_id']} but exact cosine "
            "is below threshold"
        )
        assert by_id[r["rep_id"]]["bucket"] == r["bucket"]
    for r in rows:
        if r["kept"]:
            assert r["rep_id"] == r["vec_id"]


def test_pii_scrub_redacts_injected_pii(spark, tmp_path):
    """Fixture text carries no PII, so the oracle row only proves
    plumbing; semantics are proven here on injected strings."""
    import os

    import pandas as pd

    from seamless_sharepoint_etl_spark.llm_ops import curation

    texts = [
        "contact bob.smith+spam@example.co.uk for details",
        "server at 192.168.1.254 answered",
        "call 555-867-5309 or 555 867 5309 today",
        "clean document with no identifiers at all",
    ]
    d = str(tmp_path / "pii")
    os.makedirs(d)
    pd.DataFrame(
        {
            "doc_id": list(range(4)),
            "text": texts,
            "lang": ["en"] * 4,
            "source": ["src0"] * 4,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(os.path.join(d, "documents.parquet"))

    out = {r["doc_id"]: r for r in curation.pii_scrub(spark, d).collect()}
    assert out[0]["n_emails"] == 1
    assert out[0]["redacted_len"] == len("contact <EMAIL> for details")
    assert out[1]["n_ips"] == 1
    assert out[1]["redacted_len"] == len("server at <IP> answered")
    assert out[2]["n_phones"] == 2
    assert out[2]["redacted_len"] == len("call <PHONE> or <PHONE> today")
    assert out[3]["n_emails"] == out[3]["n_ips"] == out[3]["n_phones"] == 0
    assert out[3]["redacted_len"] == len(texts[3])


def test_centroid_purity_partitions_and_bounds(spark):
    """Purity rows partition the embedding table (sizes sum to N), the
    majority fraction is a valid basis-point value, and repeated runs
    are identical (seed-free k-means)."""
    from seamless_sharepoint_etl_spark.llm_ops import similarity

    rows = similarity.centroid_purity(spark, SF_DIR).collect()
    n_total = (
        similarity.io.load_table(spark, SF_DIR, "embeddings").count()
    )
    assert sum(r["n_vecs"] for r in rows) == n_total
    for r in rows:
        # majority fraction of a non-empty cluster: (1/n, 1] in bp
        assert 0 < r["purity_bp"] <= 10000
    again = similarity.centroid_purity(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pagerank_mass_determinism_and_chain_shape(spark, tmp_path):
    """PageRank gates on the integer kernel: (a) rank mass is conserved
    up to integer division (within N·PR_ITERS ppm of N·10⁶); (b) reruns
    are identical; (c) on the chain 0-1-2-3-4 the interior nodes
    out-rank the endpoints (more corroborating neighbors) and the ranks
    are symmetric."""
    from seamless_sharepoint_etl_spark.llm_ops import dedup
    from seamless_sharepoint_etl_spark.operators import iterative

    d = _chain_docs_dir(tmp_path)

    def ranks():
        rows = dedup.neardup_pagerank(spark, d).collect()
        return {r["v"]: r["pagerank_ppm"] for r in rows}

    rows = ranks()
    assert set(rows) == {0, 1, 2, 3, 4}
    assert 0 <= 5 * 10**6 - sum(rows.values()) <= 5 * iterative.PR_ITERS
    assert rows == ranks()
    # chain: endpoints have 1 neighbor, interior 2 → strictly lower rank
    assert rows[0] < rows[1] and rows[4] < rows[3]
    assert rows[0] == rows[4] and rows[1] == rows[3]  # symmetry


def test_phash_neardup_equals_brute_force(spark):
    """Banded blocking is EXACT for Hamming <= BANDS-1 (pigeonhole), so
    the blocked pair set must equal the brute-force pair set — recall
    1.0 and precision 1.0, not a sampled bound."""
    from seamless_sharepoint_etl_spark.llm_ops import multimodal

    sigs = {
        r["doc_id"]: r["phash"]
        for r in multimodal.phash_signatures(spark, SF_DIR).collect()
    }
    assert len(sigs) == 500
    ids = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
        <= multimodal.PHASH_MAX_HAMMING
    }
    blocked = {
        (r["doc_lo"], r["doc_hi"])
        for r in multimodal.phash_neardup(spark, SF_DIR).collect()
    }
    assert brute, "no phash near-dups in fixture — assumption broken"
    assert blocked == brute


def test_mmr_diversify_properties(spark):
    """MMR gates: per-query top-1 equals the relevance top-1; picked set
    is a subset of the relevance pool; the MMR set is strictly more
    diverse (lower mean pairwise cosine) than plain top-k whenever the
    two sets differ; two runs are identical (determinism)."""
    import numpy as np

    from seamless_sharepoint_etl_spark import io as engine_io
    from seamless_sharepoint_etl_spark.llm_ops import similarity as sim

    mmr = sim.mmr_diversify(spark, SF_DIR).collect()
    assert mmr, "MMR returned nothing"
    brute = sim.brute_force_topk(spark, SF_DIR).collect()
    topk = {}
    for r in brute:
        topk.setdefault(r["query_id"], []).append((r["rank"], r["cand_id"]))
    picked = {}
    for r in mmr:
        picked.setdefault(r["query_id"], []).append((r["position"], r["cand_id"]))

    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in engine_io.load_table(spark, SF_DIR, "embeddings").collect()
    }

    def mean_pairwise_cos(ids):
        u = [vecs[i] / np.linalg.norm(vecs[i]) for i in ids]
        return float(
            np.mean([u[i] @ u[j] for i in range(len(u)) for j in range(i + 1, len(u))])
        )

    diverged = 0
    for qid, sel in picked.items():
        sel_ids = [c for _, c in sorted(sel)]
        top_ids = [c for _, c in sorted(topk[qid])][: len(sel_ids)]
        assert len(sel_ids) == sim.MMR_K
        assert sel_ids[0] == top_ids[0]  # first pick = top relevance
        pool_ids = {c for _, c in sorted(topk[qid])[: sim.MMR_POOL]}
        # brute_force_topk only materializes TOP_K=10 of the 20-pool;
        # check containment against what we can see
        assert set(sel_ids[:1]) <= pool_ids
        if set(sel_ids) != set(top_ids):
            diverged += 1
            assert mean_pairwise_cos(sel_ids) <= mean_pairwise_cos(top_ids) + 1e-9
    assert diverged > 0, "MMR never diverged from plain top-k — lambda too high"

    again = sim.mmr_diversify(spark, SF_DIR).collect()
    assert sorted(map(tuple, mmr)) == sorted(map(tuple, again))


def test_bloom_incremental_no_false_negatives_and_fp_bound(spark):
    """Bloom internals for dedup_bloom_incremental: every true dup in the
    new batch is a bloom candidate (no false negatives — the filter can
    only over-approximate), and the candidate overshoot beyond true dups
    stays under the m/n sizing's expected FP envelope."""
    from pyspark.sql import functions as F

    from seamless_sharepoint_etl_spark import io
    from seamless_sharepoint_etl_spark.llm_ops import dedup
    from seamless_sharepoint_etl_spark.operators import bloom

    d = io.load_table_parallel(spark, SF_DIR, "documents")
    norm = d.select("doc_id", dedup._norm_text().alias("k"))
    hist = norm.filter(F.col("doc_id") % 2 == 0)
    new = norm.filter(F.col("doc_id") % 3 == 0)

    bitmap = bloom.bloom_bitmap(hist, "k", dedup.INCR_M_BITS, dedup.INCR_H)
    cand = {
        r["doc_id"]
        for r in new.join(F.broadcast(bitmap))
        .filter(bloom.bloom_hit("k", dedup.INCR_M_BITS, dedup.INCR_H))
        .select("doc_id")
        .collect()
    }
    true_dups = {
        r["doc_id"]
        for r in new.join(hist.select("k"), "k", "left_semi").select("doc_id").collect()
    }
    n_new = new.count()

    assert true_dups, "fixture has no cross-split exact dups — gate is vacuous"
    assert true_dups <= cand  # no false negatives, ever
    # FP envelope: with n_hist keys in m bits and H hashes the per-key
    # FP rate is (1 - e^{-H·n/m})^H; allow 5× slack over the expectation
    import math

    n_hist = hist.select("k").distinct().count()
    fp_rate = (1 - math.exp(-dedup.INCR_H * n_hist / dedup.INCR_M_BITS)) ** dedup.INCR_H
    allowed = len(true_dups) + max(5, 5 * fp_rate * n_new)
    assert len(cand) <= allowed, (len(cand), len(true_dups), fp_rate, n_new)

    # and the oracle-facing result equals the exact semi-join answer
    got = {r["doc_id"] for r in dedup.bloom_incremental_dedup(spark, SF_DIR).collect()}
    assert got == true_dups


def test_pq_topk_recall_and_reconstruction(spark):
    """PQ/ADC gates: (1) codes actually compress — reconstruction error
    clearly below the zero-codebook baseline (ratio 1.0); (2) retrieval
    through 4-bit codes still clears a floor on arbitrary neighbors and
    finds the planted high-cosine structure; (3) deterministic."""
    from pyspark.sql import functions as F

    from seamless_sharepoint_etl_spark import io
    from seamless_sharepoint_etl_spark.llm_ops import similarity as sim

    res = sim.pq_topk(spark, SF_DIR).collect()
    truth_rows = sim.brute_force_topk(spark, SF_DIR).collect()
    truth = {(r["query_id"], r["cand_id"]) for r in truth_rows}
    high = {(r["query_id"], r["cand_id"]) for r in truth_rows if r["cosine"] >= 0.9}
    approx = {(r["query_id"], r["cand_id"]) for r in res}
    assert truth
    per_q = {}
    for r in res:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    if high:
        assert len(high & approx) / len(high) >= 0.8
    # PQ ranks through lossy codes on near-uniform vectors: grant it
    # half the float-IVF scan-fraction floor
    assert len(truth & approx) / len(truth) >= 0.25 * sim.NPROBE / sim.NLIST

    codes, cent, _cnorm, _pmeta = sim._pq_index(spark, SF_DIR)
    v = io.load_table_parallel(spark, SF_DIR, "embeddings").select(
        "vec_id", sim._dbl("embedding").alias("v")
    )
    sub = sim._subvectors(v, "vec_id", "v")
    rec = (
        sub.join(codes, ["vec_id", "m"])
        .join(cent.select("m", "code", "cv"), ["m", "code"])
        .select(
            sim._l2sq(F.col("sv"), F.col("cv")).alias("e2"),
            F.aggregate(F.col("sv"), F.lit(0.0), lambda a, x: a + x * x).alias("n2"),
        )
        .agg(F.sum("e2").alias("E"), F.sum("n2").alias("N"))
        .collect()[0]
    )
    assert rec["E"] / rec["N"] < 0.75, rec

    again = sim.pq_topk(spark, SF_DIR).collect()
    assert sorted(map(tuple, res)) == sorted(map(tuple, again))


def test_bpe_tokenize_lossless_and_subword(spark):
    """BPE gates: the merge table reproduces text losslessly
    (token concat == word + EOW marker), the encoding is genuinely
    sub-word on this corpus (1 < tokens/word < chars/word), and two
    runs are identical."""
    from seamless_sharepoint_etl_spark import io
    from seamless_sharepoint_etl_spark.llm_ops import text as T

    merges = T._bpe_merges(spark, SF_DIR)
    assert len(merges) == T.BPE_N_MERGES
    ranks = {m: i for i, m in enumerate(merges)}
    words = [
        r["text"].split(" ")[0]
        for r in io.load_table(spark, SF_DIR, "documents").limit(50).collect()
        if r["text"]
    ]
    assert words
    for w in words:
        syms = T._bpe_encode_word(w, ranks)
        assert "".join(syms) == w + T.BPE_EOW

    rows = T.bpe_tokenize_stats(spark, SF_DIR).collect()
    nb = sum(r["n_bpe_tokens"] for r in rows)
    nw = sum(r["n_words"] for r in rows)
    nc = sum(r["n_chars"] for r in rows)
    assert nw < nb < nc, (nw, nb, nc)  # sub-word: between words and chars
    for r in rows:
        assert r["n_bpe_tokens"] >= r["n_words"]

    again = T.bpe_tokenize_stats(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_rerank_two_stage_beats_pq_alone(spark):
    """Two-stage gates: reranked results within IVF-probed buckets are
    EXACT (any pair both stages return agrees with brute-force cosine
    ordering), recall >= PQ-alone recall, and the high-cosine planted
    structure survives with recall >= 0.9."""
    from seamless_sharepoint_etl_spark.llm_ops import similarity as sim

    truth_rows = sim.brute_force_topk(spark, SF_DIR).collect()
    truth = {(r["query_id"], r["cand_id"]) for r in truth_rows}
    high = {(r["query_id"], r["cand_id"]) for r in truth_rows if r["cosine"] >= 0.9}
    rr = sim.rerank_two_stage(spark, SF_DIR).collect()
    rr_pairs = {(r["query_id"], r["cand_id"]) for r in rr}
    pq_pairs = {
        (r["query_id"], r["cand_id"]) for r in sim.pq_topk(spark, SF_DIR).collect()
    }
    assert truth
    rr_recall = len(truth & rr_pairs) / len(truth)
    pq_recall = len(truth & pq_pairs) / len(truth)
    assert rr_recall >= pq_recall, (rr_recall, pq_recall)
    if high:
        assert len(high & rr_pairs) / len(high) >= 0.9
    # exactness within the shortlist: the reranked cosine equals the
    # brute-force cosine for every pair both return
    bf_cos = {(r["query_id"], r["cand_id"]): r["cosine"] for r in truth_rows}
    for r in rr:
        k = (r["query_id"], r["cand_id"])
        if k in bf_cos:
            assert abs(r["cosine"] - bf_cos[k]) < 1e-9


def test_ppm_decode_is_a_real_image_pipeline(spark):
    """The PPM path decodes real images: every payload is a valid P6
    file a reference parser accepts; a constant-color crafted image
    decodes to exactly that color; the corpus pass is deterministic."""
    import numpy as np

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    # payloads are valid P6: re-parse one with an independent reader
    row = mm.payload(spark, SF_DIR, "ppm").limit(1).collect()[0]
    buf = bytes(row["payload"])
    assert buf.startswith(b"P6\n")
    header, rest = buf.split(b"\n", 1)
    dims, rest = rest.split(b"\n", 1)
    maxval, pixels = rest.split(b"\n", 1)
    w, h = map(int, dims.split())
    assert (w, h) == (mm.PPM_W, mm.PPM_H) and int(maxval) == 255
    assert len(pixels) == w * h * 3

    rows = mm.decode_features(spark, SF_DIR, "ppm").collect()
    assert len(rows) == mm.payload(spark, SF_DIR, "ppm").count()
    for r in rows[:5]:
        assert (r["width"], r["height"]) == (mm.PPM_W, mm.PPM_H)
        for c in ("r_mean_milli", "g_mean_milli", "b_mean_milli"):
            assert 0 <= r[c] <= 255_000

    again = mm.decode_features(spark, SF_DIR, "ppm").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    # crafted constant image through the codec: constant color in →
    # exactly that color out
    ppm = mm.CODECS["ppm"]
    img = np.full((mm.PPM_H, mm.PPM_W, 3), 77, np.uint8)
    stats = ppm.stats(ppm.decode(ppm.encode([img.tobytes()])))
    assert [int(stats[c][0]) for c in ("r_mean_milli", "g_mean_milli", "b_mean_milli")] == [77000] * 3


def test_wav_decode_is_a_real_audio_pipeline(spark):
    """WAV payloads are valid RIFF files (independent struct re-parse),
    a crafted constant-tone decodes to its exact RMS/peak, corpus pass
    deterministic."""
    import struct

    import numpy as np

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    row = mm.payload(spark, SF_DIR, "wav").limit(1).collect()[0]
    buf = bytes(row["payload"])
    assert buf[0:4] == b"RIFF" and buf[8:12] == b"WAVE" and buf[36:40] == b"data"
    fmt, nch, rate = struct.unpack("<HHI", buf[20:28])
    assert (fmt, nch, rate) == (1, 1, mm.WAV_RATE)
    (data_len,) = struct.unpack("<I", buf[40:44])
    assert data_len == mm.WAV_N_SAMPLES * 2 == len(buf) - 44

    rows = mm.decode_features(spark, SF_DIR, "wav").collect()
    assert len(rows) == mm.payload(spark, SF_DIR, "wav").count()
    again = mm.decode_features(spark, SF_DIR, "wav").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    # crafted constant signal through the codec
    wav = mm.CODECS["wav"]
    tone = np.full(mm.WAV_N_SAMPLES, 1234, np.int16)
    stats = wav.stats(wav.decode(wav.encode([tone.tobytes()])))
    assert (stats["rms"][0], stats["peak"][0], stats["floor_s"][0]) == (1234,) * 3


def test_wav_mean_milli_uses_floor_division_semantics():
    """Trap-30 regression (r8 repo-wide audit): the kernel's numpy //
    FLOORS while DuckDB's // TRUNCATES toward zero, and WAV samples CAN
    go negative (a multibyte UTF-8 document puts a >=0x80 byte in the
    high sample byte). The oracle must therefore use the explicit
    floor() form — a negative-sum clip is the differential."""
    import duckdb
    import numpy as np

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    s = np.array([-5, -6, 4], dtype=np.int64)  # sum=-7: not a multiple of 3
    kernel = int((s.sum() * 1000) // s.size)  # numpy floors: -2334
    trunc = duckdb.sql("SELECT CAST(-7000 AS BIGINT) // 3").fetchone()[0]
    floored = duckdb.sql(
        "SELECT CAST(floor(CAST(-7000 AS DOUBLE) / 3) AS BIGINT)"
    ).fetchone()[0]
    assert kernel == floored == -2334
    assert trunc == -2333  # the divergence the audit closes
    assert "floor(CAST(sum(v) AS DOUBLE) * 1000" in mm.WAV_DECODE_SQL, (
        "WAV oracle mean_milli must use the floor() form, not //"
    )


def test_mulaw_decode_is_a_real_g711_codec(spark):
    """The G.711 mu-law path is a REAL compressed-audio codec, proven
    fixture-independently: (a) the decode LUT round-trips through an
    INDEPENDENT segment-search encoder (the classic linear->mu-law
    algorithm, written here from the spec, not shared with the
    decoder) for all 256 codewords; (b) spec anchor values hold
    (0x00 -> -32124, 0x80 -> +32124, both zero codes -> 0); (c) the
    law is strictly monotonic within each sign half; (d) payloads are
    valid fmt-7 RIFF files with the fact chunk non-PCM WAVE requires;
    (e) a crafted all-0x00 clip decodes to exactly -32124 everywhere."""
    import struct

    import numpy as np

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    lut = mm._mulaw_decode_table()
    assert lut[0x00] == -32124 and lut[0x80] == 32124
    assert lut[0xFF] == 0 and lut[0x7F] == 0

    def encode(pcm: int) -> int:  # independent spec-literal encoder
        bias, clip = 0x84, 32635
        sign = 0x80 if pcm < 0 else 0
        mag = min(-pcm if pcm < 0 else pcm, clip) + bias
        seg = next(s for s in range(8) if mag <= (0xFF << s))
        return (~(sign | (seg << 4) | ((mag >> (seg + 3)) & 0x0F))) & 0xFF

    bad = [c for c in range(256) if encode(int(lut[c])) != c]
    # 0x7F is mu-law's negative zero: decodes to 0, which re-encodes
    # to the positive-zero code — the one lawful non-round-tripper
    assert bad in ([], [0x7F]), bad
    assert (np.diff(lut[np.arange(0x00, 0x80)]) > 0).all()
    assert (np.diff(lut[np.arange(0x80, 0x100)]) < 0).all()

    row = mm.payload(spark, SF_DIR, "mulaw").limit(1).collect()[0]
    buf = bytes(row["payload"])
    assert buf[0:4] == b"RIFF" and buf[8:12] == b"WAVE"
    fmt, nch, rate = struct.unpack("<HHI", buf[20:28])
    assert (fmt, nch, rate) == (mm._MULAW_FMT, 1, mm.MULAW_RATE)
    assert buf[36:40] == b"fact" and buf[48:52] == b"data"
    (data_len,) = struct.unpack("<I", buf[52:56])
    assert data_len == mm.MULAW_N_SAMPLES == len(buf) - 56

    # crafted clip: every codeword 0x00 -> every sample is the spec
    # maximum-magnitude negative value
    mulaw = mm.CODECS["mulaw"]
    s = mulaw.decode(mulaw.encode([bytes(mm.MULAW_N_SAMPLES)]))
    assert int(s.max()) == int(s.min()) == -32124

    rows = mm.decode_features(spark, SF_DIR, "mulaw").collect()
    assert len(rows) == mm.payload(spark, SF_DIR, "mulaw").count()
    again = mm.decode_features(spark, SF_DIR, "mulaw").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_alaw_decode_is_a_real_g711_codec(spark):
    """The A-law half of G.711, proven fixture-independently with the
    SAME battery as mu-law but its own law: (a) the LUT round-trips
    through an independent spec-literal encoder (g711.c linear2alaw —
    13-bit domain via >>3, -pcm-1 negative fold, per-segment mantissa
    shift) for ALL 256 codewords (A-law has no zero alias, unlike
    mu-law's 0x7F); (b) spec anchors hold (0x2A -> -32256,
    0xAA -> +32256, 0x55 -> -8, 0xD5 -> +8) and |sample| >= 8
    everywhere (no zero output); (c) strict monotonicity within each
    sign half; (d) fmt-6 RIFF structure valid."""
    import struct

    import numpy as np

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    lut = mm._alaw_decode_table()
    assert lut[0x2A] == -32256 and lut[0xAA] == 32256
    assert lut[0x55] == -8 and lut[0xD5] == 8
    assert (np.abs(lut) >= 8).all()

    def encode(pcm: int) -> int:  # independent: g711.c linear2alaw
        seg_aend = [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF]
        pcm >>= 3
        if pcm >= 0:
            mask = 0xD5
        else:
            mask = 0x55
            pcm = -pcm - 1
        seg = next((i for i, e in enumerate(seg_aend) if pcm <= e), 8)
        if seg >= 8:
            return 0x7F ^ mask
        aval = seg << 4
        aval |= (pcm >> 1) & 0x0F if seg < 2 else (pcm >> seg) & 0x0F
        return aval ^ mask

    assert [c for c in range(256) if encode(int(lut[c])) != c] == []
    # within each sign half the law is strictly monotone in the
    # post-XOR code u: u 0..127 are sign-clear (increasingly negative
    # magnitude), u 128..255 positive increasing
    u = np.arange(256) ^ 0x55
    lut_by_u = lut[np.argsort(u)]
    assert (np.diff(lut_by_u[:128]) < 0).all()
    assert (np.diff(lut_by_u[128:]) > 0).all()

    row = mm.payload(spark, SF_DIR, "alaw").limit(1).collect()[0]
    buf = bytes(row["payload"])
    fmt, nch, rate = struct.unpack("<HHI", buf[20:28])
    assert (fmt, nch, rate) == (mm._ALAW_FMT, 1, mm.MULAW_RATE)
    assert buf[36:40] == b"fact" and buf[48:52] == b"data"

    rows = mm.decode_features(spark, SF_DIR, "alaw").collect()
    assert rows and all(r["floor_s"] <= -8 and r["peak"] <= -8 for r in rows)


def test_g711_payload_validation_raises_labeled_error():
    """Corrupt G.711 WAV payloads must raise the labeled DecodeError
    (never bare assert/struct.error/IndexError — ADVICE r7, the
    explicit-raise policy every codec shares)."""
    import numpy as np
    import pytest

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    n = mm.MULAW_N_SAMPLES
    mulaw, alaw = mm.CODECS["mulaw"], mm.CODECS["alaw"]
    good = mulaw.encode([bytes(n)])[0]
    samples = mulaw.decode([good])
    assert isinstance(samples, np.ndarray) and samples.shape == (1, n)

    bad = [
        b"",  # too short
        b"RIFX" + good[4:],  # wrong magic
        good[:12] + b"fmtX" + good[16:],  # fmt chunk missing
        good[:36] + b"fakt" + good[40:],  # fact chunk missing
        good[:48] + b"dat@" + good[52:],  # data chunk missing
        good[: 56 + n - 8],  # truncated data
        alaw.encode([bytes(n)])[0],  # law mismatch
    ]
    for buf in bad:
        with pytest.raises(mm.DecodeError):
            mulaw.decode([buf])
    # fact/data disagreement: patch the fact count in place
    tampered = bytearray(good)
    tampered[44:48] = (n + 1).to_bytes(4, "little")
    with pytest.raises(mm.DecodeError):
        mulaw.decode([bytes(tampered)])


def test_adpcm_decode_is_a_real_stateful_codec(spark):
    """The IMA ADPCM path is a REAL stateful predictive codec, proven
    fixture-independently: (a) an INDEPENDENT spec-literal encoder
    (the classic adpcm.c coder: successive-approximation against the
    step, sign bit, in-loop decoder replay) compresses three signal
    shapes and the production decoder reproduces the encoder's own
    reconstruction EXACTLY — the lossy codec's exact invariant;
    (b) saturating inputs pin both predictor clamps (+/-32767/-32768)
    and both step-index clamps (0 and 88); (c) the staged payloads
    are valid one-block fmt-0x11 WAVE files under independent struct
    re-parse; (d) corpus decode is deterministic."""
    import struct

    import numpy as np

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    def spec_encode(samples, pred=0, idx=0):
        # independent reference: IMA DV4 coder, written from the spec
        codes, recon = [], [pred]
        for x in samples:
            step = mm._ADPCM_STEPS[idx]
            diff = int(x) - pred
            code = 8 if diff < 0 else 0
            if code:
                diff = -diff
            if diff >= step:
                code |= 4
                diff -= step
            if diff >= step >> 1:
                code |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                code |= 1
            delta = step >> 3
            if code & 4:
                delta += step
            if code & 2:
                delta += step >> 1
            if code & 1:
                delta += step >> 2
            pred = pred - delta if code & 8 else pred + delta
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + mm._ADPCM_INDEX_ADJ[code & 7]))
            codes.append(code)
            recon.append(pred)
        return codes, recon

    def decode(codes, pred0, idx0):  # the batch kernel on one row
        codes = np.asarray(codes, np.uint8).reshape(1, -1)
        return mm._adpcm_decode_batch(codes, [pred0], [idx0])[0]

    rng_t = np.arange(256)
    for signal in (
        (3000 * np.sin(rng_t / 7.0)).astype(np.int64),  # tone
        np.linspace(-30000, 30000, 256).astype(np.int64),  # full-range ramp
        np.where(rng_t % 2 == 0, 20000, -20000),  # worst-case alternation
    ):
        codes, recon = spec_encode(signal)
        got = decode(codes, 0, 0)
        assert got.tolist() == recon, "decoder diverged from spec encoder"

    # clamp pins: all-7 codes saturate pred upward and idx to 88;
    # all-15 codes then saturate downward; code 0 walks idx back to 0
    up = decode(np.full(200, 7, np.uint8), 0, 0)
    assert up.max() == 32767, "positive predictor clamp never hit"
    down = decode(np.full(200, 15, np.uint8), 0, 88)
    assert down.min() == -32768, "negative predictor clamp never hit"
    calm = decode(np.zeros(100, np.uint8), 0, 88)
    assert calm.size == 101  # idx walked 88 -> 0 without error

    # staged payload framing (independent re-parse)
    row = mm.payload(spark, SF_DIR, "adpcm").limit(1).collect()[0]
    buf = bytes(row["payload"])
    assert buf[0:4] == b"RIFF" and buf[8:12] == b"WAVE"
    fmt, nch, rate = struct.unpack("<HHI", buf[20:28])
    assert (fmt, nch, rate) == (mm._ADPCM_FMT, 1, mm.ADPCM_RATE)
    block_align, bits, cb, spb = struct.unpack("<HHHH", buf[32:40])
    assert (block_align, bits, cb, spb) == (
        mm._ADPCM_BLOCK_ALIGN, 4, 2, mm.ADPCM_N_SAMPLES,
    )
    assert buf[40:44] == b"fact" and buf[52:56] == b"data"
    assert len(buf) == 64 + mm.ADPCM_DATA_BYTES

    rows = mm.decode_features(spark, SF_DIR, "adpcm").collect()
    assert len(rows) == mm.payload(spark, SF_DIR, "adpcm").count()
    assert all(r["n_samples"] == mm.ADPCM_N_SAMPLES for r in rows)
    again = mm.decode_features(spark, SF_DIR, "adpcm").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_adpcm_payload_validation_raises_labeled_error(spark):
    """Corrupt IMA ADPCM payloads raise the labeled DecodeError
    (explicit-raise policy), including every framing-field defect and
    an out-of-range initial step index."""
    import pytest

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    adpcm = mm.CODECS["adpcm"]
    row = mm.payload(spark, SF_DIR, "adpcm").limit(1).collect()[0]
    good = bytes(row["payload"])
    adpcm.decode([good])  # sanity: the real payload parses

    tampers = [
        b"",
        b"RIFX" + good[4:],
        good[:12] + b"fmtX" + good[16:],
        good[:16] + (16).to_bytes(4, "little") + good[20:],  # fmt_len
        good[:20] + (1).to_bytes(2, "little") + good[22:],  # PCM tag
        good[:40] + b"fakt" + good[44:],
        good[:52] + b"dat@" + good[56:],
        good[: len(good) - 8],  # truncated nibbles
    ]
    for buf in tampers:
        with pytest.raises(mm.DecodeError):
            adpcm.decode([buf])
    bad_idx = bytearray(good)
    bad_idx[62] = 89  # step index out of range
    with pytest.raises(mm.DecodeError):
        adpcm.decode([bytes(bad_idx)])


def test_bmp_rle8_is_a_real_escape_codec(spark):
    """The BMP path is the REAL BI_RLE8 escape codec, proven fixture-
    independently: (a) a hand-packed spec vector exercises the DELTA
    jump (zero-fill), ABSOLUTE mode with its word pad, EOL and EOB
    escapes, and the bottom-up row flip — pixel POSITIONS pinned, not
    just values; (b) random, run-heavy, and constant images round-trip
    bit-exactly through the production encoder+decoder, including runs
    past the 255 count cap; (c) every truncation of a real payload's
    pixel data raises the labeled DecodeError; (d) header-field
    tampering raises; (e) corpus decode is deterministic."""
    import struct

    import numpy as np
    import pytest

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    # (a) spec vector on a 4x2 canvas: stored bottom-up, delta skips
    # two pixels (zero-filled), absolute block of 3 carries a pad byte
    data = bytes(
        [1, 9, 0, 2, 2, 0, 1, 7, 0, 0,     # bottom row: 9,_,_,7 + EOL
         0, 3, 1, 2, 3, 0, 1, 4, 0, 0,     # top row: abs(1,2,3)+pad, 4
         0, 1]                              # EOB
    )
    img = mm._rle8_decode(data, 4, 2)
    assert img.tolist() == [1, 2, 3, 4, 9, 0, 0, 7]

    # (b) round trips, including a 300-long run (splits at 255)
    w, h = mm.BMP_W, mm.BMP_H
    rng = np.random.RandomState(11)
    long_run = np.full(w * h, 77, np.uint8)
    long_run[300:] = rng.randint(32, 127, w * h - 300)
    for px in (
        rng.randint(32, 127, w * h).astype(np.uint8),
        np.repeat(rng.randint(32, 127, w * h // 8), 8).astype(np.uint8),
        np.full(w * h, 65, np.uint8),
        long_run,
    ):
        enc = bytearray()
        pxb = px.tobytes()
        for r in range(h):
            enc += mm._rle8_encode_row(pxb[(h - 1 - r) * w : (h - r) * w])
            enc += b"\x00\x00"
        enc += b"\x00\x01"
        assert np.array_equal(mm._rle8_decode(bytes(enc), w, h), px)

    # (c) truncation sweep over a real payload's pixel data
    row = mm.payload(spark, SF_DIR, "bmp").limit(1).collect()[0]
    buf = bytes(row["payload"])
    assert buf[0:2] == b"BM"
    size_img = struct.unpack("<I", buf[34:38])[0]
    pixel = buf[mm._BMP_OFFBITS : mm._BMP_OFFBITS + size_img]
    full = mm._rle8_decode(pixel, w, h)
    assert full.size == w * h
    for cut in range(1, len(pixel)):
        with pytest.raises(mm.DecodeError):
            mm._rle8_decode(pixel[:cut], w, h)

    # (d) structural defects raise the labeled error
    with pytest.raises(mm.DecodeError):
        mm._rle8_decode(b"", w, h)  # empty data: missing EOB
    with pytest.raises(mm.DecodeError):
        mm._rle8_decode(bytes([255, 7, 0, 1]), 4, 2)  # run overflows row
    with pytest.raises(mm.DecodeError):
        mm._rle8_decode(bytes([0, 2, 9, 9, 0, 1]), 4, 2)  # delta off-image
    assert struct.unpack("<I", buf[30:34])[0] == 1  # BI_RLE8 on disk

    # (e) corpus determinism
    rows = mm.decode_features(spark, SF_DIR, "bmp").collect()
    assert len(rows) == mm.payload(spark, SF_DIR, "bmp").count()
    assert all(
        r["n_pixels"] == w * h and r["width"] == w and r["height"] == h
        for r in rows
    )
    again = mm.decode_features(spark, SF_DIR, "bmp").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_gif_decode_is_a_real_lzw_codec(spark):
    """The GIF87a path is a REAL dictionary codec, proven fixture-
    independently: (a) a hand-packed spec vector pins the LSB-first
    variable-width bit order (codes CLEAR,65,66,66,EOI at 9 bits,
    packed by direct arithmetic, not the encoder's own loop); (b) a
    crafted KwKwK stream (code == next) decodes per spec; (c) random,
    constant, full-byte-range, and table-overflow (CLEAR-reset) inputs
    round-trip bit-exactly, with the 384-pixel corpus shape crossing
    the 9->10 width-growth boundary both sides must synchronize on;
    (d) EVERY truncation of a real payload raises the labeled
    DecodeError; (e) corpus decode is deterministic."""
    import numpy as np
    import pytest

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    # (a) spec vector: pixels A,B,B -> codes 256,65,66,66,257 @ 9 bits
    acc = 256 | (65 << 9) | (66 << 18) | (66 << 27) | (257 << 36)
    expected = acc.to_bytes(6, "little")
    assert mm._lzw_encode(b"ABB") == expected
    assert mm._lzw_decode(expected, 3) == b"ABB"

    # (b) KwKwK: pixels B,B,B,B,B emit 256,66,258(!),66?,257 — decode
    # must synthesize entry 258 from prev+prev[0] before it exists
    bb = mm._lzw_encode(b"BBBBB")
    assert mm._lzw_decode(bb, 5) == b"BBBBB"

    # (c) round-trips incl. width growth and table-full reset
    rng = np.random.RandomState(7)
    for data in (
        bytes(rng.randint(32, 127, mm._GIF_BODY_LEN, dtype=np.uint8)),
        bytes(rng.randint(0, 256, mm._GIF_BODY_LEN, dtype=np.uint8)),
        bytes([65] * mm._GIF_BODY_LEN),
        bytes(rng.randint(0, 256, 20000, dtype=np.uint8)),  # CLEAR reset
        bytes([67] * 50000),
    ):
        assert mm._lzw_decode(mm._lzw_encode(data), len(data)) == data
    # a random 384-index body adds ~383 entries: next crosses 512, so
    # the boundary both sides must agree on is genuinely exercised
    assert mm._GIF_BODY_LEN + mm._GIF_EOI + 1 > 512

    # (d) corruption rejection on a real payload
    row = mm.payload(spark, SF_DIR, "gif").limit(1).collect()[0]
    buf = bytes(row["payload"])
    assert buf[:6] == b"GIF87a" and buf[-1] == 0x3B
    for cut in range(0, len(buf)):
        with pytest.raises(mm.DecodeError):
            mm._decode_gif(buf[:cut])
    w, h, idx = mm._decode_gif(buf)
    assert (w, h, idx.size) == (mm.GIF_W, mm.GIF_H, mm._GIF_BODY_LEN)

    # (e) corpus determinism + schema
    rows = mm.decode_features(spark, SF_DIR, "gif").collect()
    assert len(rows) == mm.payload(spark, SF_DIR, "gif").count()
    for r in rows[:5]:
        assert (r["width"], r["height"]) == (mm.GIF_W, mm.GIF_H)
        assert 32 <= r["idx_min"] <= r["idx_max"] <= 126
    again = mm.decode_features(spark, SF_DIR, "gif").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_video_decode_frame_sampling_math(spark):
    """Raw-video path: buffers self-describe via the RAWV header; a
    crafted two-tone sequence yields exactly the expected luma and
    motion; sampling keeps every VID_SAMPLE_EVERY-th frame."""
    import numpy as np

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    row = mm.payload(spark, SF_DIR, "video").limit(1).collect()[0]
    buf = bytes(row["payload"])
    assert buf[:4] == b"RAWV"
    assert (buf[4], buf[5], buf[6]) == (mm.VID_W, mm.VID_H, mm.VID_FRAMES)
    assert len(buf) == 7 + mm.VID_W * mm.VID_H * mm.VID_FRAMES

    rows = mm.decode_features(spark, SF_DIR, "video").collect()
    for r in rows[:5]:
        assert r["n_frames"] == mm.VID_FRAMES
        assert r["n_sampled"] == len(range(0, mm.VID_FRAMES, mm.VID_SAMPLE_EVERY))

    # crafted: frames alternate all-10 / all-30 → sampled frames (stride
    # 2) are all-10, motion 0; with stride 1 motion would be 20
    video = mm.CODECS["video"]
    vid = np.zeros((mm.VID_FRAMES, mm.VID_H, mm.VID_W), np.uint8)
    vid[0::2] = 10
    vid[1::2] = 30
    stats = video.stats(video.decode(video.encode([vid.tobytes()])))
    assert (stats["luma_milli"][0], stats["motion_milli"][0]) == (10_000, 0)


def test_session2_ops_survive_degenerate_docs(spark, tmp_path):
    """The round-3 session-2 operators over 1-token / empty / NULL text:
    DSIR, perplexity tiers, BPE, bloom dedup, and all three real decode
    paths must emit rows (or an empty result), never throw — the NULL
    arm is the one the advisor's probe hit last round."""
    import os

    import pandas as pd

    from seamless_sharepoint_etl_spark.llm_ops import curation, dedup, multimodal, text

    d = str(tmp_path / "degen2")
    os.makedirs(d)
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 6],
            "text": ["solo", "", None, "two tokens", "from target source"],
            "lang": ["en"] * 5,
            "source": ["src0", "src0", "src0", "src0", "src18"],
            "n_chars": [4, 0, 0, 10, 18],
        }
    ).to_parquet(os.path.join(d, "documents.parquet"))

    # DSIR: NULL/empty docs yield no bigrams -> absent from the ranking,
    # not a crash; the 2-token doc scores
    dsir = {r["doc_id"] for r in curation.dsir_importance(spark, d).collect()}
    assert 3 in dsir and 2 not in dsir and 1 not in dsir

    # perplexity tiers: every doc with >=1 token gets a tier
    tiers = {r["doc_id"]: r["ppl_tier"] for r in
             curation.perplexity_buckets(spark, d).collect()}
    assert 0 in tiers and 3 in tiers

    # BPE: empty/NULL -> 0 tokens, never a throw
    bpe = {r["doc_id"]: r["n_bpe_tokens"] for r in
           text.bpe_tokenize_stats(spark, d).collect()}
    assert bpe[1] == 0 and bpe[2] == 0 and bpe[0] >= 1

    # bloom incremental dedup: runs clean over the tiny degenerate split
    dedup.bloom_incremental_dedup(spark, d).collect()

    # decode paths: NULL text coalesces to ' ' padding -> still valid
    # PPM/WAV/RAWV files with full-size bodies
    for r in multimodal.decode_features(spark, d, "ppm").collect():
        assert (r["width"], r["height"]) == (multimodal.PPM_W, multimodal.PPM_H)
    for r in multimodal.decode_features(spark, d, "wav").collect():
        assert r["n_samples"] == multimodal.WAV_N_SAMPLES
    for r in multimodal.decode_features(spark, d, "video").collect():
        assert r["n_frames"] == multimodal.VID_FRAMES


def _python_peel(edges, k):
    """Exact sequential k-core peel — the k-core is unique, so set
    equality against this IS correctness."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    alive = {v for v in adj if len(adj[v]) >= k}
    changed = True
    while changed:
        changed = False
        for v in list(alive):
            if sum(1 for u in adj[v] if u in alive) < k:
                alive.discard(v)
                changed = True
    return alive, adj


def test_kcore_matches_exact_python_peel(spark):
    """graph_kcore must equal the exact sequential peel of the SAME
    edge list (_kcore_edges — the denser KCORE_EDGE_COS relation), and
    the fixture's 2-core must be NON-EMPTY: the round-6 verdict found
    the old 0.42 graph's 2-core empty at every SF, so this gate passed
    vacuously without ever exercising the surviving-core path. An
    empty core here now FAILS — the differential only counts if the
    loop's real exit (a repeated edge count above 0) and core_degree
    reporting ran."""
    from seamless_sharepoint_etl_spark.llm_ops import graph

    edges = [
        (r["id_lo"], r["id_hi"])
        for r in graph._kcore_edges(spark, SF_DIR).collect()
    ]
    alive, adj = _python_peel(edges, graph.KCORE_K)
    assert alive, (
        "fixture 2-core is empty — the peel differential is vacuous "
        "(KCORE_EDGE_COS regressed or the fixture changed drastically)"
    )
    got = {r["vec_id"]: r["core_degree"] for r in graph.kcore(spark, SF_DIR).collect()}
    assert set(got) == alive
    for v, d in got.items():
        assert d == sum(1 for u in adj[v] if u in alive)
        assert d >= graph.KCORE_K


def test_kcore_synthetic_dense_graph_exact(spark, monkeypatch):
    """Fixture-independent kcore differential on a hand-built graph
    whose 2-core is KNOWN: a 4-clique {0,1,2,3} (core degrees all 3)
    with a pendant chain 0–4–5–6 (multi-round cascade: 6 peels as
    deg-1, exposing 5, then 4) and a disjoint path 7–8–9 (fully
    peeled). Asserts exact core membership AND exact core_degree — if
    the distributed peel's semi-join restriction, degree recount, or
    convergence exit breaks, this fails regardless of fixture content."""
    from seamless_sharepoint_etl_spark.llm_ops import graph

    synth = [
        # 4-clique
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
        # pendant chain off vertex 0
        (0, 4), (4, 5), (5, 6),
        # disjoint path (no 2-core)
        (7, 8), (8, 9),
    ]

    def fake_edges(sp, sf_dir):
        return sp.createDataFrame(synth, "id_lo long, id_hi long")

    monkeypatch.setattr(graph, "_kcore_edges", fake_edges)
    got = {r["vec_id"]: r["core_degree"] for r in graph.kcore(spark, SF_DIR).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # cross-check the hand expectation against the reference peel
    alive, adj = _python_peel(synth, graph.KCORE_K)
    assert set(got) == alive
    assert all(got[v] == sum(1 for u in adj[v] if u in alive) for v in got)


def test_winnow_guarantee_shared_substring_shares_fingerprint(spark, tmp_path):
    """The winnowing guarantee: two documents sharing a substring of
    length >= k + w - 1 (= 11 chars after normalization) must share at
    least one fingerprint — that is the property MOSS is built on."""
    import os

    import pandas as pd

    from seamless_sharepoint_etl_spark.llm_ops import scoring

    shared = "common phrase kernel"  # 20 chars >> 11
    d = str(tmp_path / "winnow")
    os.makedirs(d)
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                f"left padding {shared} and more",
                f"{shared} totally different tail here",
                "no overlap with the others at all",
            ],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [40, 40, 33],
        }
    ).to_parquet(os.path.join(d, "documents.parquet"))
    # recompute the fingerprint SETS (the registry query only emits
    # order-independent reductions) via the same module expressions
    base = scoring.winnow_fingerprint(spark, d).collect()
    by_doc = {r["doc_id"]: r for r in base}
    assert all(r["n_fp"] > 0 for r in base)
    # set-level check through the digest algebra is not enough; rebuild
    # the sets with a one-off explode of the same plan
    from pyspark.sql import functions as F

    from seamless_sharepoint_etl_spark import io as eio

    docs = eio.load_table(spark, d, "documents")
    s = (
        "regexp_replace(regexp_replace(lower(coalesce(text, '')),"
        " '[^ -~]', '?'), ' +', ' ')"
    )
    k, w, M = scoring.WINNOW_K, scoring.WINNOW_W, scoring.WINNOW_M
    from seamless_sharepoint_etl_spark.llm_ops.scoring import _GRAM_TERMS

    fps = (
        docs.selectExpr("doc_id", f"{s} AS s")
        .selectExpr("doc_id", "s", f"greatest(length(s) - {k - 1}, 0) AS n")
        .selectExpr(
            "doc_id",
            f"transform(sequence(1, greatest(n, 1)), i -> ({_GRAM_TERMS}) % {M}) AS hs",
            f"greatest(n - {w - 1}, 0) AS m",
        )
        .selectExpr(
            "doc_id",
            f"explode(array_distinct(transform(sequence(1, greatest(m, 1)),"
            f" j -> array_min(slice(hs, j, {w}))))) AS fp",
        )
        .collect()
    )
    sets: dict[int, set] = {}
    for r in fps:
        sets.setdefault(r["doc_id"], set()).add(r["fp"])
    assert sets[0] & sets[1], "shared 20-char substring must share a fingerprint"
    # digest consistency between the two formulations
    for doc_id, fset in sets.items():
        assert by_doc[doc_id]["n_fp"] == len(fset)
        assert by_doc[doc_id]["fp_digest"] == sum(fset) % M


def test_classifier_and_winnow_survive_degenerate_docs(spark, tmp_path):
    """NULL / empty / 1-char / non-ASCII docs flow through the scoring
    trio without ANSI crashes, and the classifier's 'empty' branch
    fires exactly for feature-less docs."""
    import os

    import pandas as pd

    from seamless_sharepoint_etl_spark.llm_ops import scoring

    d = str(tmp_path / "degen_scoring")
    os.makedirs(d)
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": ["x", "", None, "héllo wörld", "plain ascii text here"],
            "lang": ["en"] * 5,
            "source": ["s"] * 5,
            "n_chars": [1, 0, 0, 11, 21],
        }
    ).to_parquet(os.path.join(d, "documents.parquet"))

    cls = {r["doc_id"]: r for r in scoring.hashed_linear_classifier(spark, d).collect()}
    assert len(cls) == 5
    # one-token doc: exactly one unigram feature, a REAL score — the
    # DuckDB oracle must agree (list_sum([]) is NULL there; the oracle
    # coalesces it, which this cross-check pins)
    assert cls[0]["n_feats"] == 1 and cls[0]["verdict"] in ("keep", "drop")
    assert cls[1]["verdict"] == "empty" and cls[1]["n_feats"] == 0
    assert cls[2]["verdict"] == "empty" and cls[2]["n_feats"] == 0
    # non-ASCII tokens are excluded from features, not from the doc
    assert cls[3]["n_feats"] == 0 and cls[3]["verdict"] == "empty"
    assert cls[4]["n_feats"] > 0 and cls[4]["verdict"] in ("keep", "drop")

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(d, 'documents.parquet')}'"
    )
    oracle = {
        r[0]: (r[2], r[3], r[4])
        for r in con.sql(scoring.HASHED_LINEAR_CLASSIFIER_SQL).fetchall()
    }
    for doc_id, r in cls.items():
        assert oracle[doc_id] == (
            r["n_feats"],
            r["score_milli"],
            r["verdict"],
        ), (doc_id, oracle[doc_id], r)

    win = {r["doc_id"]: r for r in scoring.winnow_fingerprint(spark, d).collect()}
    assert len(win) == 5
    for doc_id in (0, 1, 2):  # shorter than k: zero grams, sentinel mins
        assert win[doc_id]["n_fp"] == 0
        assert win[doc_id]["fp_min"] == -1 and win[doc_id]["fp_digest"] == 0
    assert win[4]["n_fp"] > 0


def test_silhouette_margin_matches_numpy(spark):
    """emb_silhouette_margin must agree with a direct numpy
    recomputation of cosine margins against the same cached centroids
    (±1 bp on means for summation-order rounding; counts exact)."""
    import numpy as np

    from seamless_sharepoint_etl_spark import io as eio
    from seamless_sharepoint_etl_spark.llm_ops import similarity

    got = {r["bucket"]: r for r in similarity.silhouette_margin(spark, SF_DIR).collect()}
    buckets, cent = similarity._ivf_index(spark, SF_DIR)
    assign = {r["vec_id"]: r["bucket"] for r in buckets.collect()}
    cents = {r["bucket"]: np.array(r["cv"]) for r in cent.collect()}
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in eio.load_table(spark, SF_DIR, "embeddings").collect()
    }
    per_bucket: dict[int, list[int]] = {}
    for vid, x in emb.items():
        b = assign[vid]
        xn = np.linalg.norm(x)
        cos = {
            cb: float(x @ c / (xn * np.linalg.norm(c))) for cb, c in cents.items()
        }
        a = cos[b]
        other = max(v for cb, v in cos.items() if cb != b)
        per_bucket.setdefault(b, []).append(
            int(np.floor((a - other) * 10000 + 0.5))
        )
    assert set(got) == set(per_bucket)
    for b, ms in per_bucket.items():
        r = got[b]
        assert r["n_vecs"] == len(ms)
        assert r["n_misrouted"] == sum(1 for m in ms if m < 0)
        # Spark `div` truncates toward zero; mirror it
        s = sum(ms)
        expect_mean = int(s / len(ms)) if s >= 0 else -int(-s / len(ms))
        assert abs(r["mean_margin_bp"] - expect_mean) <= 1, (b, r, expect_mean)
        assert abs(r["min_margin_bp"] - min(ms)) <= 1


def test_ann_recall_curve_monotone(spark):
    """Recall must not decrease as nprobe grows, every row must see the
    same query set, and at the serving setting (nprobe = NPROBE) mean
    recall must clearly beat the scan-fraction baseline."""
    from seamless_sharepoint_etl_spark.llm_ops import similarity

    rows = sorted(
        similarity.ann_recall_curve(spark, SF_DIR).collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["nprobe"] for r in rows] == list(similarity.RECALL_NPROBES)
    assert len({r["n_queries"] for r in rows}) == 1
    recalls = [r["mean_recall_bp"] for r in rows]
    assert recalls == sorted(recalls), recalls
    # nprobe=3 scans 3/16 ≈ 1875 bp of the data; recall must beat it
    assert recalls[-1] >= 3000, recalls
    for r in rows:
        assert 0 <= r["min_query_recall_bp"] <= r["mean_recall_bp"]


def test_audio_spectral_matches_explicit_dft(spark):
    """mm_audio_spectral_features must agree with an EXPLICIT DFT
    recomputation (different algorithm than numpy's FFT) on dominant
    bin and centroid, and its built-in Parseval witness must be ~0."""
    import struct

    import numpy as np

    from seamless_sharepoint_etl_spark.llm_ops import multimodal

    rows = {
        r["doc_id"]: r
        for r in multimodal.audio_spectral_features(spark, SF_DIR).collect()
    }
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in multimodal.payload(spark, SF_DIR, "wav").limit(25).collect()
    }
    assert rows and payloads
    for doc_id, buf in payloads.items():
        (data_len,) = struct.unpack("<I", buf[40:44])
        s = np.frombuffer(buf, np.int16, count=data_len // 2, offset=44).astype(
            np.float64
        )
        n = s.size
        k = np.arange(n // 2 + 1)
        w = np.exp(-2j * np.pi * np.outer(k, np.arange(n)) / n)  # explicit DFT
        spec = w @ s
        mag2 = spec.real**2 + spec.imag**2
        ac = mag2[1:]
        r = rows[doc_id]
        assert r["n_bins"] == mag2.size
        assert r["parseval_err_ppm"] <= 5, (doc_id, r["parseval_err_ppm"])
        if ac.sum() == 0:  # constant clip: sentinel outputs, nothing to rank
            assert r["dominant_bin"] == 0 and r["centroid_mbin"] == 0
            continue
        # tie-robust dominance check: the operator's chosen bin must
        # carry the DFT's max AC energy to ~1e-6 relative — exact
        # argmax equality flakes when two bins tie in exact arithmetic
        # and FFT-vs-DFT rounding splits them differently
        chosen = ac[r["dominant_bin"] - 1]
        assert chosen >= ac.max() * (1 - 1e-6), (doc_id, r["dominant_bin"])
        centroid = int(
            np.floor((np.arange(1, mag2.size) * ac).sum() / ac.sum() * 1000 + 0.5)
        )
        assert abs(r["centroid_mbin"] - centroid) <= 1


def test_winnow_crossdoc_pairs_and_posting_cap(spark, tmp_path):
    """Cross-doc span matcher: two docs sharing a long span surface as
    a (lo, hi) pair with >= WINNOW_MIN_SHARED shared fingerprints, an
    unrelated doc never pairs, and a fingerprint posted by more docs
    than WINNOW_MAX_POSTING is dropped as corpus boilerplate (the cap
    that keeps the pair explode from going quadratic)."""
    import os

    import pandas as pd

    from seamless_sharepoint_etl_spark.llm_ops import scoring

    shared = "the quick brown fox jumps over the lazy dog near the riverbank"
    d = str(tmp_path / "winnow_cross")
    os.makedirs(d)
    texts = [
        f"alpha preamble {shared} omega tail",
        f"{shared} entirely different continuation text",
        "nothing in common with anything else here at all",
    ]
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(os.path.join(d, "documents.parquet"))
    rows = scoring.winnow_crossdoc(spark, d).collect()
    pairs = {(r["doc_lo"], r["doc_hi"]): r["n_shared_fp"] for r in rows}
    assert (0, 1) in pairs, "60-char shared span must produce a pair"
    assert pairs[(0, 1)] >= scoring.WINNOW_MIN_SHARED
    assert all(2 not in p for p in pairs), "unrelated doc must not pair"

    # posting cap: WINNOW_MAX_POSTING + 8 identical docs -> every
    # fingerprint's posting list exceeds the cap -> zero pairs emitted
    n = scoring.WINNOW_MAX_POSTING + 8
    d2 = str(tmp_path / "winnow_cap")
    os.makedirs(d2)
    pd.DataFrame(
        {
            "doc_id": list(range(n)),
            "text": [shared] * n,
            "lang": ["en"] * n,
            "source": ["s"] * n,
            "n_chars": [len(shared)] * n,
        }
    ).to_parquet(os.path.join(d2, "documents.parquet"))
    assert scoring.winnow_crossdoc(spark, d2).count() == 0


@pytest.mark.parametrize("graph_name", ["embedding", "ngram"])
def test_pagerank_exact_matches_python_rounds(spark, graph_name):
    """The one PageRank kernel, over both edge relations it serves
    (graph_pagerank_exact's embedding near-dup edges, top PR_TOP, and
    dedup_neardup_pagerank's n-gram pairs, every vertex): the
    fixed-iteration integer recurrence is bit-reproducible, so an
    independent sequential Python replay of the same rounds must agree
    EXACTLY on every returned rank — the kcore/bfs re-computation
    precedent for a numeric iterative op."""
    from collections import defaultdict

    from seamless_sharepoint_etl_spark.llm_ops import dedup, graph
    from seamless_sharepoint_etl_spark.operators import iterative

    if graph_name == "embedding":
        edges = graph._edges(spark, SF_DIR)
        query, top = graph.pagerank_exact, graph.PR_TOP
    else:
        edges = dedup.ngram_jaccard_pairs(spark, SF_DIR).select("doc_lo", "doc_hi")
        query, top = dedup.neardup_pagerank, None
    adj = defaultdict(list)
    for a, b in edges.collect():
        adj[a].append(b)
        adj[b].append(a)
    assert adj, "fixture must carry edges"
    deg = {v: len(ns) for v, ns in adj.items()}
    r = {v: 1_000_000 for v in adj}
    for _ in range(iterative.PR_ITERS):
        nxt = {}
        for v in adj:
            inflow = sum(
                (r[u] * iterative._PR_DAMP) // (100 * deg[u]) for u in adj[v]
            )
            nxt[v] = iterative._PR_BASE + inflow
        r = nxt
    def by_rank(kv):
        return -kv[1], kv[0]

    expect = sorted(r.items(), key=by_rank)[:top]
    got = [(row["v"], row["pagerank_ppm"]) for row in query(spark, SF_DIR).collect()]
    if top is None:  # every vertex, in no particular order
        got.sort(key=by_rank)
    assert got == expect


def test_minhash_estimate_covers_exact_pairs_and_is_sound(spark):
    """dedup_minhash_estimate: (a) every exact near-dup pair
    (Jaccard >= 0.8 from dedup_ngram_jaccard) must be recalled by the
    half-signature agreement gate on this fixture; (b) every emitted
    pair must have a genuinely shared shingle (jaccard_bp > 0 — the
    affine-bijection guarantee); (c) the estimate must be within the
    K=16 binomial envelope of the exact value for recalled exact
    pairs (|err| <= 4/16 of scale)."""
    from seamless_sharepoint_etl_spark.llm_ops import dedup

    est = {
        (r["doc_lo"], r["doc_hi"]): r
        for r in dedup.minhash_estimate(spark, SF_DIR).collect()
    }
    assert est, "fixture must produce candidate pairs"
    exact = {
        (r["doc_lo"], r["doc_hi"])
        for r in dedup.ngram_jaccard_pairs(spark, SF_DIR).collect()
    }
    assert exact, "fixture must contain exact near-dup pairs"
    missed = exact - set(est)
    assert not missed, f"exact pairs missed by the estimator: {missed}"
    for key, r in est.items():
        assert r["jaccard_bp"] > 0, f"{key} emitted without a shared shingle"
        assert 0 <= r["est_bp"] <= 10000
    for key in exact:
        assert est[key]["err_bp"] <= 2500, (key, est[key]["err_bp"])


def test_simhash_portable_neardups_close_in_hamming(spark):
    """dedup_simhash_portable: fingerprints are deterministic and the
    exact near-dup pairs (Jaccard >= 0.8) land within small Hamming
    distance — the property that makes prefix bucketing work."""
    from seamless_sharepoint_etl_spark.llm_ops import dedup

    fp = {
        r["doc_id"]: r[f"simhash{dedup.SIMHASH_PORT_BITS}"]
        for r in dedup.simhash_portable(spark, SF_DIR).collect()
    }
    assert all(0 <= v < (1 << dedup.SIMHASH_PORT_BITS) for v in fp.values())
    pairs = [
        (r["doc_lo"], r["doc_hi"])
        for r in dedup.ngram_jaccard_pairs(spark, SF_DIR).collect()
    ]
    assert pairs
    for lo, hi in pairs:
        ham = bin(fp[lo] ^ fp[hi]).count("1")
        assert ham <= 4, (lo, hi, ham)


def test_estimator_pr_confusion_identities_and_fixture_quality(spark):
    """dedup_estimator_pr: confusion counts must satisfy the partition
    identities, and on this fixture (near-exact duplicate pairs) the
    0.70-estimate gate must recover the 0.80-exact truth almost
    perfectly."""
    from seamless_sharepoint_etl_spark.llm_ops import dedup

    r = dedup.estimator_pr(spark, SF_DIR).collect()[0]
    assert r["tp"] + r["fp"] == r["n_pred"]
    assert r["tp"] + r["fn"] == r["n_truth"]
    assert r["n_truth"] > 0
    assert r["recall_bp"] >= 9000
    assert r["precision_bp"] >= 9000
    # r10: estimator_pr derives its predicted set from the CANDIDATE
    # pair relation via a match_k threshold instead of executing
    # minhash_estimate's exact-verify subtree. The threshold must be
    # exactly equivalent to est_bp >= EST_PR_THRESHOLD_BP for every
    # possible match_k, and the resulting pair set identical to
    # filtering the full estimator output.
    K = len(dedup.MH_EST_SEEDS)
    k_needed = max(
        dedup.MH_EST_MIN_MATCH, -(-dedup.EST_PR_THRESHOLD_BP * K // 10000)
    )
    for mk in range(dedup.MH_EST_MIN_MATCH, K + 1):
        assert (mk * 10000 // K >= dedup.EST_PR_THRESHOLD_BP) == (
            mk >= k_needed
        ), mk
    via_full = {
        (p["doc_lo"], p["doc_hi"])
        for p in dedup.minhash_estimate(spark, SF_DIR)
        .filter(f"est_bp >= {dedup.EST_PR_THRESHOLD_BP}")
        .collect()
    }
    via_cand = {
        (p["doc_lo"], p["doc_hi"])
        for p in dedup._est_candidate_pairs(spark, SF_DIR)
        .filter(f"match_k >= {k_needed}")
        .collect()
    }
    assert via_full == via_cand


def test_min_label_cc_pointer_doubling_converges_in_log_rounds(spark):
    """joins.min_label_cc folds label(label(k)) per round (pointer
    doubling). On a 64-vertex PATH graph (diameter 63) the one-hop loop
    needs 64 rounds; the doubled loop must finish in O(log d) — and
    still produce the exact partition (every vertex labeled with the
    component minimum)."""
    from seamless_sharepoint_etl_spark.operators import joins

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    labels, rounds = joins.min_label_cc(edges, "pointer-doubling test")
    rows = {r["k"]: r["label"] for r in labels.collect()}
    assert rows == {i: 0 for i in range(n)}, "path must collapse to label 0"
    # log2(63) ≈ 6 doubling rounds + 1 detection round; one-hop needs 64
    assert rounds <= 10, (
        f"doubling took {rounds} rounds on a 64-path — "
        "O(log d) convergence regressed"
    )


def test_one_fixpoint_loop_lives_in_iterate():
    """Every fixpoint operator runs through ``iterative.iterate``: no
    other for/while body in the package calls ``localCheckpoint``, so
    the checkpoint-per-round, full-scan-measure and raising-cap policy
    exists once."""
    import ast
    import inspect
    import os

    import seamless_sharepoint_etl_spark as pkg
    from seamless_sharepoint_etl_spark.operators import iterative

    root = os.path.dirname(pkg.__file__)
    loops = []
    for dirpath, _dirs, files in os.walk(root):
        for f in (f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, (ast.For, ast.While)) and any(
                    isinstance(c, ast.Attribute) and c.attr == "localCheckpoint"
                    for stmt in node.body
                    for c in ast.walk(stmt)
                ):
                    loops.append((path, node.lineno))
    src, start = inspect.getsourcelines(iterative.iterate)
    assert len(loops) == 1, loops
    path, line = loops[0]
    assert path == iterative.__file__ and start <= line < start + len(src), loops


_RUNNING_SUM_SITES = {
    ("streaming/jobs.py", "prepare_stream_source"),
    ("llm_ops/curation.py", "sequence_packing"),
    ("llm_ops/text.py", "token_budget_alloc"),
    ("operators/quality.py", "ks_drift"),
    ("operators/windows.py", "pareto_abc"),
    ("operators/aggregates.py", "gini_coefficient"),
    ("operators/aggregates.py", "equidepth_histogram"),
}


def test_one_bucketed_prefix_sum_lives_in_running_sums():
    """Every bucketed running sum runs through ``windows.running_sums``:
    the package holds no 64-bucket constant but ``RUN_BUCKETS``, no
    join on a bucket inequality (the triangular strictly-before
    self-join) and no window ordered by a bucket column (the offsets
    window over the bucket totals), and the seven callers call it."""
    import ast
    import os
    import re

    import seamless_sharepoint_etl_spark as pkg

    bucketish = re.compile(r"(?i)bkt|bucket|bin")

    def names_bucket(node) -> bool:
        return any(
            isinstance(c, ast.Constant)
            and isinstance(c.value, str)
            and bucketish.search(c.value)
            for c in ast.walk(node)
        )

    def root_name(node) -> str:
        while isinstance(node, (ast.Call, ast.Attribute)):
            node = node.func if isinstance(node, ast.Call) else node.value
        return node.id if isinstance(node, ast.Name) else ""

    root = os.path.dirname(pkg.__file__)
    found, callers = [], set()
    for dirpath, _dirs, files in os.walk(root):
        for f in (f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and any(
                    isinstance(c, ast.Name) and c.id == "running_sums"
                    for c in ast.walk(fn)
                ):
                    callers.add((rel, fn.name))
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Assign)
                    and isinstance(node.value, ast.Constant)
                    and node.value.value == 64  # RUN_BUCKETS
                ):
                    for t in node.targets:
                        if (
                            isinstance(t, ast.Name)
                            and bucketish.search(t.id)
                            and (rel, t.id) != ("operators/windows.py", "RUN_BUCKETS")
                        ):
                            found.append((rel, node.lineno, t.id))
                if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                    continue
                if node.func.attr == "join" and any(
                    isinstance(c, ast.Compare)
                    and any(isinstance(op, (ast.Lt, ast.LtE, ast.Gt, ast.GtE)) for op in c.ops)
                    and names_bucket(c)
                    for a in node.args
                    for c in ast.walk(a)
                ):
                    found.append((rel, node.lineno, "bucket-inequality join"))
                if (
                    node.func.attr == "orderBy"
                    and root_name(node) == "Window"
                    and node.args
                    and names_bucket(node.args[0])
                ):
                    found.append((rel, node.lineno, "window ordered by a bucket"))
    assert not found, found
    assert _RUNNING_SUM_SITES <= callers, _RUNNING_SUM_SITES - callers


def test_iterate_raises_at_the_round_cap(spark, monkeypatch):
    """A fixpoint that never converges raises, naming its caller, once
    the round cap is reached — never a silently unconverged state."""
    from pyspark.sql import functions as F

    from seamless_sharepoint_etl_spark.operators import iterative

    monkeypatch.setattr(iterative, "MAX_ROUNDS", 2)
    msg = "runaway counter did not converge in 2 rounds"
    with pytest.raises(RuntimeError, match=msg):
        iterative.iterate(
            spark.range(3),
            lambda df: df.select((F.col("id") + 1).alias("id")),
            F.sum("id"),
            "runaway counter",
        )


# Warm build + collect jobs of the iterative queries on SF_DIR before
# they shared the fixpoint loop and the PageRank kernel (the float
# dedup_neardup_pagerank fixpoint took 34; the integer kernel needs 18).
_ITERATIVE_JOB_BUDGETS = {
    "join_entity_resolution": 11,
    "graph_kcore": 51,
    "graph_bfs_depth": 24,
    "graph_pagerank_exact": 16,
    "dedup_neardup_pagerank": 18,
}


def _warm_jobs(spark, name: str) -> tuple[list, int]:
    """(rows, jobs) of a warm build + collect of registry query
    ``name`` on SF_DIR: a first call fills the session artifacts and
    caches, the second is counted."""
    from seamless_sharepoint_etl_spark import registry

    sc = spark.sparkContext
    fn, _sql = registry._collect()[name]
    fn(spark, SF_DIR).collect()
    group = f"job-budget-{name}"
    sc.setJobGroup(group, group)
    try:
        rows = fn(spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(_ITERATIVE_JOB_BUDGETS))
def test_iterative_queries_stay_within_job_budget(spark, name):
    """Each round of an iterative query is a Spark-driver barrier, so
    its job count is its fixed cost. A warm build + collect (session
    artifacts filled by a first call) stays within the pinned budget."""
    rows, n_jobs = _warm_jobs(spark, name)
    assert rows, name
    assert n_jobs <= _ITERATIVE_JOB_BUDGETS[name], (name, n_jobs)


# Warm build + collect jobs on SF_DIR of the queries that call
# windows.running_sums (with hand-written prefix sums they took 12, 7,
# 10, 8, 6 and 10 in this order).
_RUNNING_SUM_JOB_BUDGETS = {
    "text_sequence_packing": 5,
    "text_token_budget_alloc": 5,
    "diag_ks_drift": 6,
    "win_pareto_abc": 8,
    "agg_gini_coefficient": 6,
    "agg_equidepth_histogram": 8,
}


@pytest.mark.parametrize("name", sorted(_RUNNING_SUM_JOB_BUDGETS))
def test_running_sum_queries_stay_within_job_budget(spark, name):
    """running_sums computes its bounds and offsets inside the plan and
    caches its bucketed input, so a warm query pays only the bucket
    totals, the offsets and the window, never a driver round-trip."""
    rows, n_jobs = _warm_jobs(spark, name)
    assert rows, name
    assert n_jobs <= _RUNNING_SUM_JOB_BUDGETS[name], (name, n_jobs)


def test_neardup_cc_queries_read_the_shared_labels(spark):
    """Once the session's neardup_cc_labels artifact is filled, both
    near-dup cluster queries are a groupBy over it: each collect stays
    within 3 jobs, the first call as well as a repeat."""
    from seamless_sharepoint_etl_spark import registry
    from seamless_sharepoint_etl_spark.llm_ops import graph

    sc = spark.sparkContext
    graph.neardup_cc_labels(spark, SF_DIR)
    entries = registry._collect()
    for name in ("dedup_neardup_clusters", "dedup_cc_twophase"):
        fn, _sql = entries[name]
        for call in range(2):
            group = f"cc-budget-{name}-{call}"
            sc.setJobGroup(group, group)
            try:
                rows = fn(spark, SF_DIR).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            assert rows, name
            assert n_jobs <= 3, (name, call, n_jobs)


def test_png_decode_roundtrips_all_five_filters(spark):
    """The PNG path is a REAL compressed codec: deflate + cycling
    scanline filters + chunk CRCs. (a) encode→decode is the identity
    on adversarial pixel data (gradients exercise Sub/Average/Paeth
    nontrivially); (b) a corrupted chunk CRC is rejected; (c) channel
    means over the corpus equal the PPM path's means exactly (identical
    pixel construction, independent container+codec) — so the codec
    can't silently alter a single pixel."""
    import zlib

    import numpy as np
    import pytest

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    rng = np.random.RandomState(7)
    for img in (
        rng.randint(0, 256, (mm.PNG_H, mm.PNG_W, 3)).astype(np.uint8),
        np.fromfunction(
            lambda y, x, c: (7 * x + 13 * y + 29 * c) % 256,
            (mm.PNG_H, mm.PNG_W, 3),
        ).astype(np.uint8),
        np.full((mm.PNG_H, mm.PNG_W, 3), 200, np.uint8),
    ):
        buf = mm._png_encode([img.tobytes()])[0]
        assert buf[:8] == mm._PNG_SIG
        back = mm._png_decode([buf])[0]
        assert (back == img).all()

    # filter-type coverage: decode the raw scanline stream directly
    buf = mm._png_encode([rng.randint(0, 256, mm._PNG_BODY_LEN).astype(np.uint8).tobytes()])[0]
    import struct

    pos, idat = 8, bytearray()
    while pos < len(buf):
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        tag = buf[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat.extend(buf[pos + 8 : pos + 8 + length])
        pos += 12 + length
    stream = zlib.decompress(bytes(idat))
    stride = mm.PNG_W * 3
    fts = {stream[y * (1 + stride)] for y in range(mm.PNG_H)}
    assert fts == {0, 1, 2, 3, 4}

    # CRC tamper detection
    png = mm.CODECS["png"]
    bad = bytearray(png.encode([bytes(mm._PNG_BODY_LEN)])[0])
    bad[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(mm.DecodeError, match="CRC"):
        png.decode([bytes(bad)])

    # corpus: PNG means == PPM means (same pixels, different codec)
    png = {
        r["doc_id"]: (r["r_mean_milli"], r["g_mean_milli"], r["b_mean_milli"])
        for r in mm.decode_features(spark, SF_DIR, "png").collect()
    }
    ppm = {
        r["doc_id"]: (r["r_mean_milli"], r["g_mean_milli"], r["b_mean_milli"])
        for r in mm.decode_features(spark, SF_DIR, "ppm").collect()
    }
    assert png == ppm and len(png) > 0


def _codec_names() -> list:
    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    return sorted(mm.CODECS)


@pytest.mark.parametrize("codec", _codec_names())
def test_every_codec_rejects_a_cut_or_foreign_payload(codec):
    """Each codec's decode raises the one labeled DecodeError — never a
    bare assert (stripped under -O), struct.error or IndexError — on a
    payload cut in half and on one whose first magic byte is flipped;
    the intact payload decodes."""
    import numpy as np

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    c = mm.CODECS[codec]
    rng = np.random.RandomState(3)
    good = c.encode([bytes(rng.randint(32, 127, c.body_len, dtype=np.uint8))])[0]
    c.stats(c.decode([good]))
    for bad in (good[: len(good) // 2], bytes([good[0] ^ 0xFF]) + good[1:]):
        with pytest.raises(mm.DecodeError):
            c.decode([bad])


def test_multimodal_has_one_error_class_and_no_payload_asserts():
    """One ``DecodeError`` serves every codec, and the module's only
    ``assert`` statements are the two import-time invariants of
    ``_jpeg_pattern_constants`` — no payload check can vanish under
    ``python -O``."""
    import ast

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    with open(mm.__file__) as fh:
        tree = ast.parse(fh.read())
    errors = [
        n.name
        for n in ast.walk(tree)
        if isinstance(n, ast.ClassDef)
        and any(getattr(b, "id", None) == "ValueError" for b in n.bases)
    ]
    assert errors == ["DecodeError"], errors
    owners = [
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        for n in ast.walk(fn)
        if isinstance(n, ast.Assert)
    ]
    assert owners == ["_jpeg_pattern_constants"] * 2, owners
    assert sum(isinstance(n, ast.Assert) for n in ast.walk(tree)) == 2


def test_jpeg_decode_is_a_real_baseline_codec(spark):
    """The JPEG path is a REAL baseline (ITU T.81) codec. Gates:
    (a) encode→decode reproduces the exact coefficient-predicted
    features (DC prediction chain, EOB/ZRL runs, negative extend);
    (b) the decoder's vectorized matrix IDCT agrees pixel-exactly
    with the independent spec-literal O(N⁴) IDCT that generates the
    oracle constants, and every AC value sits ≥1e-6 off a rounding
    boundary (the exactness precondition);
    (c) byte stuffing round-trips (a crafted stream containing 0xFF);
    (d) a truncated entropy stream and a corrupted marker are
    rejected;
    (e) the corpus features equal the oracle decomposition."""
    import numpy as np
    import pytest

    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    consts = mm._jpeg_pattern_constants()

    # (b) independent-IDCT agreement: decode a one-of-each-pattern
    # image and check each block against the naive constants
    dcqs = list(range(-47, 48, 12))[: mm.JPEG_N_BLOCKS]
    dcqs += [0] * (mm.JPEG_N_BLOCKS - len(dcqs))
    pats = [i % mm.JPEG_N_PATTERNS for i in range(mm.JPEG_N_BLOCKS)]
    buf = mm._encode_jpeg(dcqs, pats)
    assert buf[:2] == b"\xff\xd8" and buf[-2:] == b"\xff\xd9"
    img, dc_sum, nz = mm._decode_jpeg(buf)
    assert dc_sum == sum(8 * d for d in dcqs)
    assert nz == sum(len(mm._JPEG_PATTERNS[p]) for p in pats)
    bx = mm.JPEG_W // 8
    w2 = (1 + np.arange(8)[None, :] + 8 * np.arange(8)[:, None]) ** 2
    for bi, (d, p) in enumerate(zip(dcqs, pats)):
        yb, xb = divmod(bi, bx)
        blk = img[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8]
        assert int(blk.sum()) == 64 * (128 + d) + consts[p][0]
        assert int((blk * w2).sum()) == mm._JPEG_WSUM * (128 + d) + consts[p][1]
        assert blk.min() >= 0 and blk.max() <= 255

    # (b') rounding-boundary margin across every pattern pixel
    for pat in mm._JPEG_PATTERNS:
        f = np.zeros((8, 8))
        for zz, val in pat.items():
            nat = mm._JPEG_ZIGZAG[zz]
            f[nat // 8, nat % 8] = val * mm._JPEG_QUANT[nat]
        m = mm._jpeg_idct_matrix()
        ac = m.T @ f @ m
        frac = np.abs((ac + 0.5) - np.round(ac + 0.5))
        assert frac.min() > 1e-6

    # (c) byte stuffing: find a payload whose entropy stream stuffs
    rng = np.random.RandomState(5)
    stuffed = False
    for _ in range(80):
        dd = rng.randint(-47, 48, mm.JPEG_N_BLOCKS).tolist()
        pp = rng.randint(0, mm.JPEG_N_PATTERNS, mm.JPEG_N_BLOCKS).tolist()
        b2 = mm._encode_jpeg(dd, pp)
        ent = b2[b2.index(b"\xff\xda") + 10 : -2]
        if b"\xff\x00" in ent:
            stuffed = True
            img2, ds2, nz2 = mm._decode_jpeg(b2)
            assert ds2 == sum(8 * d for d in dd)
            assert int(img2.sum()) == sum(
                8192 + 64 * d + consts[q][0] for d, q in zip(dd, pp)
            )
            break
    assert stuffed, "no stuffed 0xFF00 produced in 80 random images"

    # (d) corruption rejection: EVERY possible truncation point must
    # raise the decoder's labeled DecodeError — never IndexError /
    # struct.error from an unguarded read (incl. cuts right after an
    # 0xFF in the entropy stream and cuts inside marker headers), and
    # never a bare assert (PYTHONOPTIMIZE strips those — ADVICE r6)
    for cut in range(0, len(buf)):
        with pytest.raises(mm.DecodeError):
            mm._decode_jpeg(buf[:cut])
    bad = bytearray(buf)
    bad[3] ^= 0xFF  # corrupt the DQT marker byte
    with pytest.raises(mm.DecodeError):
        mm._decode_jpeg(bytes(bad))

    # ZRL coverage: patterns 4/5/6 need 1, 2 and 3 ZRL symbols
    assert {20: 3} in [mm._JPEG_PATTERNS[4]] and 63 in mm._JPEG_PATTERNS[6]

    # (e) corpus features match the oracle decomposition per doc
    rows = mm.decode_features(spark, SF_DIR, "jpeg").collect()
    assert rows
    body_rows = mm.payload(spark, SF_DIR, "jpeg").collect()
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in body_rows}
    for r in rows[:25]:
        img3, ds3, nz3 = mm._decode_jpeg(payloads[r["doc_id"]])
        assert (r["dc_sum"], r["nonzero_ac"], r["pixel_sum"]) == (
            ds3, nz3, int(img3.sum()),
        )


def test_zero_norm_vectors_are_excluded_by_policy(spark, monkeypatch):
    """The zero-norm policy (similarity._nonzero_norm_rows): degenerate
    vectors are EXCLUDED identically in the numpy kernels and the SQL
    oracles. Without it the engines disagree three ways on 0/0 — numpy
    NaN silently drops rows, Spark's ANSI fold THROWS DIVIDE_BY_ZERO,
    DuckDB yields NULL. This injects a zero vector and an all-zero
    8-dim-prefix vector (both as queries AND candidates) through
    brute-force top-k, MMR, embedding near-dup and matryoshka recall:
    no query may crash, degenerate ids must be absent, and the three
    oracled queries must agree with DuckDB on the same corpus."""
    import duckdb
    import numpy as np
    import pandas as pd

    from seamless_sharepoint_etl_spark import io as io_mod
    from seamless_sharepoint_etl_spark.llm_ops import similarity as sim

    rng = np.random.RandomState(9)
    ids_vecs = [(0, rng.randn(64))]               # normal query
    zq = np.zeros(64)
    ids_vecs.append((50, zq))                     # zero-vector query
    zp = rng.randn(64)
    zp[:8] = 0.0
    ids_vecs.append((100, zp))                    # zero-8-prefix query
    for i in range(1, 30):
        ids_vecs.append((i, rng.randn(64)))
    ids_vecs.append((31, np.zeros(64)))           # zero-vector candidate
    zc = rng.randn(64)
    zc[:8] = 0.0
    ids_vecs.append((32, zc))                     # zero-prefix candidate
    base = rng.randn(64)
    ids_vecs.append((40, base))                   # a guaranteed near-dup
    ids_vecs.append((41, base + 1e-4 * rng.randn(64)))

    pdf = pd.DataFrame(
        {
            "vec_id": [i for i, _ in ids_vecs],
            "embedding": [
                [float(np.float32(x)) for x in v] for _, v in ids_vecs
            ],
        }
    )
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    monkeypatch.setattr(
        io_mod, "load_table_parallel", lambda sp, sfd, name: sdf
    )
    con = duckdb.connect()
    con.register("embeddings", pdf)

    def duck(sql):
        return sorted(
            tuple(round(v, 4) if isinstance(v, float) else v for v in row)
            for row in con.execute(sql).fetchall()
        )

    def got(df):
        return sorted(
            tuple(round(v, 4) if isinstance(v, float) else v for v in row)
            for row in (tuple(r) for r in df.collect())
        )

    bf = got(sim.brute_force_topk(spark, "/ignored"))
    assert bf == duck(sim.BRUTE_FORCE_SQL)
    assert not any(r[0] == 50 for r in bf), "zero-vector query leaked"
    assert not any(r[2] in (31, 50) for r in bf), "zero-vector candidate leaked"

    nd = got(sim.embedding_neardup(spark, "/ignored"))
    assert nd == duck(sim.EMBEDDING_NEARDUP_SQL)
    assert (40, 41) in {(r[0], r[1]) for r in nd}, "planted near-dup missing"
    assert not any(31 in (r[0], r[1]) for r in nd)

    mrl = got(sim.matryoshka_prefix_recall(spark, "/ignored"))
    assert mrl == duck(sim.MATRYOSHKA_PREFIX_RECALL_SQL)
    plens_for_100 = {r[0] for r in mrl if r[1] == 100}
    assert 8 not in plens_for_100, "zero-prefix query leaked at L=8"
    assert {16, 32} <= plens_for_100, "zero-prefix query must survive L>=16"
    assert not any(r[1] == 50 for r in mrl)

    mmr = sim.mmr_diversify(spark, "/ignored").collect()
    assert mmr, "MMR returned nothing"
    assert not any(r["query_id"] == 50 for r in mmr)
    assert not any(r["cand_id"] in (31, 50) for r in mmr)


def test_blas_shortlist_kernels_equal_naive_all_pairs(spark):
    """The BLAS-shortlist + exact-fold two-phase kernels must return
    EXACTLY the naive all-pairs answer — this pins the _PAIR_MARGIN
    soundness argument (the numpy shortlist provably contains every
    pair/top-k member the exact fold can accept) against regression:
    a margin shrink, a blocking bug that drops a grid cell, or a
    kernel that silently reports numpy floats instead of fold values
    all fail here."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from seamless_sharepoint_etl_spark import io
    from seamless_sharepoint_etl_spark.llm_ops import similarity as sim

    e = io.load_table(spark, SF_DIR, "embeddings")
    v = e.select("vec_id", sim._dbl("embedding").alias("v")).withColumn(
        "n", sim._norm(F.col("v"))
    )
    a = v.select(
        F.col("vec_id").alias("ida"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = v.select(
        F.col("vec_id").alias("idb"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    cos = sim._dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))

    naive_pairs = {
        (r["id_lo"], r["id_hi"], r["cosine"])
        for r in a.crossJoin(b)
        .filter(F.col("ida") < F.col("idb"))
        .select(
            F.col("ida").alias("id_lo"),
            F.col("idb").alias("id_hi"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= sim.NEARDUP_COS)
        .collect()
    }
    kernel_pairs = {
        (r["id_lo"], r["id_hi"], r["cosine"])
        for r in sim.embedding_neardup(spark, SF_DIR).collect()
    }
    assert kernel_pairs == naive_pairs and naive_pairs

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    naive_topk = {
        (r["query_id"], r["rank"], r["cand_id"], r["cosine"])
        for r in a.filter(F.col("ida") % sim.QUERY_STRIDE == 0)
        .select(
            F.col("ida").alias("query_id"),
            F.col("va").alias("qv"),
            F.col("na").alias("qn"),
        )
        .crossJoin(b.select(F.col("idb").alias("cand_id"), "vb", "nb"))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            (
                sim._dot(F.col("qv"), F.col("vb")) / (F.col("qn") * F.col("nb"))
            ).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= sim.TOP_K)
        .select("query_id", "rank", "cand_id", F.round("cos", 6).alias("cosine"))
        .collect()
    }
    kernel_topk = {
        (r["query_id"], r["rank"], r["cand_id"], r["cosine"])
        for r in sim.brute_force_topk(spark, SF_DIR).collect()
    }
    assert kernel_topk == naive_topk and naive_topk


def test_blas_shortlist_tiny_blocks_exclude_self_pairs(spark, tmp_path):
    """Regression (MOD=8 perturbation catch): when a block holds <= K
    candidates, the per-query kth numpy score IS the masked self-pair's
    -inf and `-inf >= -inf - margin` re-admits it — the kernel then
    reported the query as its own #1 neighbor with cosine 1.0. A
    12-vector corpus puts every block under TOP_K; no query may appear
    among its own neighbors, ranks must stay contiguous, and every
    query must rank a full min(TOP_K, n-1) neighbors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from seamless_sharepoint_etl_spark.llm_ops import similarity as sim

    n, d = 12, 8
    vecs = [
        [float((i * 31 + j * 17) % 13 - 6) for j in range(d)] for i in range(n)
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array(
                [i * sim.QUERY_STRIDE for i in range(n)], pa.int64()
            ),  # every vector is a query
            "label": pa.array(["x"] * n),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    rows = sim.brute_force_topk(spark, str(tmp_path)).collect()
    assert rows, "tiny corpus returned no neighbors"
    by_q: dict[int, list[int]] = {}
    for r in rows:
        assert r["cand_id"] != r["query_id"], "self-pair leaked into top-k"
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) == min(sim.TOP_K, n - 1)
