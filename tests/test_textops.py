"""Tests for document dedup + text analysis + ANN operators."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

DOCS = pd.DataFrame(
    {
        "doc_id": range(8),
        "text": [
            "the quick brown fox jumps over the lazy dog today",   # 0
            "the quick brown fox jumps over the lazy dog today",   # 1: exact dup of 0
            "the quick brown fox jumps over the lazy cat today",   # 2: near dup of 0
            "completely different words about spark engines here", # 3
            "one two three four five six seven eight nine ten",    # 4
            "ONE  two   three four five six seven eight nine ten", # 5: ws/case dup of 4
            "short text",                                          # 6
            "der hund und die katze ist im haus und das ist gut",  # 7: german markers
        ],
    }
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS).cache()


def test_exact_dedup(spark, docs):
    from datasketches_pig_spark.textops.dedup import exact_dedup

    out = exact_dedup(docs, "doc_id", "text").toPandas().set_index("doc_id")
    assert out.loc[1, "canonical_id"] == 0
    assert out.loc[5, "canonical_id"] == 4  # whitespace/case-normalized match
    assert out.loc[2, "canonical_id"] == 2  # near-dup is NOT exact


def test_exact_dedup_plan_and_fast_path(spark, docs):
    """Default path must exchange exactly once (window over (hash, text));
    the collision-free fast path must agree and never exchange on a string
    column — the 100 TB contract from the docstring."""
    import re

    from datasketches_pig_spark.textops.dedup import exact_dedup

    out = exact_dedup(docs, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    fast = exact_dedup(docs, "doc_id", "text", assume_collision_free=True)
    fplan = fast._jdf.queryExecution().executedPlan().toString()
    for line in fplan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "__norm" not in line and "text" not in line
    assert set(map(tuple, out.collect())) == set(map(tuple, fast.collect()))


def test_ngram_jaccard_pairs(spark, docs):
    from datasketches_pig_spark.textops.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).toPandas()
    pairs = {(r.a, r.b): r.jaccard for r in out.itertuples()}
    assert pairs[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_minhash_matches_bruteforce(spark, docs):
    from datasketches_pig_spark.textops.dedup import minhash_dedup_pairs, ngram_jaccard_pairs

    brute = ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).toPandas()
    lsh = minhash_dedup_pairs(docs, "doc_id", "text", 3, 0.5).toPandas()
    bset = {(r.a, r.b, round(r.jaccard, 9)) for r in brute.itertuples()}
    lset = {(r.a, r.b, round(r.jaccard, 9)) for r in lsh.itertuples()}
    assert bset == lset


def test_simhash_near_pairs(spark, docs):
    from datasketches_pig_spark.textops.dedup import simhash_near_pairs

    out = simhash_near_pairs(docs, "doc_id", "text", n=3, max_hamming=6).toPandas()
    pairs = {(r.a, r.b) for r in out.itertuples()}
    assert (0, 1) in pairs  # identical text → hamming 0
    assert (4, 5) in pairs  # normalized-identical


def test_lang_id_and_quality(spark, docs):
    from datasketches_pig_spark.textops.analysis import lang_id, quality_features

    out = docs.select("doc_id", lang_id("text").alias("l")).toPandas().set_index("doc_id")
    assert out.loc[0, "l"] == "en"
    assert out.loc[7, "l"] == "de"
    assert out.loc[4, "l"] == "und"  # no markers

    q = quality_features(docs, "doc_id", "text").toPandas().set_index("doc_id")
    assert (q["quality_score"] >= 0).all() and (q["quality_score"] <= 1).all()
    assert q.loc[0, "n_tokens"] == 10


def test_token_counts(spark, docs):
    from datasketches_pig_spark.textops.analysis import bpe_ish_token_count, token_count

    out = docs.select(
        "doc_id",
        token_count("text").alias("ws"),
        bpe_ish_token_count("text").alias("bpe"),
    ).toPandas().set_index("doc_id")
    assert out.loc[6, "ws"] == 2
    assert out.loc[0, "ws"] == 10
    assert out.loc[0, "bpe"] == 10  # pure alpha words


def test_fingerprint_stability(spark, docs):
    from datasketches_pig_spark.textops.analysis import doc_fingerprints

    f1 = doc_fingerprints(docs, "doc_id", "text").toPandas().set_index("doc_id")
    f2 = doc_fingerprints(docs.repartition(3), "doc_id", "text").toPandas().set_index("doc_id")
    assert (f1.sort_index()["fingerprint"] == f2.sort_index()["fingerprint"]).all()
    assert f1.loc[0, "fingerprint"] == f1.loc[1, "fingerprint"]  # identical docs


def test_ann_lsh_recall_vs_brute(spark):
    from datasketches_pig_spark.ann.knn import cosine_topk, rhp_lsh_topk

    rng = np.random.default_rng(3)
    base = rng.normal(size=(40, 16))
    vecs = np.concatenate([base, base + rng.normal(0, 0.05, size=(40, 16))])
    pdf = pd.DataFrame(
        {"vec_id": range(80), "embedding": [list(map(float, v)) for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    corpus = df.filter(F.col("vec_id") >= 5)
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = cosine_topk(corpus, queries, k=5).toPandas()
    lsh = rhp_lsh_topk(corpus, queries, k=5, n_bits=24, max_hamming=8).toPandas()
    bt = {(r.query_id, r.vec_id) for r in brute.itertuples()}
    lt = {(r.query_id, r.vec_id) for r in lsh.itertuples()}
    # overall top-5 recall is soft (brute top-5 includes weakly-similar random
    # fillers that LSH rightly prunes); the true near neighbor must never miss
    recall = len(bt & lt) / len(bt)
    assert recall >= 0.2, f"ANN overall recall {recall}"  # sanity floor only
    top1 = brute[brute["rank"] == 1].set_index("query_id")["vec_id"]
    lsh_found = lsh.groupby("query_id")["vec_id"].apply(set)
    for q in range(5):
        assert top1[q] == q + 40  # planted twin is the true top neighbor
        assert top1[q] in lsh_found[q], f"LSH missed the true neighbor for query {q}"


def test_ann_lsh_candidate_fraction_bounded(spark):
    """The r4 scale contract of rhp_lsh_topk: at the 64-bit default a chunk
    key is 16 bits, so on a near-orthogonal corpus the prefilter passes only
    a tiny candidate fraction — while planted near-dups (signature Hamming
    ≤ n_chunks-1) are ALWAYS candidates by pigeonhole."""
    from datasketches_pig_spark.ann.knn import _rhp_lsh_candidates, make_hyperplanes

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(300, 32))
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(300), "embedding": [list(map(float, v)) for v in vecs]}
        )
    )
    factor = 1 + 0.01 * ((np.arange(32) % 7) - 3)
    queries = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": range(3),
                "embedding": [list(map(float, v * factor)) for v in vecs[:3]],
            }
        )
    )
    planes = make_hyperplanes(32, 64, 9001)
    cand = _rhp_lsh_candidates(
        corpus, queries, "vec_id", "embedding", "query_id", planes, 64, 16, 4
    ).toPandas()
    pairs = {(r.query_id, r.vec_id) for r in cand.itertuples()}
    for q in range(3):
        assert (q, q) in pairs  # the planted near-dup always survives
    frac = len(pairs) / (3 * 300)
    assert frac <= 0.05, f"candidate fraction {frac} — prefilter not selective"


def test_ann_ivf_recall_vs_brute(spark):
    import numpy as np
    import pyspark.sql.functions as F

    from datasketches_pig_spark.ann.knn import cosine_topk, ivf_topk

    rng = np.random.default_rng(5)
    base = rng.normal(size=(8, 16))
    rows = []
    vid = 0
    for c in range(8):
        for _ in range(25):
            v = base[c] + rng.normal(scale=0.15, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.filter(F.col("vec_id") >= 4)
    brute = cosine_topk(corpus, queries, k=5)
    ivf = ivf_topk(corpus, queries, k=5, n_centroids=8, n_probe=3)
    bt = {(r.query_id, r.vec_id) for r in brute.collect()}
    it = {(r.query_id, r.vec_id) for r in ivf.collect()}
    recall = len(bt & it) / len(bt)
    # clustered corpus: the probed lists must contain nearly all true
    # neighbors (same-cluster vectors land in the same inverted list)
    assert recall >= 0.9, recall


def test_ann_high_dim_256(spark, tmp_path):
    """dim=256 end-to-end: Arrow RHP signature kernel (no literal-expression
    blowup), LSH twin recovery, and the materialized IVF index (build +
    partition-pruned probe) all at high dimension."""
    from datasketches_pig_spark.ann.knn import (
        cosine_topk,
        ivf_build,
        ivf_probe,
        rhp_lsh_topk,
    )

    dim = 256
    rng = np.random.default_rng(11)
    base = rng.normal(size=(6, dim))
    rows = []
    vid = 0
    for c in range(6):
        for _ in range(20):
            v = base[c] + rng.normal(scale=0.1, size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.filter(F.col("vec_id") >= 3)
    brute = cosine_topk(corpus, queries, k=5)
    bt = {(r.query_id, r.vec_id) for r in brute.collect()}

    lsh = rhp_lsh_topk(corpus, queries, k=5, n_bits=16, max_hamming=6, dim=dim)
    lt = {(r.query_id, r.vec_id) for r in lsh.collect()}
    assert len(bt & lt) / len(bt) >= 0.8  # same-cluster neighbors dominate

    idx = str(tmp_path / "ivf")
    ivf_build(corpus, idx, n_centroids=6)
    probed = ivf_probe(spark, idx, queries, k=5, n_probe=2)
    probed_rows = probed.collect()
    pt = {(r.query_id, r.vec_id) for r in probed_rows}
    assert len(pt) == len(probed_rows)  # each (query, vector) pair once
    assert len(bt & pt) / len(bt) >= 0.9
    # partition pruning: the physical plan must carry a PartitionFilters
    # predicate on centroid_id (hive-partitioned lists directory)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "centroid_id" in plan


def test_embedding_near_dup_rhp_recall(spark):
    """Planted near-dup embeddings: RHP+Manku banded path finds the same
    high-cosine pairs as the exact brute-force path (recall >= 0.99), and
    every returned pair truly clears the threshold."""
    from datasketches_pig_spark.ann.knn import embedding_near_pairs

    rng = np.random.default_rng(11)
    dim = 64
    base = rng.normal(size=(60, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # 60 originals + a near-dup of each (tiny perturbation: cosine >= ~0.999)
    dups = base + rng.normal(scale=0.01, size=(60, dim))
    vecs = np.concatenate([base, dups])
    pdf = pd.DataFrame(
        {"vec_id": range(120), "embedding": [list(map(float, v)) for v in vecs]}
    )
    df = spark.createDataFrame(pdf)

    exact = embedding_near_pairs(df, threshold=0.99, method="exact").toPandas()
    rhp = embedding_near_pairs(
        df, threshold=0.99, method="rhp", max_hamming=4, dim=dim
    ).toPandas()

    et = {(r.a, r.b) for r in exact.itertuples()}
    rt = {(r.a, r.b) for r in rhp.itertuples()}
    assert len(et) >= 55  # the planted twins are found by brute force
    assert len(et & rt) / len(et) >= 0.99, f"recall {len(et & rt) / len(et)}"
    assert rt <= et  # verify step: no pair below the cosine threshold
    # planted twin pairs are (i, i+60)
    assert sum(1 for a, b in et if b == a + 60) >= 55


def test_embedding_near_pairs_bad_method(spark):
    from datasketches_pig_spark.ann.knn import embedding_near_pairs

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="unknown method"):
        embedding_near_pairs(df, method="bogus")


def test_text_ops_degenerate_inputs(spark):
    """Reference null/empty-edge style (MurmurHash3Test.java:111-174): empty,
    whitespace-only, unicode, and null transcripts flow through every text
    operator without error and with sensible values."""
    import pyspark.sql.functions as F

    from datasketches_pig_spark.textops import dedup as dd
    from datasketches_pig_spark.textops.analysis import (
        bpe_ish_token_count,
        doc_fingerprints,
        lang_id,
        quality_features,
        token_count,
    )

    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, "   "),
            (2, "naïve café über schön —ʃɪŋɡəl 分かち書き"),
            (3, None),
            (4, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    cols = docs.select(
        "doc_id",
        lang_id("text").alias("lang"),
        token_count("text").alias("ws"),
        bpe_ish_token_count("text").alias("bpe"),
    ).collect()
    assert len(cols) == 5
    ws = {r["doc_id"]: r["ws"] for r in cols}
    assert ws[0] == 0 and ws[1] == 0 and ws[4] == 8

    assert quality_features(docs, "doc_id", "text").count() == 5
    assert doc_fingerprints(docs, "doc_id", "text").count() == 5

    # dedup operators: degenerate docs produce no pairs, no crash
    assert dd.minhash_dedup_pairs(docs, "doc_id", "text").count() == 0
    assert dd.simhash_near_pairs(docs.filter("doc_id < 4"), "doc_id", "text").count() == 0


def test_minhash_unicode_identical_docs_pair(spark):
    """Unicode-identical documents must pair with jaccard 1.0 through the
    full minhash path (UTF-8 shingling, not byte-lossy)."""
    from datasketches_pig_spark.textops import dedup as dd

    t = "le café naïve — 深層学習 モデル の 蒸留 と 重複 排除 の 検証 手順 を 説明 する"
    docs = spark.createDataFrame(
        [(0, t), (1, t), (2, "totally unrelated words here entirely different")],
        "doc_id long, text string",
    )
    pairs = dd.minhash_dedup_pairs(docs, "doc_id", "text", n=3, threshold=0.8).collect()
    assert [(r["a"], r["b"]) for r in pairs] == [(0, 1)]
    assert pairs[0]["jaccard"] == 1.0


def test_ngram_jaccard_hot_shingle_pruning_flag(spark, docs):
    """Default is exact (no shingle dropped); max_doc_freq prunes shingles
    shared by more docs than the cap — the explicit corpus-scale opt-in."""
    from datasketches_pig_spark.textops.dedup import ngram_jaccard_pairs

    exact = ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).toPandas()
    # cap=1 drops every co-shingled gram → no pair can survive
    pruned = ngram_jaccard_pairs(
        docs, "doc_id", "text", 3, 0.5, max_doc_freq=1
    ).toPandas()
    assert len(exact) > 0 and len(pruned) == 0


def test_containment_dedup_planted(spark):
    """Word-boundary containment pairs on a planted corpus: a quote inside a
    much longer doc (Jaccard-invisible), a mid-word char-level overlap that
    must NOT match, and short docs excluded."""
    from datasketches_pig_spark.textops.dedup import containment_dedup_pairs

    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [
                "alpha beta gamma delta",                              # 0: contained in 1
                "intro words alpha  Beta gamma delta trailing tail words here", # 1
                "xxalpha beta gamma delta",                            # 2: char-level only (mid-word) -> no
                "unrelated totally different content words",           # 3
                "beta gamma",                                          # 4: < 3 tokens -> excluded
                "ALPHA beta gamma delta",                              # 5: case-dup of 0; equal length -> not 'contained'
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {
        (r.contained_id, r.container_id)
        for r in containment_dedup_pairs(df, "doc_id", "text").collect()
    }
    assert (0, 1) in got and (5, 1) in got
    assert not any(a == 2 or b == 2 for a, b in got)
    assert not any(a == 4 for a, b in got)
    assert (0, 5) not in got and (5, 0) not in got  # equal length
    # anchor cap: capping at df<=0 removes everything (completeness knob)
    assert (
        containment_dedup_pairs(df, "doc_id", "text", max_anchor_freq=0).count() == 0
    )


def test_minhash_prefix_verify_parity(spark, monkeypatch):
    """r5 prefix screen: minhash_dedup_pairs with the bottom-p KMV prefilter
    must emit exactly the pairs AND jaccard values of the join-everything
    baseline, on a corpus spanning the screen's routes: exact-by-prefix
    short docs, big docs that must reach the gram join, near-threshold
    pairs, size-ratio rejects, and a CJK char-fallback dup."""
    import numpy as np

    from datasketches_pig_spark.textops import dedup as dd
    from datasketches_pig_spark.textops.dedup import minhash_dedup_pairs

    rng = np.random.default_rng(5150)
    vocab = [f"w{i:03d}" for i in range(400)]
    docs = []

    def words(k):
        return [vocab[int(i)] for i in rng.integers(0, len(vocab), k)]

    i = 0
    for _ in range(30):  # short near-dup pairs (exact-by-prefix route)
        base = words(20)
        edit = list(base)
        edit[int(rng.integers(len(edit)))] = vocab[int(rng.integers(len(vocab)))]
        docs += [(i, " ".join(base)), (i + 1, " ".join(edit))]
        i += 2
    for _ in range(10):  # big-doc near-dups (> 64 grams: gram-join route)
        base = words(200)
        edit = list(base)
        for pos in rng.integers(0, len(edit), 12):
            edit[int(pos)] = vocab[int(rng.integers(len(vocab)))]
        docs += [(i, " ".join(base)), (i + 1, " ".join(edit))]
        i += 2
    for _ in range(10):  # size-ratio rejects that still share LSH bands
        base = words(40)
        docs += [(i, " ".join(base)), (i + 1, " ".join(base * 3))]
        i += 2
    for _ in range(60):  # independent noise
        docs.append((i, " ".join(words(int(rng.integers(15, 120))))))
        i += 1
    # CJK fallback near-dup (no spaces)
    cjk = "電力網の安定性は周波数制御と需給調整に依存する" * 3
    docs += [(i, cjk), (i + 1, cjk[:-2] + "市場")]
    i += 2

    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(8)
    df = df.localCheckpoint()

    screens = []
    orig_screen = dd._prefix_screen

    def spy(cands, sigs, threshold, p):
        screens.append(p)
        return orig_screen(cands, sigs, threshold, p)

    monkeypatch.setattr(dd, "_prefix_screen", spy)
    # this mixed corpus is mostly short docs, so the corpus-adaptive gate
    # (correctly) turns the screen off: the default run is the baseline
    base = {
        (r["a"], r["b"]): r["jaccard"]
        for r in minhash_dedup_pairs(df, "doc_id", "text", 3, 0.5).collect()
    }
    assert screens == []
    # a gate of 0 forces the screen
    monkeypatch.setattr(dd, "PREFIX_SCREEN_MIN_MEAN_SHINGLES", 0)
    for p in (64, 128):  # 128 = the r6 default; 64 must stay parity-safe
        monkeypatch.setattr(dd, "PREFIX_SCREEN_HASHES", p)
        pref = {
            (r["a"], r["b"]): r["jaccard"]
            for r in minhash_dedup_pairs(df, "doc_id", "text", 3, 0.5).collect()
        }
        assert screens[-1] == p
        assert set(base) == set(pref), (p, set(base) ^ set(pref))
        for k in base:
            assert abs(base[k] - pref[k]) < 1e-12, (p, k, base[k], pref[k])
    assert len(base) >= 40  # the corpus actually produced dup pairs


def test_prefix_screen_adaptive_probe(spark):
    """r5 corpus-adaptive gate: the bounded probe's mean-shingle estimate
    matches the kernel's accounting for word docs (tokens-n+1) and
    no-space-script docs (chars-cfn+1)."""
    from datasketches_pig_spark.textops.dedup import _estimate_mean_shingles

    word = spark.createDataFrame(
        [(0, " ".join(f"w{j}" for j in range(83)))], "doc_id long, text string"
    )
    assert _estimate_mean_shingles(word, "text", 3, 5) == 81.0  # 83 tokens

    cjk_text = "安定性は周波数制御" * 10  # 90 chars, 1 ws-token
    cjk = spark.createDataFrame([(0, cjk_text)], "doc_id long, text string")
    assert _estimate_mean_shingles(cjk, "text", 3, 5) == 86.0  # chars-5+1
