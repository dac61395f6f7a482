"""Document-level deduplication operators for training-data pipelines.

Four families, all built on the same primitives as the clip pipeline:

* exact dedup        — hash-groupBy on normalized text (pure relational)
* n-gram Jaccard     — relational shingle self-join with exact Jaccard
* MinHash + LSH      — our murmur/minhash kernels + band join, exact verify
* SimHash            — 64-bit fingerprints, chunk-banded Hamming join

The relational forms (exact, n-gram) are DuckDB-oracle-checkable; MinHash-LSH
output equals the brute-force n-gram Jaccard pairs at the same threshold when
banding recall is ~1 (b=32, r=4 → miss prob ≈ 5e-8 at J=0.8), which the
driver's oracle comparison exercises.

Scale notes: the shingle self-join joins on the shingle value — Catalyst
shuffles both sides on the shingle, so frequency-skewed shingles are the hot
keys; ``ngram_jaccard_pairs`` drops top-frequency shingles (stopword-gram
pruning, standard at corpus scale) before the join when ``max_doc_freq`` is
set.  MinHash-LSH is the 100 TB path: candidate generation touches only
(band_key, doc_id) pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from datasketches_pig_spark.operators.signatures import (
    band_hashes,
    kmv_prefixes,
    minhash_signatures,
    word_ngram_hash_sets,
)


def tokens_expr(text_col: str):
    """Whitespace tokens of lowercased text — same in Spark and ANSI SQL."""
    return F.split(F.trim(F.lower(F.col(text_col))), r"\s+")


def word_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    char_fallback_n: int | None = 5,
) -> DataFrame:
    """(id, shingle) distinct word n-grams, relationally (no UDF).

    ``char_fallback_n`` (default 5): documents with fewer than ``n``
    whitespace tokens — the CJK / no-space-script case — shingle as
    CHARACTER ``char_fallback_n``-grams of the whitespace-normalized text
    instead (the relational twin of the ``word_ngram_hash_sets`` kernel
    fallback; the two partitions never share a shingle string, word grams
    containing a space where char grams of one-token docs cannot)."""
    toks = df.select(F.col(id_col).alias("id"), tokens_expr(text_col).alias("toks"))
    # guard size < n: F.sequence would count *down* for a negative end
    gram_arr = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - n),
            lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    if char_fallback_n is not None:
        cn = char_fallback_n
        norm = F.concat_ws(" ", F.col("toks"))
        gram_arr = F.when(F.size("toks") >= n, gram_arr).otherwise(
            F.when(
                F.length(norm) >= cn,
                F.transform(
                    F.sequence(F.lit(1), F.length(norm) - cn + 1),
                    lambda i: F.substring(norm, i, F.lit(cn)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        )
    return toks.select("id", F.explode(gram_arr).alias("shingle")).distinct()


def exact_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    assume_collision_free: bool = False,
) -> DataFrame:
    """Exact duplicate mapping on normalized text: every doc → canonical
    (min id with identical normalized text).

    Default path: exactly ONE exchange — a window min over
    ``(xxhash64(norm), norm)``: the document body crosses the wire once and
    is never joined back; grouping includes the full text, so hash
    collisions are harmless (the hash only cheapens the sort comparator —
    8-byte prefix before any string compare).  Caveat: a text duplicated
    10^9 times is one window group = one (spillable) task; that regime is
    what the fast path below is for.

    ``assume_collision_free=True`` is the 100 TB fast path: key on a 128-bit
    composite (two independent xxhash64 streams + normalized length) and
    never shuffle text at all — ~24 B/row, map-side partial aggregation
    collapsing mass-duplicated texts before the exchange.  Collision odds at
    10^12 docs are < 1e-14 (birthday bound over 2^128), the standard
    content-addressable dedup contract — recommended in production.
    """
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    if assume_collision_free:
        keyed = df.select(
            F.col(id_col).alias("doc_id"),
            F.xxhash64(norm).alias("__h1"),
            F.xxhash64(F.lit("dsps-h2"), norm).alias("__h2"),
            F.length(norm).alias("__len"),
        )
        canon = keyed.groupBy("__h1", "__h2", "__len").agg(
            F.min("doc_id").alias("canonical_id")
        )
        return keyed.join(canon, ["__h1", "__h2", "__len"]).select(
            "doc_id", "canonical_id"
        )
    from pyspark.sql import Window

    keyed = df.select(
        F.col(id_col).alias("doc_id"),
        F.xxhash64(norm).alias("__h"),
        norm.alias("__norm"),
    )
    w = Window.partitionBy("__h", "__norm")
    return keyed.select(
        "doc_id", F.min("doc_id").over(w).alias("canonical_id")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    char_fallback_n: int | None = 5,
) -> DataFrame:
    """All pairs (a < b) with word-n-gram Jaccard ≥ threshold — the
    brute-force-exact dedup (quadratic in co-shingled docs; the oracle for
    the MinHash path).  The default is EXACT (no shingle dropped) so this
    operator stays a valid oracle.  Docs with < n tokens use char
    ``char_fallback_n``-grams (no-space scripts; see ``word_ngrams``).

    At corpus scale, pass ``max_doc_freq`` (e.g. 1000) to drop shingles
    appearing in more docs than that before the self-join — without it one
    stopword-gram ("of the and") makes the join quadratic in corpus size.
    With it set, Jaccard values over hot-shingled pairs are approximate
    (stopword-gram pruning); the MinHash-LSH path is the production dedup."""
    grams = word_ngrams(df, id_col, text_col, n, char_fallback_n)
    if max_doc_freq:
        hot = grams.groupBy("shingle").count().filter(F.col("count") > max_doc_freq)
        grams = grams.join(hot.select("shingle"), "shingle", "left_anti")
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = grams.select(F.col("id").alias("a"), "shingle")
    b = grams.select(F.col("id").alias("b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("b"), F.col("n_sh").alias("nb"))
    return (
        common.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


MINHASH_SCHEMA = "id long, bands array<long>, n_shingles int, kmv array<long>"


def minhash_stage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 128,
    seed: int = 9001,
    char_fallback_n: int | None = 5,
    band_count: int = 32,
    rows_per_band: int = 4,
    kmv_prefix: int = 64,
) -> DataFrame:
    """(id, bands, n_shingles, kmv) via the flat-array shingle
    kernel (``word_ngram_hash_sets``: batch tokenize → token murmur →
    window-of-token-hashes gram murmur → per-doc distinct by
    ``segment_distinct``) — one Arrow pass, no shuffle, no per-token Python.
    Docs with < n tokens shingle as char ``char_fallback_n``-grams (the
    no-space-script fallback).

    r5: the 128-perm MinHash signature is folded into ``band_count`` 64-bit
    band keys INSIDE the pass (the same rule the clip pipeline's
    ``signature_stage`` follows — the signature itself never leaves the
    kernel, 32 longs travel instead of 128), and each doc also emits
    ``kmv`` — the bottom-``kmv_prefix`` of its distinct gram hashes (the
    per-doc segments come out of the kernel already uint64-sorted, so
    ``kmv_prefixes`` slices them without a second sort).  ``n_shingles``
    stays the EXACT distinct gram count; together they power the
    prefix-verify prefilter in
    ``minhash_dedup_pairs`` (``kmv_prefix=0`` emits empty ``kmv`` arrays
    for the route that runs no prefilter)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            concat, counts = word_ngram_hash_sets(
                list(pdf[text_col]), n, seed, char_fallback_n
            )
            mh = minhash_signatures(concat, counts, num_perm, seed)
            bh = band_hashes(mh, band_count, rows_per_band, seed)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "bands": list(bh.view(np.int64)),
                    "n_shingles": counts.astype(np.int32),
                    "kmv": kmv_prefixes(concat, counts, kmv_prefix),
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=MINHASH_SCHEMA)


_PREFIX_REJECT_DELTA = 1e-12  # per-pair misroute probability of the KL reject


_PROBE_ROWS = 20_000

# text prefix screen (see minhash_dedup_pairs): bottom-p KMV width, and the
# probed mean shingle count below which the screen is skipped (0 = no gate)
PREFIX_SCREEN_HASHES = 128
PREFIX_SCREEN_MIN_MEAN_SHINGLES = 4 * PREFIX_SCREEN_HASHES


def _estimate_mean_shingles(
    df: DataFrame, text_col: str, n: int, char_fallback_n: int | None
) -> float:
    """Mean shingle count over a bounded prefix of the table — pure JVM
    column algebra (no Arrow pass, no full scan: LIMIT stops the probe
    after the first partitions).  Word docs contribute ``tokens - n + 1``,
    no-space-script docs their char-gram count — the same accounting the
    kernel applies.  Performance heuristic only: either outcome yields
    identical pairs."""
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    cfn = char_fallback_n or n
    est = F.when(toks >= n, toks - n + 1).otherwise(
        F.greatest(F.length(F.col(text_col)) - cfn + 1, F.lit(0))
    )
    row = (
        df.select(est.alias("s")).limit(_PROBE_ROWS).agg(F.avg("s").alias("m"))
    ).collect()[0]
    return float(row["m"]) if row["m"] is not None else 0.0


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_perm: int = 128,
    seed: int = 9001,
    char_fallback_n: int | None = 5,
) -> DataFrame:
    """MinHash-LSH candidates, exact-verified by a shingle join restricted to
    candidates (the scale path: quadratic work only inside LSH buckets).

    The verify pass only ever shingles documents that appear in some
    candidate pair (semi-join pushdown into the source scan): Jaccard needs
    |A|, |B|, |A∩B| for candidate docs only, so at corpus scale the exact
    verify costs O(candidates), not O(corpus).

    Docs with < n tokens (CJK / no-space scripts) shingle as char
    ``char_fallback_n``-grams in BOTH the signature kernel and the exact
    verify (``word_ngrams`` applies the same fallback), so their Jaccard is
    char-gram Jaccard and their near-dups are found like everyone else's.

    **Prefix verify (r5, p = ``PREFIX_SCREEN_HASHES``, the stage's
    bottom-p KMV width):** before any shingle materializes, candidate
    pairs pass through two cheap screens —

    1. size-ratio (JVM, 4 B/side): J ≤ min(|A|,|B|)/max(|A|,|B|) with the
       EXACT distinct-gram counts from the signature pass — a deterministic
       reject, zero false drops by algebra;
    2. bottom-p KMV (JVM since r6, ≤ 8p B/side): pairs whose prefix union
       fits in p with both sides complete get their EXACT Jaccard emitted
       directly (hits/union is the same integer division the gram join
       would compute) and skip the join; other pairs are rejected when the
       inverted Chernoff-KL upper bound at δ = 1e-12 sits below the
       threshold.

    Only the surviving uncertain pairs — near-threshold, large-doc — reach
    the gram join, so the O(|doc| · pairs) shingle shuffle shrinks to the
    pairs that genuinely need it.  Without the screen every candidate
    reaches the gram join: the join-everything baseline (the parity
    reference).

    **Why p = 128 (r6):** the KL reject can only fire when the prefix
    estimate sits below ``ub⁻¹(τ)`` — at δ = 1e-12 that cut is est ≲ 0.37
    for p = 64 but est ≲ 0.50 for p = 128 (τ = 0.8).  b32/r4 banding emits
    J ≈ 0.45 boilerplate/template pairs as candidates ~70% of the time but
    J ≲ 0.37 pairs only ~25% — so at p = 64 the screen sits below the
    candidate stream's similarity range and rejects almost nothing (pure
    toll), while p = 128 covers exactly the mid-J candidate mass a web
    corpus produces.  Measured (40 k × ~2750-shingle docs, 8% near-dups at
    J ≈ 0.86 + 30% boilerplate at J ≈ 0.44, 8 pinned cores, 3 interleaved
    rounds): p = 128 screen 93–153 s vs join-everything 138–203 s —
    1.20×/1.65×/1.33× faster with identical output; p = 64 never won.  On
    a corpus with no sub-threshold candidate mass (all planted pairs at
    J ≈ 0.6 with τ = 0.8) the screen rejects nothing at either p and is
    pure toll — the win region is candidate-stream composition, not doc
    length alone; the doc-length gate below is a cheap proxy for the
    regime where the toll is amortizable at all.

    **Corpus-adaptive gate (r5):** the screen pays a fixed toll — the
    signature frame (incl. the bottom-p arrays) must materialize for its
    second consumer, plus one extra join-stage pair — that only amortizes
    when the gram join it displaces is expensive, i.e. when docs are long.
    Measured on the 1.6 M-doc short-doc scaling corpus (~80 shingles/doc,
    8 cores): screen ON 93.0–93.1 s vs OFF 82.6–88.1 s at identical output.
    So unless ``PREFIX_SCREEN_MIN_MEAN_SHINGLES`` (4·p) is 0, a bounded
    probe (first ``_PROBE_ROWS`` rows, pure JVM column algebra on the raw
    table) estimates the mean shingle count and the screen auto-disables
    below that bar.  The decision affects the physical plan only — both
    routes produce identical pairs (parity test
    ``test_minhash_prefix_verify_parity``).  Both constants are read at
    call time, so tests and tools can set them."""
    from datasketches_pig_spark.operators.lsh import lsh_candidates

    p = PREFIX_SCREEN_HASHES
    min_mean = PREFIX_SCREEN_MIN_MEAN_SHINGLES
    screen = not min_mean or (
        _estimate_mean_shingles(df, text_col, n, char_fallback_n) >= min_mean
    )

    # zero-shingle docs (empty/whitespace/null text) share every band and
    # would pair as mutual near dups; they are the exact-dedup path's business
    sigs = minhash_stage(
        df, id_col, text_col, n, num_perm, seed, char_fallback_n,
        kmv_prefix=p if screen else 0,
    ).filter(F.col("n_shingles") > 0)
    exact_prefix = None
    if screen:
        # two consumers (candidates + prefilter joins): materialize the slim
        # signature rows once so the Arrow shingle pass runs exactly once.
        # The candidate frame itself stays LAZY — its single consumer is the
        # screen, whose own localCheckpoint materializes the whole chain in
        # one job (one fewer barrier than checkpointing candidates first)
        sigs = sigs.localCheckpoint()
        cands = lsh_candidates(sigs, F.col("bands"), cap=64)
        cands, exact_prefix = _prefix_screen(cands, sigs, threshold, p)
    else:
        cands = lsh_candidates(sigs, F.col("bands"), cap=64).localCheckpoint()

    cand_ids = (
        cands.select(F.col("a").alias(id_col))
        .unionByName(cands.select(F.col("b").alias(id_col)))
        .distinct()
    )
    cand_docs = df.join(cand_ids, id_col, "left_semi")
    grams = word_ngrams(
        cand_docs, id_col, text_col, n, char_fallback_n
    ).localCheckpoint()
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    ga = grams.select(F.col("id").alias("a"), "shingle")
    gb = grams.select(F.col("id").alias("b"), "shingle")
    common = (
        cands.join(ga, "a")
        .join(gb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("b"), F.col("n_sh").alias("nb"))
    joined = (
        common.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    if exact_prefix is not None:
        joined = joined.unionByName(exact_prefix)
    return joined


def _prefix_screen(
    cands: DataFrame, sigs: DataFrame, threshold: float, p: int
) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs → (uncertain pairs for the gram join, exact-by-prefix
    accepted pairs).  See ``minhash_dedup_pairs`` docstring.

    Pure JVM since r6: the sketch prefixes join sign-flipped and the KL
    reject compares the EXACT bottom-``denom``-of-union hit count against a
    precomputed per-denom integer threshold (``prefix_hit_thresholds``), so
    routing decisions are bit-identical to the r5 Arrow kernel's — with no
    Arrow boundary.  Unlike the clip verify's tier 1.5
    (``operators/verify.py``), which brackets the hit count from unsorted
    set sizes and defers ambiguity to a cheap full-sketch tier 2, the text
    screen PAYS the per-pair ``array_sort(array_union(...))`` of ≤ 2p
    longs: its "tier 2" is the full gram join, and the bracket
    ``min(inter, denom)`` is far too optimistic on long docs to reject
    anything — both prefixes cover the same hash range, so
    ``inter ≈ 2J/(1+J)·p`` while the true union-restricted hit count is
    ``J·p`` (at J = 0.44, p = 128: bracket 78 vs true 56 — the bracket
    form measured a ~9% reject rate on a boilerplate corpus where the
    exact form rejects ~90%).  Exact-by-prefix accepts emit
    ``inter/union`` — the same integer ratio the gram join would compute."""
    from datasketches_pig_spark.operators.verify import (
        _flipped_prefix,
        prefix_hit_thresholds,
    )

    U = prefix_hit_thresholds(p, _PREFIX_REJECT_DELTA, (threshold,))["U"][
        threshold
    ]
    # sigs carry the bottom-p prefix already (kmv_prefix=p), so the slice
    # inside _flipped_prefix keeps every hash
    flipped = _flipped_prefix("kmv", p)

    # ONE slim join chain (id → exact count + bottom-p prefix per side);
    # size-rejects are rare among LSH candidates (banding selects similar
    # docs), so shipping their ≤ 8p-byte prefixes through this join costs
    # less than a second join stage pair would
    sk = sigs.select("id", "n_shingles", flipped.alias("kmvf"))
    ka = sk.select(
        F.col("id").alias("a"),
        F.col("n_shingles").alias("na"),
        F.col("kmvf").alias("a_kmv"),
    )
    kb = sk.select(
        F.col("id").alias("b"),
        F.col("n_shingles").alias("nb"),
        F.col("kmvf").alias("b_kmv"),
    )

    # exact pair stats in one codegen projection: the sorted distinct union
    # of the two ≤ p-element prefixes (sign-flipped, so signed sort order IS
    # unsigned hash order) gives union size, the bottom-denom cutoff, and —
    # filtering the intersection at the cutoff — the exact bottom-denom-of-
    # union hit count the KL threshold table is indexed by
    u_sorted = F.array_sort(F.array_union("a_kmv", "b_kmv"))
    union = F.size(u_sorted)
    ca, cb = F.size("a_kmv"), F.size("b_kmv")
    inter = ca + cb - union
    denom = F.least(union, F.lit(p))
    cutoff = F.element_at(u_sorted, denom)
    hits = F.size(F.filter(F.array_intersect("a_kmv", "b_kmv"), lambda x: x <= cutoff))
    exact = (ca < p) & (cb < p) & (union <= p)
    est = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    ub_ge_thr = hits >= F.element_at(F.lit(U), denom + 1)
    # deterministic size-ratio bound: J <= min/max regardless of overlap
    # (exact distinct-gram counts from the signature pass)
    size_reject = F.least("na", "nb") < threshold * F.greatest("na", "nb")
    route = (
        F.when(size_reject, F.lit(0))
        .when(exact, F.when(est >= threshold, F.lit(2)).otherwise(F.lit(0)))
        .when(~ub_ge_thr, F.lit(0))
        .otherwise(F.lit(1))
    )

    screened = (
        cands.join(ka, "a")
        .join(kb, "b")
        .select(
            "a", "b", est.alias("jaccard"), route.alias("route")
        )
        .localCheckpoint()
    )
    uncertain = screened.filter(F.col("route") == 1).select("a", "b")
    exact_acc = screened.filter(F.col("route") == 2).select("a", "b", "jaccard")
    return uncertain, exact_acc


def containment_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_anchor_freq: int | None = None,
    char_fallback_n: int | None = 5,
) -> DataFrame:
    """Partial-copy detection: (contained_id, container_id) pairs where the
    shorter document's whole normalized token sequence appears contiguously
    inside the longer one (word-boundary containment — the document-level
    form of the pipeline's suffix-array substring verifier,
    ``operators/verify.py:substring_containment``).

    Containment pairs are invisible to Jaccard-threshold dedup (a quote
    inside a 100× longer page has Jaccard ≈ |A|/|B| ≈ 0.01), so this is its
    own operator family in a training-data pipeline (quotes, boilerplate
    inclusion, partial scrapes).

    Scale design — anchor-shingle candidates, not all-pairs: a contained
    doc's every word n-gram is a word n-gram of its container (contiguous
    token subsequence), so it suffices to join each doc's single RAREST
    shingle (min global doc-frequency, ties by shingle value) against the
    corpus shingle table: candidates per doc ≈ that minimum frequency,
    which for any document with even one distinctive n-gram is tiny.  The
    exact containment check then runs JVM-side (``contains`` on
    space-padded normalized text) for candidates only.  Docs with fewer
    than ``n`` tokens have no shingles and are excluded (their exact and
    near duplicates are ``exact_dedup``/``minhash``'s business).

    ``max_anchor_freq``: optional completeness/cost trade — docs whose
    rarest shingle is still hotter than this (pure-boilerplate documents)
    are skipped on the contained side.  Default None = complete.

    No-space scripts: docs with < n tokens shingle as char
    ``char_fallback_n``-grams (``word_ngrams`` fallback) and verify with a
    PLAIN substring check — word-boundary space padding is meaningless
    where words aren't space-delimited.  Word and char-fallback docs never
    share a shingle (word n-grams carry exactly n-1 spaces, a fallback
    doc's whole text fewer), so every candidate pair is same-type and the
    verify picks its form from the contained side's type.
    """
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    docs = df.select(
        F.col(id_col).alias("id"),
        norm.alias("__norm"),
        (F.size(tokens_expr(text_col)) >= n).alias("__word"),
    )
    grams = word_ngrams(df, id_col, text_col, n, char_fallback_n)
    freq = grams.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    gf = grams.join(freq, "shingle")
    # min-of-struct, not a window: partial-aggregates map-side, so the
    # rarest-shingle pick never single-tasks a shingle-heavy document
    anchors = (
        gf.groupBy("id")
        .agg(F.min(F.struct("df", "shingle")).alias("m"))
        .select("id", F.col("m.shingle").alias("shingle"), F.col("m.df").alias("df"))
    )
    if max_anchor_freq is not None:
        anchors = anchors.filter(F.col("df") <= max_anchor_freq)
    cand = (
        anchors.select(F.col("id").alias("contained_id"), "shingle")
        .join(
            grams.select(F.col("id").alias("container_id"), "shingle"),
            "shingle",
        )
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
    )
    da = docs.select(
        F.col("id").alias("contained_id"),
        F.col("__norm").alias("__na"),
        F.col("__word").alias("__wa"),
    )
    db = docs.select(F.col("id").alias("container_id"), F.col("__norm").alias("__nb"))
    pad = lambda c: F.concat(F.lit(" "), c, F.lit(" "))  # noqa: E731
    contained = F.when(
        F.col("__wa"), F.contains(pad(F.col("__nb")), pad(F.col("__na")))
    ).otherwise(F.contains(F.col("__nb"), F.col("__na")))
    return (
        cand.join(da, "contained_id")
        .join(db, "container_id")
        .filter((F.length("__na") < F.length("__nb")) & contained)
        .select("contained_id", "container_id")
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_hamming: int = 3,
    seed: int = 9001,
    bucket_cap: int = 256,
    char_fallback_n: int | None = 5,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints, Manku 3-of-(h+3)-block
    keys (pigeonhole: Hamming ≤ h ⇒ some 3 blocks untouched ⇒ shared key),
    exact Hamming verify (codegen'd ``bit_count(xor)``, never Python).

    Recall contract (``operators.lsh.lsh_candidates``): complete while no
    (combo, key) bucket exceeds ``bucket_cap``.  At h=3 keys are ~32 bits,
    so an over-cap bucket means > cap docs agree on 33 fingerprint bits.
    Larger h widens the guarantee but multiplies band rows by C(h+3,3) and
    coarsens keys; h ≤ 3 is the recommended 100 TB setting.

    The C(h+3,3) combo keys are computed INSIDE the signature Arrow pass
    (``simhash_combo_keys_np``) and leave it as one array column — the plan
    explodes an array instead of evaluating (and codegen-compiling) 84
    shift/mask expressions per row at h=6."""
    from datasketches_pig_spark.operators.lsh import hamming_near_pairs
    from datasketches_pig_spark.operators.signatures import (
        simhash64,
        simhash_combo_keys_np,
        word_ngram_hash_sets,
    )

    # zero-shingle docs (empty/whitespace/null text) all fingerprint to 0 and
    # would pair as mutual "near dups"; they are the exact-dedup path's
    # business, same contract as minhash_dedup_pairs
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            concat, counts = word_ngram_hash_sets(
                list(pdf[text_col]), n, seed, char_fallback_n
            )
            sh = simhash64(concat, counts)
            keys = simhash_combo_keys_np(sh, max_hamming)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "simhash": sh,
                    "n_shingles": counts.astype(np.int32),
                    "ckeys": list(keys),
                }
            )

    sigs = (
        df.select(id_col, text_col)
        .mapInPandas(
            run, "id long, simhash long, n_shingles int, ckeys array<long>"
        )
        .filter(F.col("n_shingles") > 0)
        .localCheckpoint()
    )
    return hamming_near_pairs(sigs, F.col("ckeys"), max_hamming, bucket_cap)
