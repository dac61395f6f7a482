"""Candidate-pair verification — the analog of the reference's
``theta.JaccardSimilarity`` (``pig/theta/JaccardSimilarity.java:115-136``)
computed over bottom-k KMV sketches, with the reference's exact-mode rule:
when both sketches retained fewer than k values they *are* the full shingle
sets, so the estimate is the exact Jaccard (``dictionary.html:62-63``).

Pipeline shape: pairs ⋈ signatures (a-side) ⋈ signatures (b-side) → one
JVM projection scores both modalities with ``sketch.theta.theta_jaccard``.
Only fixed-size sketches + the (small) transcript travel into this stage —
audio payloads never do — and the one Python step is the suffix-array
containment check, run in an Arrow-batched pass over the borderline rows
alone.

Composite verification rule (each dup class leaves one modality near-exact —
byte-copy/ulaw/trim/gain keep the transcript, a transcript edit keeps the
audio — while unrelated clips score near zero on BOTH):
  exact_key equal                                      → dup
  text_jaccard ≥ near_exact AND audio_jaccard ≥ weak   → dup
  audio_jaccard ≥ near_exact AND (text_jaccard ≥ weak
                                  OR substring containment) → dup
  text_jaccard ≥ jaccard_threshold AND audio_jaccard ≥ 0.6  → dup
with a generous SimHash Hamming prefilter (skips the KMV set math for clear
negatives without risking recall).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.operators.shingle import normalize_text
from datasketches_pig_spark.sketch.theta import theta_jaccard

PREFILTER_HAMMING = 26  # of 64 bits; clear-negative cutoff, recall-safe

# prefix-verify misroute probability per (pair, modality, bound side): a pair
# whose true full-sketch estimate sits beyond the bound is tier-1-decided
# "wrong" (vs the full verify) with at most this probability — at 1e-9 even
# a 10^9-candidate day processes with ~1 expected misroute, far inside the
# recall ≥ 0.99 budget, and on the seeded test corpora parity is exact
PREFIX_DELTA = 1e-9

# prefix-KMV tier (see verify_pairs): sketch hashes shipped per side, and the
# candidate-pair count below which verify runs the single tier (0 = no gate)
PREFIX_HASHES = 64
PREFIX_MIN_PAIRS = 500_000

# ---------------------------------------------------------------------------
# suffix-array longest-common-substring (transcript containment verifier)
# ---------------------------------------------------------------------------

def _suffix_array(s: bytes) -> tuple[np.ndarray, list[np.ndarray]]:
    """O(n log² n) suffix array via repeated radix ranking (numpy argsort).

    Returns ``(sa, levels)`` where ``levels[l]`` is the rank of every suffix
    by its first ``2^l`` characters — the sparse table that lets the LCP
    computation below stay fully vectorized.  (Short suffixes are padded
    with −1 in the doubling keys, so two suffixes share a level-``l`` rank
    iff BOTH have ≥ ``2^l`` characters and those characters match — distinct
    suffixes of one string always differ in length, so a truncated key can
    never alias a full one.)
    """
    n = len(s)
    rank = np.frombuffer(s, dtype=np.uint8).astype(np.int64)
    levels = [rank]
    sa = np.argsort(rank, kind="stable")
    tmp = np.empty(n, dtype=np.int64)
    k = 1
    while k < n:
        key2 = np.where(np.arange(n) + k < n, np.roll(rank, -k), -1)
        order = np.lexsort((key2, rank))
        tmp[order[0]] = 0
        prev_r, prev_k2 = rank[order[:-1]], key2[order[:-1]]
        cur_r, cur_k2 = rank[order[1:]], key2[order[1:]]
        tmp[order[1:]] = np.cumsum((cur_r != prev_r) | (cur_k2 != prev_k2))
        rank = tmp.copy()
        levels.append(rank)
        sa = order
        if rank[sa[-1]] == n - 1:
            break
        k *= 2
    return sa, levels


def _lcp_adjacent(sa: np.ndarray, levels: list[np.ndarray]) -> np.ndarray:
    """LCP of each adjacent suffix pair in SA order — the classic
    sparse-table walk (match 2^l chars at a time from the highest doubling
    level down), vectorized across ALL pairs at once.  Replaces the r1
    per-character Python Kasai loop, which made each long-transcript
    borderline pair a multi-second task stall (SURVEY §7 hard-part (d))."""
    n = len(sa)
    if n < 2:
        return np.zeros(0, dtype=np.int64)
    i = sa[1:].copy()
    j = sa[:-1].copy()
    h = np.zeros(n - 1, dtype=np.int64)
    for lvl in range(len(levels) - 1, -1, -1):
        step = np.int64(1 << lvl)
        r = levels[lvl]
        ok = (i < n) & (j < n)
        eq = ok & (r[np.minimum(i, n - 1)] == r[np.minimum(j, n - 1)])
        adv = np.where(eq, step, np.int64(0))
        i = i + adv
        j = j + adv
        h += adv
    return h


def longest_common_substring(x: str, y: str) -> int:
    """Length of the longest common substring, via suffix array + vectorized
    sparse-table LCP over x + sep + y (adjacent suffixes from different
    halves)."""
    if not x or not y:
        return 0
    bx = x.encode("utf-8")
    by = y.encode("utf-8")
    s = bx + b"\x00" + by
    sa, levels = _suffix_array(s)
    lcp = _lcp_adjacent(sa, levels)
    split = len(bx)
    from_x = sa < split
    cross = from_x[1:] != from_x[:-1]
    if not cross.any():
        return 0
    return int(lcp[cross].max())


def _chunked_containment(
    s: str, longer: str, min_frac: float, chunk: int = 512, max_probes: int = 128
) -> bool:
    """Bounded containment for over-cap transcripts: probe evenly spaced
    width-``chunk`` slices of the shorter string for verbatim occurrence in
    the longer (C-speed ``str`` search, ≤ ``max_probes`` probes).

    Recall-safe relaxation: if a contiguous common substring covers
    ``min_frac`` of the shorter, every probe that lands fully inside it
    hits, so the hit fraction is at least ``min_frac − 2·chunk/len(s) −
    2/n_probes`` — that is the accept threshold, which therefore never
    rejects a pair the exact LCS rule accepts.  Precision gives up at most
    the slack (a few percent at cap scale), on pairs that already carry a
    near-exact audio match."""
    ls = len(s)
    if ls <= chunk:
        return s in longer
    n = min(max_probes, ls // chunk)
    if n < 2:
        return s[: chunk] in longer
    starts = np.linspace(0, ls - chunk, n).astype(np.int64)
    hits = sum(1 for st in starts if s[st : st + chunk] in longer)
    thresh = min_frac - 2.0 * chunk / ls - 2.0 / n
    return hits / n >= thresh


def substring_containment(
    x: str, y: str, min_frac: float = 0.8, max_chars: int | None = None
) -> bool:
    """True if the shorter normalized transcript is (mostly) contained in the
    longer one: LCS ≥ min_frac × len(shorter).

    ``max_chars`` (``DedupConfig.max_verify_chars``) caps the exact
    suffix-array path: when the longer normalized transcript exceeds it,
    the decision comes from the bounded chunk-probe check instead — per-pair
    cost is then O(probes · |longer|) C-level scanning rather than an
    unbounded O((|x|+|y|) log²) sort per pair."""
    nx, ny = normalize_text(x or ""), normalize_text(y or "")
    if not nx or not ny:
        return False
    s, longer = (nx, ny) if len(nx) <= len(ny) else (ny, nx)
    if max_chars is not None and len(longer) > max_chars:
        return _chunked_containment(s, longer, min_frac)
    shorter = min(len(nx.encode()), len(ny.encode()))
    if shorter == 0:
        return False
    return longest_common_substring(nx, ny) >= min_frac * shorter


# ---------------------------------------------------------------------------
# verify stage
# ---------------------------------------------------------------------------

_JACCARD_SCHEMA = (
    "a string, b string, text_jaccard double, audio_jaccard double, "
    "text_hamming int, audio_hamming int"
)


def _kl_div(p: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Elementwise Bernoulli KL divergence kl(p ‖ q), safe at p ∈ {0, 1}."""
    q = np.clip(q, 1e-15, 1 - 1e-15)
    out = np.zeros_like(q, dtype=np.float64)
    pos = p > 0
    out[pos] += p[pos] * np.log(p[pos] / q[pos])
    lt1 = p < 1
    out[lt1] += (1 - p[lt1]) * np.log((1 - p[lt1]) / (1 - q[lt1]))
    return out


def binomial_kl_bounds(
    est: np.ndarray, n: np.ndarray, delta: float
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized Chernoff-KL confidence interval for a binomial/hyper-
    geometric mean: the largest (smallest) q with n·kl(est ‖ q) ≤ ln(1/δ).

    This is the bound that makes prefix-KMV verify sound: the prefix hit
    count is a without-replacement sample of the membership indicators the
    full-sketch estimate averages (hash order is a uniform permutation of
    the union), so hypergeometric tails apply and are dominated by the
    binomial Chernoff bound inverted here.  40 bisection steps, pure numpy
    over the whole batch.  Rows with n == 0 get the vacuous [0, 1]."""
    est = np.asarray(est, dtype=np.float64)
    n = np.asarray(n, dtype=np.float64)
    budget = np.full_like(est, np.inf)
    nz = n > 0
    budget[nz] = np.log(1.0 / delta) / n[nz]

    # ub: bisect on [est, 1]; hi converges to the boundary from OUTSIDE the
    # feasible set, i.e. conservatively large — the safe side for an upper
    # bound (symmetrically lo for the lower bound)
    lo, hi = est.copy(), np.ones_like(est)
    for _ in range(40):
        mid = 0.5 * (lo + hi)
        over = _kl_div(est, mid) > budget
        hi = np.where(over, mid, hi)
        lo = np.where(over, lo, mid)
    ub = np.where(nz, hi, 1.0)

    lo, hi = np.zeros_like(est), est.copy()
    for _ in range(40):
        mid = 0.5 * (lo + hi)
        over = _kl_div(est, mid) > budget
        lo = np.where(over, mid, lo)
        hi = np.where(over, hi, mid)
    lb = np.where(nz, lo, 0.0)
    return lb, ub


def prefix_hit_thresholds(
    p: int, delta: float, taus: tuple[float, ...]
) -> dict:
    """Integer hit-count thresholds that make the Chernoff-KL routing a pure
    JVM lookup: the bounds depend only on ``(hits, denom)`` with
    ``denom ≤ p``, so for every denom d and threshold τ precompute

      L[τ][d] = min { h : lb(h/d, d) ≥ τ }   (accept atom: hits ≥ L)
      U[τ][d] = min { h : ub(h/d, d) ≥ τ }   (reject atom refuted: hits < U)

    from the SAME ``binomial_kl_bounds`` bisection the Arrow kernel used —
    the integer-grid decisions are exactly the float comparisons it made.
    d+1 marks "no h certifies" (monotone in h, so min is well-defined).
    """
    taus = tuple(sorted(set(taus)))
    L = {t: [0] * (p + 1) for t in taus}
    U = {t: [0] * (p + 1) for t in taus}
    for d in range(p + 1):
        if d == 0:
            # n = 0 → vacuous [0, 1]: lb never reaches τ>0, ub always does.
            # Unreachable in practice (denom = 0 ⇒ both sides empty ⇒ the
            # row is 'known'); kept for total coverage of the lookup.
            for t in taus:
                L[t][0] = 1
                U[t][0] = 0
            continue
        hs = np.arange(d + 1)
        lb, ub = binomial_kl_bounds(hs / d, np.full(d + 1, d), delta)
        for t in taus:
            lok = np.nonzero(lb >= t)[0]
            uok = np.nonzero(ub >= t)[0]
            L[t][d] = int(lok[0]) if len(lok) else d + 1
            U[t][d] = int(uok[0]) if len(uok) else d + 1
    return {"L": L, "U": U}


def _score_full(
    slim_pairs: DataFrame, signatures: DataFrame, kmv_k: int, bcast: bool = False
) -> DataFrame:
    """(a, b, hammings) pairs ⋈ FULL KMV sketches → KMV Jaccard estimates,
    one JVM projection: ``theta_jaccard`` over the sign-flipped sketches
    (hits in the union's bottom-k over ``min(|union|, k)`` — the scalar
    ``signatures.kmv_jaccard`` to the bit, exact when both sides are).

    materialize: consumed by both the borderline and plain branches — the
    scoring projection must not run twice (rows are 6 scalars, tiny).
    localCheckpoint, NOT persist: with a lazy cache the two consumer stages
    race inside one job and double-compute partitions before the cache
    lands (measured: 2-core verify 8.9s -> 11.1s with persist)."""
    kmv = signatures.select(
        "clip_id",
        _flipped_prefix("text_kmv", kmv_k).alias("text_kmv"),
        _flipped_prefix("audio_kmv", kmv_k).alias("audio_kmv"),
    )
    if bcast:
        kmv = F.broadcast(kmv)
    ka = kmv.select(
        F.col("clip_id").alias("a"),
        F.col("text_kmv").alias("a_text_kmv"),
        F.col("audio_kmv").alias("a_audio_kmv"),
    )
    kb = kmv.select(
        F.col("clip_id").alias("b"),
        F.col("text_kmv").alias("b_text_kmv"),
        F.col("audio_kmv").alias("b_audio_kmv"),
    )
    return (
        slim_pairs.join(ka, "a")
        .join(kb, "b")
        .select(
            "a",
            "b",
            theta_jaccard(F.col("a_text_kmv"), F.col("b_text_kmv"), kmv_k).alias(
                "text_jaccard"
            ),
            theta_jaccard(F.col("a_audio_kmv"), F.col("b_audio_kmv"), kmv_k).alias(
                "audio_jaccard"
            ),
            "text_hamming",
            "audio_hamming",
        )
        .localCheckpoint()
    )


def _finish_scored(
    scored: DataFrame,
    transcripts: DataFrame,
    near: float,
    weak: float,
    text_thr: float,
    max_verify_chars: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Exact-scored pairs → (plain_scored, border_scored) with the
    suffix-array substring check applied to the borderline band."""
    # borderline text next to strong audio → suffix-array containment check;
    # only these rows ever see a transcript
    is_border = (
        (F.col("audio_jaccard") >= 0.6)
        & (F.col("text_jaccard") >= 0.05)
        & (F.col("text_jaccard") < text_thr)
    )
    ta = transcripts.select(F.col("clip_id").alias("a"), F.col("transcript").alias("a_transcript"))
    tb = transcripts.select(F.col("clip_id").alias("b"), F.col("transcript").alias("b_transcript"))
    # left joins: a candidate whose clip_id is missing from the transcript
    # source must still flow through the is_dup decision (with the
    # containment check unavailable → substr_ok False), not vanish
    border = scored.filter(is_border).join(ta, "a", "left").join(tb, "b", "left")

    def substr_check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ok = np.fromiter(
                (
                    substring_containment(x, y, max_chars=max_verify_chars)
                    if x is not None and y is not None
                    else False
                    for x, y in zip(pdf["a_transcript"], pdf["b_transcript"])
                ),
                dtype=bool,
                count=len(pdf),
            )
            out = pdf[["a", "b", "text_jaccard", "audio_jaccard", "text_hamming", "audio_hamming"]].copy()
            out["substr_ok"] = ok
            yield out

    border_scored = border.mapInPandas(
        substr_check, schema=_JACCARD_SCHEMA + ", substr_ok boolean"
    )
    plain_scored = scored.filter(~is_border).withColumn("substr_ok", F.lit(False))
    return plain_scored, border_scored


_I64_MIN = -(1 << 63)


def _flipped_prefix(col: str, p: int):
    """Bottom-p prefix of a KMV array (p = k: the whole sketch) with the
    sign bit flipped: the arrays are ascending-unsigned uint64 stored as
    int64, and xor with 2^63 maps unsigned order onto signed order — so
    every downstream JVM set/sort expression can use natural long ordering.
    The package's one sign-flip."""
    return F.transform(
        F.slice(col, 1, p), lambda x: x.bitwiseXOR(F.lit(_I64_MIN))
    )


def _prefix_stat_cols(mod: str, p: int) -> list:
    """Per-modality prefix statistics as pure JVM column algebra (no sort,
    no Arrow): with each side internally distinct,

      inter = |a ∩ b|,  union = |a| + |b| − inter,  denom = min(union, p)

    and the bottom-p-restricted hit count the bounds need is bracketed by

      hlo = max(inter − max(union − p, 0), 0)   (≥: at most union−p union
                                                 elements fall outside the
                                                 bottom-p)
      hhi = min(inter, denom)

    — enough to δ-certify the overwhelming majority of pairs without ever
    computing the exact bottom-p intersection (pairs the bracket cannot
    decide go to tier 2's exact full-sketch verify instead).

    Emitted as FLAT unconditional columns in one projection: codegen
    subexpression elimination dedupes the shared ``array_intersect`` across
    them, but only OUTSIDE conditional branches — wrapping these in a
    CASE/struct guard defeats CSE and re-evaluates the intersect per field
    reference (measured 12× slower at 189k clips; do not 'optimize' this
    into a guarded struct again)."""
    a, b = F.col(f"a_{mod}_p"), F.col(f"b_{mod}_p")
    inter = F.size(F.array_intersect(a, b))
    ca, cb = F.size(a), F.size(b)
    union = ca + cb - inter
    denom = F.least(union, F.lit(p))
    hlo = F.greatest(inter - F.greatest(union - p, F.lit(0)), F.lit(0))
    hhi = F.least(inter, denom)
    return [
        inter.alias(f"{mod}_inter"),
        union.alias(f"{mod}_union"),
        denom.alias(f"{mod}_denom"),
        hlo.alias(f"{mod}_hlo"),
        hhi.alias(f"{mod}_hhi"),
        ca.alias(f"{mod}_ca"),
        cb.alias(f"{mod}_cb"),
    ]


def _prefix_atom(mod: str, hits_col, table: list, tau: float, p: int):
    """The routing atom ``bound(mod) ≥ tau`` as JVM algebra: identical full
    sketches certify 1.0; 'known' rows (empty side, or both prefixes
    complete with untruncated union) carry the exact estimate; everything
    else compares the bracketed hit count against the precomputed
    per-denom integer threshold."""
    d = F.col(f"{mod}_denom")
    eq = F.col(f"{mod}_eq")
    ca, cb = F.col(f"{mod}_ca"), F.col(f"{mod}_cb")
    known = (ca == 0) | (cb == 0) | (
        (ca < p) & (cb < p) & (F.col(f"{mod}_union") <= p)
    )
    # on known rows hlo == hhi == exact hits, so est is exact either way
    est = F.when(
        (d > 0) & (ca > 0) & (cb > 0), hits_col.cast("double") / d
    ).otherwise(F.lit(0.0))
    return eq | (known & (est >= tau)) | (
        ~known & (hits_col >= F.element_at(F.lit(table), d + 1))
    )


def verify_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
    transcripts: DataFrame,
    n_signatures: int | None = None,
) -> DataFrame:
    """candidate (a, b) pairs + signatures → verified pairs with scores.

    ``transcripts`` is any frame with (clip_id, transcript) — normally the
    source clips table (column-pruned scan); only the borderline rows join it.

    ``n_signatures`` (optional): the signature-table row count, when the
    caller already knows it (the pipeline does — its signatures stage is
    counted at checkpoint).  When the full-sketch side provably fits the
    broadcast budget (rows × ~2·kmv_k·8 B ≤ 48 MB) the per-pair joins take
    broadcast-hash form — the pair stream is never exchanged at all (guide
    §3.1); localCheckpoint frames carry no size statistics, so without the
    hint Spark sort-merges these joins even when one side is a few MB.
    None (or a too-big count) keeps the statistics-driven planning.

    Data-volume design (the 100 TB concern), three tiers of payload:

    1. **Slim prefilter (JVM, ~66 B/pair)** — exact-key equality, SimHash
       Hamming (``bit_count(xor)``, codegen) and 8-byte xxhash64 digests of
       each full KMV sketch.  Clear negatives and byte-identical pairs never
       ship a sketch; pairs whose BOTH sketch digests match are accepted
       outright (identical sketches ⇒ both estimates are exactly 1.0).
    2. **Prefix-KMV verify (pure JVM since r6, ``PREFIX_HASHES``
       hashes/side — 64 of the default kmv_k=256, a 4× cut in the dominant
       shuffle bytes; runs only with ``PREFIX_MIN_PAIRS`` or more candidate
       pairs and ``PREFIX_HASHES < kmv_k``)** — the prefix hit count is a
       without-replacement sample of the indicators the full estimate
       averages, so Chernoff-KL bounds at ``PREFIX_DELTA`` certify clear
       accepts/rejects of the composite rule against the FULL-sketch
       decision. The bounds are precomputed into per-denom integer hit
       thresholds (``prefix_hit_thresholds``) and the hit count is
       bracketed from set sizes alone (``_prefix_stat_cols``), so the whole
       tier is whole-stage-codegen column algebra — no Arrow boundary, no
       sort; rows where the prefix is provably the whole answer (complete
       sets, identical sketches, empty sides) are decided on their exact
       estimate.
    3. **Full-sketch verify (JVM) + suffix-array containment (Arrow)** —
       only the pairs the bounds could not certify (near-threshold scores)
       fetch the full ~2 KB/side sketches, scored by ``theta_jaccard`` in
       one codegen projection; of those only the borderline band joins a
       transcript and crosses into Python for the containment check.

    When tier 2 does not run, verify is single-tier: tier 3 for every
    surviving pair — the parity baseline.

    Score-column contract: ``is_dup`` (and the pair set it induces) is
    identical on both routes — that is what the parity test pins.
    ``text_jaccard``/``audio_jaccard`` magnitudes are NOT: on
    tier-1-decided rows they are the *prefix-set* point estimates
    (inter/union, exact whenever the prefix union is untruncated), while
    the single tier reports full-sketch estimates.  Decisions are
    authoritative; do not diff jaccard magnitudes across routes.
    """
    if "transcript" not in transcripts.columns:
        raise ValueError(
            "verify_pairs: transcripts frame must have a 'transcript' column; "
            f"got {transcripts.columns}"
        )
    kmv_k = cfg.kmv_k
    text_thr = cfg.jaccard_threshold
    near = cfg.near_exact_threshold
    weak = cfg.weak_support_threshold
    # size-adaptive gate (r6): the prefix tier trades ~4 KB/pair of shuffle
    # for a bigger plan (extra join + two localCheckpoint barriers + wider
    # codegen).  Below ~half a million candidate pairs the fixed cost wins
    # (measured at 9.5 k clips / ~100 k pairs: verified 4.9–5.9 s tiered vs
    # 2.3–2.4 s single-tier; at 189 k clips / 1.8 M pairs the tier saves
    # 6–10 s of an 8-core verify).  Callers pass `pairs` materialized (the
    # pipeline checkpoints the candidates stage), so the count is a cached
    # scan, and decisions are parity-identical either way by construction.
    # The constants are read at call time so tests and tools can set them.
    prefix = PREFIX_HASHES
    tiered = prefix < kmv_k and (
        PREFIX_MIN_PAIRS == 0 or pairs.count() >= PREFIX_MIN_PAIRS
    )

    def _passthrough(df: DataFrame, dup_col) -> DataFrame:
        return df.select(
            "a",
            "b",
            F.when(dup_col, F.lit(1.0)).otherwise(F.lit(0.0)).alias("text_jaccard"),
            F.when(dup_col, F.lit(1.0)).otherwise(F.lit(0.0)).alias("audio_jaccard"),
            "text_hamming",
            "audio_hamming",
            F.lit(False).alias("substr_ok"),
            dup_col.alias("is_dup"),
        )

    # broadcast gate: the heaviest broadcastable side is the full-KMV frame
    # (~2·kmv_k·8 B + overhead per row); if that fits, every signature-side
    # join frame (slim, prefix, full) fits a fortiori
    bcast = (
        n_signatures is not None
        and n_signatures * (2 * kmv_k * 8 + 128) <= 48 * 1024 * 1024
    )

    def _sig_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast else df

    # the slim prefilter columns: exact-key equality, SimHash Hamming and
    # 8-byte sketch digests — tens of bytes/pair of whole-stage codegen
    slim_cols = ["clip_id", "exact_key", "text_simhash", "audio_simhash"]
    # sketch digests are NULL for empty sketches, so plain (non-null-safe)
    # equality already encodes "identical AND non-empty" — no extra size
    # columns ride the per-pair exchanges
    digest_cols = [
        F.when(F.size("text_kmv") > 0, F.xxhash64("text_kmv")).alias("text_kmv_h"),
        F.when(F.size("audio_kmv") > 0, F.xxhash64("audio_kmv")).alias("audio_kmv_h"),
    ]
    slim_exprs = [
        (F.col("a_exact_key") == F.col("b_exact_key")).alias("exact"),
        F.bit_count(
            F.col("a_text_simhash").bitwiseXOR(F.col("b_text_simhash"))
        ).cast("int").alias("text_hamming"),
        F.bit_count(
            F.col("a_audio_simhash").bitwiseXOR(F.col("b_audio_simhash"))
        ).cast("int").alias("audio_hamming"),
        F.coalesce(
            F.col("a_text_kmv_h") == F.col("b_text_kmv_h"), F.lit(False)
        ).alias("text_eq"),
        F.coalesce(
            F.col("a_audio_kmv_h") == F.col("b_audio_kmv_h"), F.lit(False)
        ).alias("audio_eq"),
    ]

    # prefilter: clear negatives skip set math entirely (recall-safe: dup
    # pairs at J≥0.5 sit far below this Hamming bar); exact pairs skip too
    needs = (~F.col("exact")) & (
        (F.col("text_hamming") <= PREFILTER_HAMMING)
        | (F.col("audio_hamming") <= PREFILTER_HAMMING)
    )

    slim = _sig_side(signatures.select(*slim_cols, *digest_cols))
    all_slim = slim_cols + ["text_kmv_h", "audio_kmv_h"]
    sa = slim.select(*[F.col(c).alias(f"a_{c}") for c in all_slim])
    sb = slim.select(*[F.col(c).alias(f"b_{c}") for c in all_slim])
    joined = (
        pairs.join(sa, pairs.a == sa.a_clip_id)
        .join(sb, pairs.b == sb.b_clip_id)
        .select("a", "b", *slim_exprs)
    )

    if not tiered:
        passthrough = _passthrough(joined.filter(~needs), F.col("exact"))
        scored = _score_full(
            joined.filter(needs).select("a", "b", "text_hamming", "audio_hamming"),
            signatures,
            kmv_k,
            bcast=bcast,
        )
        plain_scored, border_scored = _finish_scored(
            scored, transcripts, near, weak, text_thr,
            max_verify_chars=cfg.max_verify_chars,
        )
        return _decide(passthrough, plain_scored, border_scored, near, weak, text_thr)

    # three consumers below (merged passthrough, prefix input, and the
    # borderline remainder) — one slim-join pass instead of three;
    # ~66 B/pair materialized. Must happen BEFORE the branches are built
    # so every one reads the checkpointed frame.
    joined = joined.localCheckpoint()

    # ---- tier 1 fused into the passthrough branch: identical full sketches
    # (both_eq) ⇒ both estimates are exactly 1.0 — accepted without any
    # set math, in the SAME emit as the prefilter passthrough.  dup
    # condition is exact | (needs & both_eq), NOT exact | both_eq: a pair
    # with identical bottom-k sketches but SimHash Hamming past the
    # prefilter bar was (and in the single-tier baseline still is) a
    # prefilter reject — the parity contract decides it False
    both_eq = F.col("text_eq") & F.col("audio_eq")
    passthrough = _passthrough(
        joined.filter(~needs | both_eq), F.col("exact") | (needs & both_eq)
    )
    out_cols = passthrough.columns

    # ---- tier 1.5: prefix-KMV routing, ENTIRELY whole-stage-codegen JVM
    # (r6): the p-hash prefixes join in sign-flipped form, per-pair stats
    # are set-size algebra (no sort — `_prefix_stat_cols`), and the
    # Chernoff-KL bounds become integer hit-count thresholds looked up by
    # denom (`prefix_hit_thresholds`).  The Arrow kernel this replaces
    # shipped ~2 KB/pair of prefix arrays across the Python boundary and
    # cost ~16 s of the 8-core verify at 189k clips; the JVM form does the
    # same certified routing in ~5 s with zero Python.  Pairs whose
    # bracketed hit count cannot certify either way fall through to tier
    # 2's exact full-sketch verify, so final decisions keep pair-for-pair
    # parity with the single-tier baseline.
    tables = prefix_hit_thresholds(
        prefix, PREFIX_DELTA, (near, weak, text_thr, 0.6)
    )
    kp = _sig_side(
        signatures.select(
            "clip_id",
            _flipped_prefix("text_kmv", prefix).alias("text_p"),
            _flipped_prefix("audio_kmv", prefix).alias("audio_p"),
        )
    )
    kap = kp.select(
        F.col("clip_id").alias("a"),
        F.col("text_p").alias("a_text_p"),
        F.col("audio_p").alias("a_audio_p"),
    )
    kbp = kp.select(
        F.col("clip_id").alias("b"),
        F.col("text_p").alias("b_text_p"),
        F.col("audio_p").alias("b_audio_p"),
    )

    # certain accept: PESSIMISTIC hit counts (hlo) satisfy a substr-free
    # disjunct of the composite rule; certain reject: OPTIMISTIC hit counts
    # (hhi) refute every disjunct (d2's substring alternative means reject
    # may use only the audio bound) — both sound w.r.t. the full-sketch
    # estimate at the same δ since the bracketed true hits sit between them
    L, U = tables["L"], tables["U"]

    def _lb(mod, tau):
        return _prefix_atom(mod, F.col(f"{mod}_hlo"), L[tau], tau, prefix)

    def _ub(mod, tau):
        return _prefix_atom(mod, F.col(f"{mod}_hhi"), U[tau], tau, prefix)

    accept = (
        (_lb("text", near) & _lb("audio", weak))
        | (_lb("audio", near) & _lb("text", weak))
        | (_lb("text", text_thr) & _lb("audio", 0.6))
    )
    reject = ~(
        (_ub("text", near) & _ub("audio", weak))
        | _ub("audio", near)
        | (_ub("text", text_thr) & _ub("audio", 0.6))
    )

    # localCheckpoint: two consumers below (t1-decided, borderline); the
    # materialized rows are a handful of scalars per pair
    prefix_scored = (
        joined.filter(needs & ~both_eq)
        .select("a", "b", "text_hamming", "audio_hamming", "text_eq", "audio_eq")
        .join(kap, "a")
        .join(kbp, "b")
        .select(
            "a",
            "b",
            "text_hamming",
            "audio_hamming",
            "text_eq",
            "audio_eq",
            *_prefix_stat_cols("text", prefix),
            *_prefix_stat_cols("audio", prefix),
        )
        .withColumn("t1_accept", accept)
        .withColumn("t1_reject", reject)
        .localCheckpoint()
    )

    def _est_out(mod: str):
        """Prefix point estimate emitted on tier-1-decided rows: the
        prefix-set Jaccard inter/union — exact (= hits/denom) whenever the
        union is untruncated, deterministic and path-documented otherwise
        (the score-column contract above)."""
        return (
            F.when(F.col(f"{mod}_eq"), F.lit(1.0))
            .when(
                (F.col(f"{mod}_ca") == 0) | (F.col(f"{mod}_cb") == 0),
                F.lit(0.0),
            )
            .otherwise(
                F.col(f"{mod}_inter").cast("double")
                / F.greatest(F.col(f"{mod}_union"), F.lit(1))
            )
        )

    # one branch for both tier-1 outcomes (accept wins where both certify,
    # matching the old accept-then-reject precedence) — halves the codegen
    t1_decided = prefix_scored.filter(
        F.col("t1_accept") | F.col("t1_reject")
    ).select(
        "a",
        "b",
        _est_out("text").alias("text_jaccard"),
        _est_out("audio").alias("audio_jaccard"),
        "text_hamming",
        "audio_hamming",
        F.lit(False).alias("substr_ok"),
        F.col("t1_accept").alias("is_dup"),
    )

    # ---- tier 2: only the uncertifiable remainder fetches full sketches
    borderline = prefix_scored.filter(
        ~F.col("t1_accept") & ~F.col("t1_reject")
    ).select("a", "b", "text_hamming", "audio_hamming")
    scored = _score_full(borderline, signatures, kmv_k, bcast=bcast)
    plain_scored, border_scored = _finish_scored(
        scored, transcripts, near, weak, text_thr,
        max_verify_chars=cfg.max_verify_chars,
    )
    decided = _decide(
        passthrough, plain_scored, border_scored, near, weak, text_thr
    )
    return decided.select(*out_cols).unionByName(t1_decided.select(*out_cols))


def _decide(
    passthrough: DataFrame,
    plain_scored: DataFrame,
    border_scored: DataFrame,
    near: float,
    weak: float,
    text_thr: float,
) -> DataFrame:
    """Composite accept rule over the scored pairs (substr_ok is always False
    on the plain branch)."""
    decided = plain_scored.unionByName(border_scored).withColumn(
        "is_dup",
        ((F.col("text_jaccard") >= near) & (F.col("audio_jaccard") >= weak))
        | (
            (F.col("audio_jaccard") >= near)
            & ((F.col("text_jaccard") >= weak) | F.col("substr_ok"))
        )
        | ((F.col("text_jaccard") >= text_thr) & (F.col("audio_jaccard") >= 0.6)),
    )
    return passthrough.unionByName(decided.select(*passthrough.columns))
