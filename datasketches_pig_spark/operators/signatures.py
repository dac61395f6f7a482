"""Signature kernels: bottom-k KMV (the Theta/KMV semantics of
``pig/theta/DataToSketch.java`` — k smallest hash values, exact below k),
k-permutation MinHash for LSH banding, and 64-bit SimHash fingerprints.

A batch's shingle sets travel in ONE flat form from the producers
(``shingle.text_shingle_hashes`` / ``audio_shingle_hashes``,
``word_ngram_hash_sets``) to every kernel here: ``(values, counts)``, where
``values`` is uint64, contiguous per item in item order, each item's segment
sorted ascending and distinct, and ``counts`` holds one entry per item (0 for
an item with no shingles).  ``segment_distinct`` is the one routine that
establishes the form and ``kmv_prefixes`` the one bottom-k slice of it; the
kernels use ``minimum.reduceat`` / segment tricks — no per-shingle Python.
"""

from __future__ import annotations

import numpy as np

from datasketches_pig_spark.functions.murmur3 import (
    murmur3_long_batch,
    murmur3_x64_128_fixed,
)

U64 = np.uint64
_MAX_U64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _segment_starts(counts: np.ndarray) -> np.ndarray:
    return np.cumsum(counts) - counts


def segment_distinct(
    values: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Flat per-item uint64 values (contiguous per item, any order, repeats
    allowed) → the flat shingle-set form: each segment's sorted distinct
    values, plus the new per-item counts.

    One ``np.unique`` per non-empty segment.  Single-threaded on a 4-vCPU
    VM that beats one global ``lexsort`` by (doc id, value): 7–11 vs 27 ms
    on the 183,940 transcript grams of 972 clips; on doc batches 70–76 vs
    226–241 ms (10k docs × ~80 grams), 21 vs 102 ms (3k × 130), 10–12 vs
    98–129 ms (1k × 400), 10 vs 146–164 ms (200 × 3000).  The trade: at ~20
    grams per doc the per-segment call overhead loses (52–56 vs 47–48 ms
    on 10k docs)."""
    nz = np.flatnonzero(counts)
    ends = np.cumsum(counts)[nz]
    spans = zip((ends - counts[nz]).tolist(), ends.tolist())
    parts = [np.unique(values[s:e]) for s, e in spans]
    out_counts = np.zeros(len(counts), dtype=np.int64)
    out_counts[nz] = [len(p) for p in parts]
    return (np.concatenate(parts) if parts else np.empty(0, U64)), out_counts


def kmv_prefixes(
    values: np.ndarray, counts: np.ndarray, k: int
) -> list[np.ndarray]:
    """Per item of a flat shingle-set batch: its bottom-k KMV sketch — the
    first ``min(count, k)`` values of its sorted distinct segment — as an
    int64 array (the sketch column's Arrow type).  Equal item by item to
    ``kmv_bottom_k(segment, k)``, by slicing instead of a second sort."""
    within = np.arange(len(values), dtype=np.int64) - np.repeat(
        _segment_starts(counts), counts
    )
    kflat = values[within < k].view(np.int64)
    offs = np.cumsum(np.minimum(counts, k))
    return np.split(kflat, offs[:-1]) if len(counts) else []


# ---------------------------------------------------------------------------
# bottom-k (KMV) — the Theta-sketch analog
# ---------------------------------------------------------------------------

def kmv_bottom_k(hashes: np.ndarray, k: int) -> np.ndarray:
    """k smallest distinct hash values, ascending.  Exact mode when n < k
    (all values retained — ``dictionary.html:62-63``)."""
    u = np.unique(hashes)  # unique also sorts
    return u[:k]


def kmv_jaccard(a: np.ndarray, b: np.ndarray, k: int) -> float:
    """KMV Jaccard estimate from two bottom-k sketches (ascending uint64).

    Take the k smallest of the union; the fraction of those present in both
    sketches estimates J.  When both sketches are exact (|a|,|b| < k) this IS
    the exact Jaccard — the exact-mode shortcut the reference tests rely on
    (``theta/DataToSketchTest.java:137``).  The scalar reference for the
    engine's one column-level form, ``sketch.theta.theta_jaccard``.
    """
    if len(a) == 0 or len(b) == 0:
        return 0.0
    union = np.union1d(a, b)[:k]
    inter = np.intersect1d(a, b, assume_unique=True)
    n_hits = np.searchsorted(inter, union[-1], side="right")
    return float(n_hits) / float(len(union)) if len(union) else 0.0


def kmv_distinct_estimate(sketch: np.ndarray, k: int) -> float:
    """KMV distinct-count estimate: exact when retained < k, else
    (k-1) / theta where theta = kth smallest / 2^64."""
    n = len(sketch)
    if n < k:
        return float(n)
    theta = (float(sketch[k - 1]) + 1.0) / 2.0**64
    return (k - 1) / theta


# ---------------------------------------------------------------------------
# k-permutation MinHash (for LSH banding)
# ---------------------------------------------------------------------------

def make_perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic universal-hash parameters derived from the murmur kernel
    itself (hash of 0..num_perm-1 with two seed variants): a odd, b arbitrary."""
    idx = np.arange(num_perm, dtype=np.int64)
    a, _ = murmur3_long_batch(idx, seed=seed)
    b, _ = murmur3_long_batch(idx, seed=seed + 1)
    a = a | U64(1)  # odd multipliers
    return a, b


def minhash_signatures(
    hashes: np.ndarray, counts: np.ndarray, num_perm: int, seed: int
) -> np.ndarray:
    """(total,) uint64 shingle hashes + per-clip counts → (n_clips, num_perm)
    MinHash signature matrix.  Empty clips get all-max signatures.

    Permutation i is the universal rehash h → a_i*h + b_i (mod 2^64); the
    signature entry is the per-clip minimum, computed with minimum.reduceat
    per permutation (vectorized over all shingles of the whole batch).
    """
    n_clips = len(counts)
    a, b = make_perm_params(num_perm, seed)
    sig = np.full((n_clips, num_perm), _MAX_U64, dtype=U64)
    nz = counts > 0
    if not nz.any():
        return sig
    starts = _segment_starts(counts)
    h = hashes.astype(U64, copy=False)
    starts_nz = starts[nz]
    for i in range(num_perm):
        v = h * a[i] + b[i]
        mins = np.minimum.reduceat(v, starts_nz)
        sig[nz, i] = mins
    return sig


# ---------------------------------------------------------------------------
# SimHash (64-bit)
# ---------------------------------------------------------------------------

def simhash64(hashes: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """(total,) uint64 shingle hashes + per-clip counts → (n_clips,) int64
    SimHash fingerprints (bit j set iff sum over shingles of ±1 at bit j > 0)."""
    n_clips = len(counts)
    out = np.zeros(n_clips, dtype=np.int64)
    nz = counts > 0
    if not nz.any():
        return out
    starts_nz = _segment_starts(counts)[nz]
    cnt = counts[nz].astype(np.int64)
    h = hashes.astype(U64, copy=False)
    fp = np.zeros(len(cnt), dtype=U64)
    # one reduceat per bit keeps peak memory at O(total) instead of O(total*64)
    for j in range(64):
        bit = ((h >> U64(j)) & U64(1)).astype(np.int64)
        sums = np.add.reduceat(bit, starts_nz)
        fp |= ((2 * sums > cnt).astype(U64)) << U64(j)
    out[nz] = fp.view(np.int64)
    return out


def flat_token_hashes(
    texts: list[str | None], seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """Batch word tokenization + murmur token hashing with NO per-token
    Python.

    Tokens are ASCII-whitespace-separated runs of the lowercased utf-8 bytes
    (``bytes.split()`` — matching the relational ``F.split(r"\\s+")`` shingle
    form more closely than unicode ``str.split``).  All tokens across the
    batch land in one byte buffer; starts/lengths fall out of vectorized
    space-scanning, and hashing runs through the fixed-length murmur kernel
    once per distinct token length.

    Returns ``(token_h1, per_doc_token_counts)`` — the flat uint64 token
    hashes in document order plus each document's token count.
    """
    n_docs = len(texts)
    tok_counts = np.zeros(n_docs, dtype=np.int64)
    parts: list[bytes] = []
    for i, t in enumerate(texts):
        toks = (t or "").lower().encode("utf-8").split()
        tok_counts[i] = len(toks)
        if toks:
            parts.append(b" ".join(toks))
    total = int(tok_counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint64), tok_counts
    arr = np.frombuffer(b" ".join(parts), dtype=np.uint8)
    is_sp = arr == 0x20
    nonsp = ~is_sp
    starts = np.flatnonzero(nonsp & np.concatenate([[True], is_sp[:-1]]))
    ends = np.flatnonzero(nonsp & np.concatenate([is_sp[1:], [True]]))
    lengths = ends - starts + 1
    th = np.empty(total, dtype=np.uint64)
    order = np.argsort(lengths, kind="stable")
    slen = lengths[order]
    bounds = np.concatenate(
        [[0], np.flatnonzero(slen[1:] != slen[:-1]) + 1, [total]]
    )
    for s, e in zip(bounds[:-1], bounds[1:]):
        idx = order[s:e]
        length = int(slen[s])
        mat = arr[starts[idx][:, None] + np.arange(length)[None, :]]
        h1, _ = murmur3_x64_128_fixed(np.ascontiguousarray(mat), seed)
        th[idx] = h1
    return th, tok_counts


def flat_char_hashes(
    texts: list[str | None], seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """Batch CHARACTER tokenization + murmur char hashing — the no-space-
    script twin of ``flat_token_hashes``.

    The "tokens" are the unicode characters of the whitespace-normalized
    lowercased text (runs of ASCII whitespace collapsed to one space, so the
    same document always yields the same char stream regardless of
    formatting).  Each char is hashed as its utf-8 bytes through the
    fixed-length murmur kernel, bucketed by encoded length (1–4 bytes → at
    most 4 kernel calls for the whole batch).

    Returns ``(char_h1, per_doc_char_counts)`` — flat uint64 char hashes in
    document order plus each document's char count.
    """
    n_docs = len(texts)
    char_counts = np.zeros(n_docs, dtype=np.int64)
    parts: list[bytes] = []
    for i, t in enumerate(texts):
        norm = b" ".join((t or "").lower().encode("utf-8").split())
        char_counts[i] = len(norm.decode("utf-8"))
        parts.append(norm)
    total = int(char_counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint64), char_counts
    arr = np.frombuffer(b"".join(parts), dtype=np.uint8)
    # utf-8 char starts: every byte that is not a continuation byte
    starts = np.flatnonzero((arr & 0xC0) != 0x80)
    lengths = np.diff(starts, append=len(arr)).astype(np.int64)
    ch = np.empty(total, dtype=np.uint64)
    for length in (1, 2, 3, 4):
        sel = lengths == length
        if not sel.any():
            continue
        mat = arr[starts[sel][:, None] + np.arange(length)[None, :]]
        h1, _ = murmur3_x64_128_fixed(np.ascontiguousarray(mat), seed)
        ch[sel] = h1
    return ch, char_counts


def in_doc_windows(
    stream: np.ndarray, counts: np.ndarray, w: int
) -> tuple[np.ndarray, np.ndarray]:
    """Flat per-doc stream (``counts[i]`` consecutive values per doc) →
    every window of ``w`` consecutive values that stays inside one doc, in
    stream order: ``((n_windows, w) windows, (n_windows,) doc ids)``.  Docs
    shorter than ``w`` contribute no window."""
    total = len(stream)
    if total < w:
        return np.empty((0, w), dtype=stream.dtype), np.empty(0, dtype=np.int64)
    doc_id = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    win = np.lib.stride_tricks.sliding_window_view(stream, w)  # (total-w+1, w)
    valid = doc_id[: total - w + 1] == doc_id[w - 1 :]
    return win[valid], doc_id[: total - w + 1][valid]


def _window_gram_hashes(
    th: np.ndarray, tok_counts: np.ndarray, n: int, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """Flat per-doc token-hash stream → the hash of every in-doc n-gram
    (murmur over the 8n-byte window of n consecutive token hashes) and its
    doc id, in stream order, repeats kept.  Shared by the word path and the
    char-fallback path."""
    win, gdoc = in_doc_windows(th, tok_counts, n)
    data = np.ascontiguousarray(win).view(np.uint8)
    gh, _ = murmur3_x64_128_fixed(data.reshape(-1, 8 * n), seed)
    return gh, gdoc


def word_ngram_hash_sets(
    texts: list[str | None],
    n: int,
    seed: int,
    char_fallback_n: int | None = 5,
) -> tuple[np.ndarray, np.ndarray]:
    """Per text: uint64 hashes of its DISTINCT word n-grams, as one flat
    shingle-set batch (module docstring).  Tokenizing, token hashing and gram
    hashing run batch-wide with no per-token Python; the per-doc distinct is
    ``segment_distinct``.

    The n-gram hash is hash-of-token-hashes: murmur over the 8n-byte window
    of ``n`` consecutive token murmur h1 values (equal grams ⇒ equal hashes;
    spurious equality is a 2^-64 murmur collision, the same contract as every
    other shingle hash here).  The scalar replication used by the VALUES
    oracles lives in ``tools/gen_simhash_oracle.py``.

    **No-space-script fallback** (``char_fallback_n``, default 5): a document
    whose whitespace tokenization yields fewer than ``n`` tokens — the CJK /
    no-space-script case, where the whole text is one "token" — falls back
    to CHARACTER ``char_fallback_n``-grams over the whitespace-normalized
    text (``flat_char_hashes``: tokens = unicode chars, same
    hash-of-token-hashes window construction).  Without the fallback such
    documents have zero shingles and are silently invisible to
    MinHash/SimHash/containment dedup.  Word docs and char-fallback docs
    never share a gram hash except by murmur collision (different window
    byte-lengths), so a mixed corpus partitions cleanly.  ``None`` disables
    the fallback (the pre-r4 word-only contract).
    """
    if n < 1:
        raise ValueError(f"word_ngram_hash_sets: n must be >= 1, got {n}")
    if char_fallback_n is not None and char_fallback_n < 2:
        raise ValueError(
            f"word_ngram_hash_sets: char_fallback_n must be >= 2 or None, "
            f"got {char_fallback_n}"
        )
    if char_fallback_n == n:
        # equal window byte-lengths (8n) would let a word gram and a char
        # gram genuinely collide (a single-char token's murmur equals that
        # char's char hash), breaking the cross-script no-collision contract
        # documented below — reject at construction like every other kernel
        # arg check
        raise ValueError(
            f"word_ngram_hash_sets: char_fallback_n must differ from n "
            f"(both {n}: word and char gram windows would share byte length "
            "and could collide across scripts)"
        )
    th, tok_counts = flat_token_hashes(texts, seed)
    gh, gdoc = _window_gram_hashes(th, tok_counts, n, seed)
    fb = np.flatnonzero(tok_counts < n)
    if char_fallback_n is not None and len(fb):
        # char grams of the fallback docs join the word grams in doc order
        # (a fallback doc has no word gram: it has < n tokens)
        ch, ch_counts = flat_char_hashes([texts[i] for i in fb], seed)
        gh_c, gdoc_c = _window_gram_hashes(ch, ch_counts, char_fallback_n, seed)
        gdoc = np.concatenate([gdoc, fb[gdoc_c]])
        order = np.argsort(gdoc, kind="stable")
        gh, gdoc = np.concatenate([gh, gh_c])[order], gdoc[order]
    return segment_distinct(gh, np.bincount(gdoc, minlength=len(texts)))


def simhash_combo_keys_np(sim: np.ndarray, max_hamming: int) -> np.ndarray:
    """(n,) int64 simhash fingerprints → (n, C(h+3,3)) int64 Manku combo
    keys, vectorized (the numpy twin of the codegen
    ``operators.lsh.simhash_combo_key_array`` — same key values, computed
    inside the Arrow pass so the query plan never carries a C(h+3,3)-key
    projection at all)."""
    from itertools import combinations

    from datasketches_pig_spark.operators.lsh import _simhash_blocks

    bits, offs = _simhash_blocks(max_hamming)
    key_bits = 3 * max(bits)
    s = np.asarray(sim, dtype=np.int64).view(U64)
    combos = list(combinations(range(len(bits)), 3))
    out = np.empty((len(s), len(combos)), dtype=U64)
    for idx, combo in enumerate(combos):
        key = np.zeros(len(s), dtype=U64)
        shift = 0
        for b in combo:
            blk = (s >> U64(offs[b])) & U64((1 << bits[b]) - 1)
            key += blk << U64(shift)
            shift += bits[b]
        out[:, idx] = key + (U64(idx) << U64(key_bits + 1))
    return out.view(np.int64)


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized popcount of XOR for int64/uint64 arrays."""
    x = (np.asarray(a).astype(np.int64).view(U64) ^ np.asarray(b).astype(np.int64).view(U64))
    # SWAR popcount
    x = x - ((x >> U64(1)) & U64(0x5555555555555555))
    x = (x & U64(0x3333333333333333)) + ((x >> U64(2)) & U64(0x3333333333333333))
    x = (x + (x >> U64(4))) & U64(0x0F0F0F0F0F0F0F0F)
    return ((x * U64(0x0101010101010101)) >> U64(56)).astype(np.int64)


def band_hashes(sig: np.ndarray, band_count: int, rows_per_band: int, seed: int) -> np.ndarray:
    """(n_clips, num_perm) signature matrix → (n_clips, band_count) uint64
    band-bucket hashes (murmur over each band's 8*r bytes, fixed length)."""
    if band_count * rows_per_band > sig.shape[1]:
        # an out-of-range band would silently hash an empty/truncated slice
        # (every clip sharing one bucket) — fail loudly like the reference's
        # ctor arg checks instead
        raise ValueError(
            f"band_hashes: band_count*rows_per_band = "
            f"{band_count * rows_per_band} exceeds signature width {sig.shape[1]}"
        )
    n = sig.shape[0]
    out = np.empty((n, band_count), dtype=U64)
    for b in range(band_count):
        chunk = np.ascontiguousarray(sig[:, b * rows_per_band : (b + 1) * rows_per_band])
        data = np.ascontiguousarray(chunk.view(np.uint8).reshape(n, 8 * rows_per_band))
        h1, _ = murmur3_x64_128_fixed(data, seed + 131 * (b + 1))
        out[:, b] = h1
    return out
