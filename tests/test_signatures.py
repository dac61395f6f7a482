"""Unit tests for shingle + signature kernels (reference test style: tiny
deterministic inputs, exact-mode assertions with delta 0 —
``theta/DataToSketchTest.java:137``)."""

import numpy as np

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.operators.shingle import (
    audio_symbols,
    frame_energy,
    frame_symbols,
    normalize_text,
    text_shingle_hashes,
)
from datasketches_pig_spark.operators.signatures import (
    band_hashes,
    hamming64,
    kmv_bottom_k,
    kmv_distinct_estimate,
    kmv_jaccard,
    make_perm_params,
    minhash_signatures,
    simhash64,
)

CFG = DedupConfig()


def test_normalize_text():
    assert normalize_text("  Hello\t WORLD \n") == "hello world"


def _split(values, counts):
    return np.split(values, np.cumsum(counts)[:-1])


def test_text_shingles_deterministic_and_distinct():
    out = _split(
        *text_shingle_hashes(["abcdefgh", "abcdefgh", "zzzzzzzz", None, ""], CFG)
    )
    assert np.array_equal(out[0], out[1])
    assert len(out[0]) == len("abcdefgh") - CFG.shingle_k_text + 1
    assert len(out[3]) == 0 and len(out[4]) == 0
    assert len(np.intersect1d(out[0], out[2])) == 0
    # shorter than k → one whole-string shingle
    short = _split(*text_shingle_hashes(["ab"], CFG))
    assert len(short[0]) == 1


def test_kmv_exact_mode():
    """Below k the sketch retains everything → exact distinct count with zero
    error (dictionary.html:62-63)."""
    h = np.random.default_rng(3).integers(1, 2**63, size=64, dtype=np.uint64)
    sk = kmv_bottom_k(h, 256)
    assert kmv_distinct_estimate(sk, 256) == 64.0  # delta 0.0


def test_kmv_estimate_above_k():
    rng = np.random.default_rng(4)
    h = rng.integers(1, 2**64, size=100_000, dtype=np.uint64)
    sk = kmv_bottom_k(h, 256)
    est = kmv_distinct_estimate(sk, 256)
    assert abs(est - 100_000) / 100_000 < 0.25  # ~4σ at k=256


def test_kmv_jaccard_exact_mode():
    a = np.arange(1, 101, dtype=np.uint64)  # 1..100
    b = np.arange(51, 151, dtype=np.uint64)  # 51..150 → J = 50/150
    ja = kmv_jaccard(kmv_bottom_k(a, 256), kmv_bottom_k(b, 256), 256)
    assert abs(ja - 50.0 / 150.0) < 1e-12


def test_kmv_jaccard_estimate_large():
    rng = np.random.default_rng(5)
    common = rng.integers(1, 2**64, size=8000, dtype=np.uint64)
    only_a = rng.integers(1, 2**64, size=2000, dtype=np.uint64)
    only_b = rng.integers(1, 2**64, size=2000, dtype=np.uint64)
    a = np.concatenate([common, only_a])
    b = np.concatenate([common, only_b])
    true_j = 8000 / 12000
    est = kmv_jaccard(kmv_bottom_k(a, 256), kmv_bottom_k(b, 256), 256)
    assert abs(est - true_j) < 0.12


def test_minhash_agreement_tracks_jaccard():
    rng = np.random.default_rng(6)
    common = rng.integers(1, 2**64, size=900, dtype=np.uint64)
    a = np.concatenate([common, rng.integers(1, 2**64, size=100, dtype=np.uint64)])
    b = np.concatenate([common, rng.integers(1, 2**64, size=100, dtype=np.uint64)])
    counts = np.array([len(a), len(b)])
    sig = minhash_signatures(np.concatenate([a, b]), counts, 128, 9001)
    agree = (sig[0] == sig[1]).mean()
    assert abs(agree - 900 / 1100) < 0.15


def test_minhash_deterministic_and_permutation_params():
    a1, b1 = make_perm_params(128, 9001)
    a2, b2 = make_perm_params(128, 9001)
    assert np.array_equal(a1, a2) and np.array_equal(b1, b2)
    assert (a1 % 2 == 1).all()
    h = np.arange(1, 500, dtype=np.uint64)
    s1 = minhash_signatures(h, np.array([499]), 64, 9001)
    s2 = minhash_signatures(h, np.array([499]), 64, 9001)
    assert np.array_equal(s1, s2)


def test_minhash_empty_clip():
    sig = minhash_signatures(np.empty(0, dtype=np.uint64), np.array([0]), 16, 9001)
    assert (sig == np.uint64(0xFFFFFFFFFFFFFFFF)).all()


def test_simhash_identical_and_perturbed():
    rng = np.random.default_rng(7)
    base = rng.integers(1, 2**64, size=500, dtype=np.uint64)
    perturbed = base.copy()
    perturbed[:25] = rng.integers(1, 2**64, size=25, dtype=np.uint64)  # 5% change
    other = rng.integers(1, 2**64, size=500, dtype=np.uint64)
    counts = np.array([500, 500, 500])
    fp = simhash64(np.concatenate([base, perturbed, other]), counts)
    d_close = hamming64(fp[0:1], fp[1:2])[0]
    d_far = hamming64(fp[0:1], fp[2:3])[0]
    assert d_close < 12
    assert d_far > 20  # independent ≈ 32 ± 4


def test_hamming64():
    a = np.array([0, -1, 0x0F], dtype=np.int64)
    b = np.array([0, 0, 0], dtype=np.int64)
    assert hamming64(a, b).tolist() == [0, 64, 4]


def test_band_hashes_shape_and_locality():
    rng = np.random.default_rng(8)
    sig = rng.integers(1, 2**64, size=(4, 128), dtype=np.uint64)
    sig[1] = sig[0]  # identical signature → identical bands
    bh = band_hashes(sig, 32, 4, 9001)
    assert bh.shape == (4, 32)
    assert np.array_equal(bh[0], bh[1])
    assert not np.array_equal(bh[0], bh[2])
    # change one signature slot → exactly one band changes
    sig2 = sig.copy()
    sig2[0, 5] ^= np.uint64(1)
    bh2 = band_hashes(sig2, 32, 4, 9001)
    assert (bh2[0] != bh[0]).sum() == 1


def test_audio_symbols_invariances():
    from datasketches_pig_spark.data.clips import _synth_pcm

    rng = np.random.default_rng(9)
    sr = 16000
    pcm = _synth_pcm(np.random.default_rng(11), sr)
    base = audio_symbols(pcm, sr, CFG)
    # gain ±1 dB → identical symbols (peak-relative energy)
    gain = audio_symbols((pcm * 10 ** (1 / 20)).clip(-1, 1).astype(np.float32), sr, CFG)
    assert (base == gain).mean() > 0.95
    # trim 50 ms → most interior symbols survive as a subsequence alphabet
    cut = int(0.05 * sr)
    trim = audio_symbols(pcm[cut:], sr, CFG)
    inter = len(np.intersect1d(base, trim)) / len(np.unique(base))
    assert inter > 0.8


def _gather_frames(pcm, frame, hop):
    nf = 1 + (len(pcm) - frame) // hop
    return pcm[np.arange(frame)[None, :] + hop * np.arange(nf)[:, None]]


def _gather_frame_symbols(pcm, sr_hz, cfg):
    """Reference framing: gathers every frame into an (n_frames × frame)
    matrix and reduces row by row.  ``frame_symbols`` must equal it exactly."""
    frame = max(int(sr_hz * cfg.audio_frame_ms / 1000), 4)
    hop = max(int(sr_hz * cfg.audio_hop_ms / 1000), 1)
    if len(pcm) < frame:
        pcm = np.pad(pcm, (0, frame - len(pcm)))
    frames = _gather_frames(pcm, frame, hop)  # (n_frames, frame)

    energy = (frames.astype(np.float64) ** 2).mean(axis=1)
    log_e = np.log10(energy + 1e-12)
    e_rel = log_e - log_e.max()
    e_level = np.clip(np.round(-e_rel / 0.6), 0, 3).astype(np.uint8)

    signs = frames >= 0.0
    cross = signs[:, 1:] != signs[:, :-1]
    n_cross = cross.sum(axis=1)
    first = np.argmax(cross, axis=1)
    last = cross.shape[1] - 1 - np.argmax(cross[:, ::-1], axis=1)
    span = np.maximum(last - first, 1)
    freq = np.where(n_cross >= 2, (n_cross - 1) * sr_hz / (2.0 * span), 0.0)
    pitch = np.clip(
        np.round(4.0 * np.log2(np.maximum(freq, 1.0) / 110.0)), 0, 23
    ).astype(np.uint8)
    return pitch * np.uint8(4) + e_level


def test_frame_energy_bit_identical_to_gathered_rows():
    """Energy summation order is part of the symbol contract: the strided
    mean must reproduce the gathered rows' float64 bits, not just be close
    (a prefix-sum energy is close but differs in the last bits)."""
    rng = np.random.default_rng(5)
    for frame, hop, n in ((400, 160, 16000), (200, 80, 8001), (1102, 441, 44100)):
        pcm = ((rng.random(n) - 0.5) * np.linspace(0.001, 1, n)).astype(np.float32)
        want = (_gather_frames(pcm, frame, hop).astype(np.float64) ** 2).mean(axis=1)
        got = frame_energy(pcm, frame, hop)
        assert np.array_equal(got.view(np.uint64), want.view(np.uint64))


def _assert_framing_exact(pcm, sr):
    got = frame_symbols(pcm, sr, CFG)
    want = _gather_frame_symbols(pcm, sr, CFG)
    assert got.dtype == want.dtype and np.array_equal(got, want), (len(pcm), sr)


def test_frame_symbols_matches_gather_reference():
    """The O(n) framing kernel is bit-identical to the gather form: the
    energy sums the same values in the same order, crossings are integers."""
    rng = np.random.default_rng(2024)
    for sr in (8000, 16000, 22050, 44100):
        frame = int(sr * CFG.audio_frame_ms / 1000)
        hop = int(sr * CFG.audio_hop_ms / 1000)
        lengths = [1, frame // 2, frame - 1, frame, frame + 1, 2 * sr]
        lengths += [frame + k * hop + d for k in (1, 7) for d in (-1, 0, 1)]
        for n in lengths:
            noise = ((rng.random(n) - 0.5) * rng.random()).astype(np.float32)
            _assert_framing_exact(noise, sr)
            t = np.arange(n) / sr
            tone = (0.4 * np.sin(2 * np.pi * rng.uniform(60, 3000) * t)).astype(
                np.float32
            )
            _assert_framing_exact(tone * np.linspace(0.01, 1, n, dtype=np.float32), sr)
        # no crossings at all, and a DC offset that noise never crosses
        _assert_framing_exact(np.zeros(2 * frame + 3 * hop, np.float32), sr)
        dc = 0.2 + 1e-3 * rng.standard_normal(sr).astype(np.float32)
        _assert_framing_exact(dc.astype(np.float32), sr)
        _assert_framing_exact((-dc).astype(np.float32), sr)
        # exactly one crossing in the first frame, several after it
        one = np.full(frame + 4 * hop, 0.1, np.float32)
        one[frame // 3 :] = -0.1
        one[frame + hop :: 7] = 0.3
        _assert_framing_exact(one, sr)
        # ±0.0: -0.0 >= 0.0, so a signed-zero run is not a crossing
        z = np.where(rng.random(3 * frame) < 0.5, -0.0, 0.0).astype(np.float32)
        z[::frame // 2] = -0.5
        assert np.signbit(z).any() and (z == 0).any()
        _assert_framing_exact(z, sr)


# ---------------------------------------------------------------------------
# flat word-shingle kernel (word_ngram_hash_sets / flat_token_hashes)
# ---------------------------------------------------------------------------

WORD_TEXTS = [
    "The quick brown fox jumps over the lazy dog",
    "",
    None,
    "one two",            # < n tokens → no grams
    "single",
    "a  b\tc\nd e f g h i j k l",      # mixed whitespace, > 8 tokens
    "dup dup dup dup dup",             # repeated grams collapse to one
    "Ünïcode tökens här okay",         # multibyte utf-8 tokens
]


def _scalar_gram_set(t, n=3, seed=9001):
    from datasketches_pig_spark.functions.murmur3 import murmur3_x64_128

    toks = (t or "").lower().encode("utf-8").split()
    th = [murmur3_x64_128(w, seed)[0] for w in toks]
    return sorted(
        {
            murmur3_x64_128(
                b"".join(int(h).to_bytes(8, "little") for h in th[i : i + n]),
                seed,
            )[0]
            for i in range(max(len(th) - n + 1, 0))
        }
    )


def test_word_ngram_hash_sets_matches_scalar_spec():
    """The flat batch kernel (one lexsort, no per-doc loop) must reproduce
    the scalar hash-of-token-hashes replication doc by doc — the same
    contract the VALUES oracles are generated from."""
    from datasketches_pig_spark.operators.signatures import word_ngram_hash_sets

    # word-only mode: the pre-r4 contract (char fallback off); the fallback
    # path has its own scalar-parity tests in tests/test_cjk.py
    gs, counts = word_ngram_hash_sets(WORD_TEXTS, 3, 9001, char_fallback_n=None)
    assert counts.sum() == len(gs)
    pos = 0
    for i, t in enumerate(WORD_TEXTS):
        want = _scalar_gram_set(t)
        got = np.sort(gs[pos : pos + counts[i]])
        pos += counts[i]
        assert counts[i] == len(want)
        assert np.array_equal(got, np.array(want, dtype=np.uint64))
    # empty / short / None docs really contribute zero grams
    assert counts[1] == counts[2] == counts[3] == 0


def test_flat_token_hashes_token_identity():
    """A token's hash must equal the murmur of its lowercased utf-8 bytes
    regardless of which document or batch position it sits in."""
    from datasketches_pig_spark.functions.murmur3 import murmur3_x64_128
    from datasketches_pig_spark.operators.signatures import flat_token_hashes

    th, counts = flat_token_hashes(["Alpha beta", None, "beta GAMMA alpha"], 9001)
    assert counts.tolist() == [2, 0, 3]
    toks = [b"alpha", b"beta", b"beta", b"gamma", b"alpha"]
    want = [murmur3_x64_128(w, 9001)[0] for w in toks]
    assert th.tolist() == want


def test_fingerprint_batch_matches_scalar_spec():
    from datasketches_pig_spark.functions.murmur3 import murmur3_x64_128
    from datasketches_pig_spark.textops.analysis import _fingerprint_batch

    BASE, MASK = 1000003, (1 << 64) - 1

    def scalar_fp(t):
        toks = (t or "").lower().encode("utf-8").split()
        th = [murmur3_x64_128(w, 9001)[0] for w in toks]
        if not th:
            return 0
        w = min(8, len(th))
        best = None
        for p in range(len(th) - w + 1):
            acc = 0
            for j in range(w):
                acc = (acc * BASE + int(th[p + j])) & MASK
            best = acc if best is None else min(best, acc)
        return best - (1 << 64) if best >= (1 << 63) else best

    texts = WORD_TEXTS + ["t " * 200, "exactly eight tokens one two three four five"]
    got = _fingerprint_batch(texts)
    assert got.tolist() == [scalar_fp(t) for t in texts]


def test_simhash_combo_keys_np_matches_codegen(spark):
    """The Arrow-pass numpy combo keys must equal the codegen packed-literal
    ``transform`` array bit for bit (the banding guarantee rests on
    identical key values)."""
    import pyspark.sql.functions as F

    from datasketches_pig_spark.operators.signatures import simhash_combo_keys_np
    from datasketches_pig_spark.operators.lsh import simhash_combo_key_array

    rng = np.random.RandomState(7)
    sims = rng.randint(-(2**63), 2**63 - 1, size=100, dtype=np.int64)
    df = spark.createDataFrame(
        [(i, int(s)) for i, s in enumerate(sims)], "row long, simhash long"
    )
    for h in (3, 4, 6):
        want = simhash_combo_keys_np(sims, h)
        exploded = (
            df.select(
                "row",
                F.posexplode(simhash_combo_key_array(F.col("simhash"), h)),
            )
            .orderBy("row", "pos")
            .toPandas()
        )
        got_arr = exploded["col"].to_numpy(np.int64).reshape(want.shape)
        assert np.array_equal(got_arr, want), h


# ---------------------------------------------------------------------------
# flat shingle-set form vs the list-of-arrays reference kernels
# ---------------------------------------------------------------------------
# The references below are the earlier list-of-arrays producers (one
# np.unique per item), the lexsort + scatter-merge word kernel, and the
# per-item kmv_bottom_k.  The flat kernels must equal them byte for byte.


def _ref_text_shingle_hashes(texts, cfg):
    from datasketches_pig_spark.functions.murmur3 import (
        murmur3_x64_128,
        murmur3_x64_128_fixed,
    )

    k = cfg.shingle_k_text
    bufs, short = [], []
    counts = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if t is None:
            continue
        raw = np.frombuffer(normalize_text(t).encode("utf-8"), dtype=np.uint8)
        if len(raw) == 0:
            continue
        if len(raw) < k:
            short.append((i, raw.tobytes()))
            continue
        bufs.append(np.lib.stride_tricks.sliding_window_view(raw, k))
        counts[i] = len(raw) - k + 1
    out = [np.empty(0, dtype=np.uint64) for _ in texts]
    if bufs:
        h1, _ = murmur3_x64_128_fixed(
            np.ascontiguousarray(np.concatenate(bufs, axis=0)), cfg.seed
        )
        pos = 0
        for i, c in enumerate(counts):
            if c:
                out[i] = np.unique(h1[pos : pos + c])
                pos += c
    for i, b in short:
        out[i] = np.array([murmur3_x64_128(b, cfg.seed)[0]], dtype=np.uint64)
    return out


def _ref_audio_shingle_hashes(pcms, srs, cfg):
    from datasketches_pig_spark.functions.murmur3 import murmur3_x64_128_fixed

    k = cfg.shingle_k_audio
    bufs = []
    counts = np.zeros(len(pcms), dtype=np.int64)
    for i, pcm in enumerate(pcms):
        if pcm is None or len(pcm) == 0:
            continue
        sym = audio_symbols(pcm, int(srs[i]), cfg)
        if len(sym) < k:
            sym = np.pad(sym, (0, k - len(sym)))
        grams = np.lib.stride_tricks.sliding_window_view(sym, k)
        bufs.append(grams)
        counts[i] = grams.shape[0]
    out = [np.empty(0, dtype=np.uint64) for _ in pcms]
    if bufs:
        h1, _ = murmur3_x64_128_fixed(
            np.ascontiguousarray(np.concatenate(bufs, axis=0)), cfg.seed
        )
        pos = 0
        for i, c in enumerate(counts):
            if c:
                out[i] = np.unique(h1[pos : pos + c])
                pos += c
    return out


def _ref_window_gram_hashes(th, tok_counts, n, seed):
    from datasketches_pig_spark.functions.murmur3 import murmur3_x64_128_fixed

    n_docs = len(tok_counts)
    counts = np.zeros(n_docs, dtype=np.int64)
    total = len(th)
    if total < n:
        return np.empty(0, dtype=np.uint64), counts
    doc_id = np.repeat(np.arange(n_docs, dtype=np.int64), tok_counts)
    win = np.lib.stride_tricks.sliding_window_view(th, n)
    valid = doc_id[: total - n + 1] == doc_id[n - 1 :]
    if not valid.any():
        return np.empty(0, dtype=np.uint64), counts
    data = np.ascontiguousarray(win[valid]).view(np.uint8)
    gh, _ = murmur3_x64_128_fixed(data.reshape(-1, 8 * n), seed)
    gdoc = doc_id[: total - n + 1][valid]
    order = np.lexsort((gh, gdoc))
    gd, gs = gdoc[order], gh[order]
    keep = np.empty(len(gs), dtype=bool)
    keep[0] = True
    keep[1:] = (gd[1:] != gd[:-1]) | (gs[1:] != gs[:-1])
    gd, gs = gd[keep], gs[keep]
    return gs, np.bincount(gd, minlength=n_docs).astype(np.int64)


def _ref_word_ngram_hash_sets(texts, n, seed, char_fallback_n):
    from datasketches_pig_spark.operators.signatures import (
        flat_char_hashes,
        flat_token_hashes,
    )

    th, tok_counts = flat_token_hashes(texts, seed)
    gs, counts = _ref_window_gram_hashes(th, tok_counts, n, seed)
    if char_fallback_n is None:
        return gs, counts
    fb = np.flatnonzero(tok_counts < n)
    if len(fb) == 0:
        return gs, counts
    ch, ch_counts = flat_char_hashes([texts[i] for i in fb], seed)
    gs_c, cnt_c = _ref_window_gram_hashes(ch, ch_counts, char_fallback_n, seed)
    if len(gs_c) == 0:
        return gs, counts
    out_counts = counts.copy()
    out_counts[fb] = cnt_c
    out = np.empty(int(out_counts.sum()), dtype=np.uint64)
    offs = np.concatenate([[0], np.cumsum(out_counts)[:-1]])
    w_offs = np.concatenate([[0], np.cumsum(counts)[:-1]])
    c_offs = np.concatenate([[0], np.cumsum(cnt_c)[:-1]])
    word_docs = np.flatnonzero(counts > 0)
    if len(word_docs):
        idx = np.repeat(offs[word_docs] - w_offs[word_docs], counts[word_docs])
        out[np.arange(len(gs), dtype=np.int64) + idx] = gs
    nz = cnt_c > 0
    if nz.any():
        idx = np.repeat(offs[fb[nz]] - c_offs[nz], cnt_c[nz])
        out[np.arange(len(gs_c), dtype=np.int64) + idx] = gs_c
    return out, out_counts


def _assert_flat_equals_list(flat, sets):
    values, counts = flat
    assert values.dtype == np.uint64 and counts.dtype == np.int64
    assert counts.tolist() == [len(s) for s in sets]
    want = np.concatenate(sets) if sets else np.empty(0, np.uint64)
    assert values.tobytes() == want.astype(np.uint64).tobytes()


def _mixed_texts(rng, n_docs):
    words = ["alpha", "Beta", "gamma", "ü", "x", "日本語テキスト", "a", "dup"]
    cjk = list("日本語中文字符テキストの한국어")
    texts = [None, "", "   \t\n ", "ab", "abcd", "x"]
    for _ in range(n_docs):
        r = rng.random()
        if r < 0.05:
            texts.append(None)
        elif r < 0.1:
            texts.append(" " * int(rng.integers(0, 4)))
        elif r < 0.35:
            size = int(rng.integers(0, 30))
            texts.append("".join(rng.choice(cjk, size=size)))
        else:
            size = int(rng.integers(0, 40))
            texts.append(" ".join(rng.choice(words, size=size)))
    return texts


def test_text_shingle_hashes_flat_matches_list_reference():
    rng = np.random.default_rng(10)
    for _ in range(3):
        texts = _mixed_texts(rng, 300)
        rng.shuffle(texts)
        _assert_flat_equals_list(
            text_shingle_hashes(texts, CFG), _ref_text_shingle_hashes(texts, CFG)
        )
    _assert_flat_equals_list(text_shingle_hashes([], CFG), [])
    # only short and empty texts: no batch-wide gram hash at all
    short = [None, "ab", "", "abcd"]
    _assert_flat_equals_list(
        text_shingle_hashes(short, CFG), _ref_text_shingle_hashes(short, CFG)
    )


def test_audio_shingle_hashes_flat_matches_list_reference():
    from datasketches_pig_spark.audioops.codecs import decode_clip
    from datasketches_pig_spark.data.clips import generate_clips_pandas
    from datasketches_pig_spark.operators.shingle import audio_shingle_hashes

    pdf, _, _ = generate_clips_pandas(5, seed=12)
    pcms = [
        decode_clip(b, c, int(s))
        for b, c, s in zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
    ]
    srs = [int(s) for s in pdf["sr_hz"]]
    # missing, empty, and shorter than one 25 ms frame
    pcms[1:1] = [None, np.zeros(0, np.float32), np.full(50, 0.1, np.float32)]
    srs[1:1] = [16000, 16000, 16000]
    _assert_flat_equals_list(
        audio_shingle_hashes(pcms, srs, CFG),
        _ref_audio_shingle_hashes(pcms, srs, CFG),
    )
    _assert_flat_equals_list(
        audio_shingle_hashes([None, np.zeros(0, np.float32)], [8000] * 2, CFG),
        [np.empty(0, np.uint64)] * 2,
    )


def test_word_ngram_hash_sets_matches_lexsort_reference():
    from datasketches_pig_spark.operators.signatures import word_ngram_hash_sets

    rng = np.random.default_rng(11)
    texts = _mixed_texts(rng, 400)
    for n in (2, 3, 5):
        for fb in (None, 4, 6):
            got = word_ngram_hash_sets(texts, n, 9001, fb)
            want = _ref_word_ngram_hash_sets(texts, n, 9001, fb)
            assert got[1].tolist() == want[1].tolist(), (n, fb)
            assert got[0].tobytes() == want[0].tobytes(), (n, fb)
    # a batch of fallback docs only, and one with no gram at all
    for batch in (["日本語のテキスト", None, "中文"], [None, "", "a b"]):
        got = word_ngram_hash_sets(batch, 3, 9001, 4)
        want = _ref_word_ngram_hash_sets(batch, 3, 9001, 4)
        assert got[1].tolist() == want[1].tolist()
        assert got[0].tobytes() == want[0].tobytes()


def test_segment_distinct_and_kmv_prefixes_match_per_item_reference():
    from datasketches_pig_spark.operators.signatures import (
        kmv_prefixes,
        segment_distinct,
    )

    rng = np.random.default_rng(13)
    raw = [
        rng.integers(0, m, size=c, dtype=np.uint64)
        for c, m in [(0, 9), (1, 9), (40, 9), (300, 2**64 - 1), (0, 9), (7, 3)]
    ]
    values, counts = segment_distinct(
        np.concatenate(raw), np.array([len(r) for r in raw])
    )
    sets = [np.unique(r) for r in raw]
    _assert_flat_equals_list((values, counts), sets)
    # count > k, count < k, count == k and k = 0
    for k in (0, 1, 7, 9, 256):
        got = kmv_prefixes(values, counts, k)
        assert len(got) == len(sets)
        for g, s in zip(got, sets):
            assert g.dtype == np.int64
            assert g.tobytes() == kmv_bottom_k(s, k).view(np.int64).tobytes()
    assert kmv_prefixes(np.empty(0, np.uint64), np.zeros(0, np.int64), 4) == []
    empty = segment_distinct(np.empty(0, np.uint64), np.zeros(3, np.int64))
    assert len(empty[0]) == 0 and empty[1].tolist() == [0, 0, 0]


def test_signature_batch_matches_list_reference():
    """The clip signature batch (both modalities, flat form end to end)
    equals the list-of-arrays path: per-item sets concatenated for
    MinHash/SimHash and a per-item kmv_bottom_k."""
    from datasketches_pig_spark.audioops.codecs import decode_clip
    from datasketches_pig_spark.data.clips import generate_clips_pandas
    from datasketches_pig_spark.operators.stages import _band_seed, signature_batch

    pdf, _, _ = generate_clips_pandas(6, seed=14)
    pdf.loc[pdf.index[0], "transcript"] = None
    pdf.loc[pdf.index[1], "transcript"] = "ab"
    got = signature_batch(pdf, CFG, None)
    pcms = [
        decode_clip(b, c, int(s))
        for b, c, s in zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
    ]
    for modality, sets in (
        ("text", _ref_text_shingle_hashes(list(pdf["transcript"]), CFG)),
        ("audio", _ref_audio_shingle_hashes(pcms, list(pdf["sr_hz"]), CFG)),
    ):
        counts = np.array([len(s) for s in sets], dtype=np.int64)
        concat = np.concatenate(sets)
        mh = minhash_signatures(concat, counts, CFG.num_perm, CFG.seed)
        bands = band_hashes(
            mh, CFG.band_count, CFG.rows_per_band, _band_seed(CFG, modality)
        ).view(np.int64)
        assert np.array_equal(np.stack(got[f"{modality}_bands"]), bands)
        assert np.array_equal(
            got[f"{modality}_simhash"].to_numpy(), simhash64(concat, counts)
        )
        assert got[f"n_{modality}_shingles"].tolist() == counts.tolist()
        for g, s in zip(got[f"{modality}_kmv"], sets):
            assert g.tobytes() == kmv_bottom_k(s, CFG.kmv_k).view(np.int64).tobytes()
