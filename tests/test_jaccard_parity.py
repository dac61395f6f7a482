"""One KMV Jaccard estimator: the clip verify's full-sketch scores
(``verify._score_full``) and the audio near-dup score
(``audioops.neardup.kmv_pair_jaccard``) both come from
``sketch.theta.theta_jaccard`` and must equal the scalar reference
``signatures.kmv_jaccard`` bit for bit — or, for audio pairs whose sketches
are complete, the exact Jaccard of the full sets.

Cases straddle the 2^63 boundary (hashes that read as negative longs, where
unsigned order must survive the sign flip), include empty sides, and
complete sketches whose union exceeds k.  Checked in the fixture session
and in an ANSI-on ``newSession()``."""

import numpy as np
import pytest

from datasketches_pig_spark.audioops.neardup import kmv_pair_jaccard
from datasketches_pig_spark.operators.signatures import kmv_bottom_k, kmv_jaccard
from datasketches_pig_spark.operators.verify import _score_full

K = 8
_U64 = np.uint64


def _cases():
    """(full set A, full set B) pairs, sorted-unique uint64."""
    rng = np.random.default_rng(9001)
    cases = []
    # truncated: universes far larger than k, straddling 2^63
    for trial in range(6):
        ua = rng.integers(0, 2**64, size=40, dtype=_U64)
        shared = ua[: 10 + 2 * trial]
        ub = np.concatenate([shared, rng.integers(0, 2**64, size=25, dtype=_U64)])
        cases.append((np.unique(ua), np.unique(ub)))
    high = np.array([2**63 - 1, 2**63, 2**63 + 7, 2**64 - 1], dtype=_U64)
    low = np.array([1, 5, 9], dtype=_U64)
    empty = np.empty(0, dtype=_U64)
    # complete sketches (n <= k) whose union exceeds k
    extra = np.array([11, 13, 2**62, 2**63 + 3, 2**63 + 9], dtype=_U64)
    cases.append((np.r_[low, high[:3]], np.unique(np.r_[low[:1], high[3:], extra])))
    # complete, union <= k, across the boundary
    cases.append((np.r_[low[:2], high[1:3]], np.r_[low[1:], high[2:]]))
    # identical complete sketches; one truncated vs one complete
    cases.append((high, high))
    cases.append((np.unique(rng.integers(0, 2**64, size=30, dtype=_U64)), high))
    # empty sides
    cases += [(empty, high), (high, empty), (empty, empty)]
    return cases


@pytest.fixture(params=["fixture", "ansi"])
def session(request, spark):
    if request.param == "fixture":
        return spark
    s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    return s


def _longs(x: np.ndarray) -> list[int]:
    return [int(v) for v in x.view(np.int64)]


def test_verify_scores_equal_scalar_kmv_jaccard(session):
    cases = _cases()
    sketches = [(kmv_bottom_k(a, K), kmv_bottom_k(b, K)) for a, b in cases]
    sig_rows, pair_rows = [], []
    for i, (ka, kb) in enumerate(sketches):
        # audio carries the NEXT case's pair, so the two modalities differ
        aa, ab = sketches[(i + 1) % len(sketches)]
        sig_rows.append((f"a{i}", _longs(ka), _longs(aa)))
        sig_rows.append((f"b{i}", _longs(kb), _longs(ab)))
        pair_rows.append((f"a{i}", f"b{i}", 0, 0))
    sigs = session.createDataFrame(
        sig_rows, "clip_id string, text_kmv array<long>, audio_kmv array<long>"
    )
    pairs = session.createDataFrame(
        pair_rows, "a string, b string, text_hamming int, audio_hamming int"
    )
    got = {r["a"]: r for r in _score_full(pairs, sigs, K).collect()}
    assert len(got) == len(cases)
    for i, (ka, kb) in enumerate(sketches):
        aa, ab = sketches[(i + 1) % len(sketches)]
        row = got[f"a{i}"]
        assert row["text_jaccard"] == kmv_jaccard(ka, kb, K), f"text case {i}"
        assert row["audio_jaccard"] == kmv_jaccard(aa, ab, K), f"audio case {i}"


def test_audio_score_equals_scalar_or_exact(session):
    cases = _cases()
    rows, want = [], []
    for i, (a, b) in enumerate(cases):
        ka, kb = kmv_bottom_k(a, K), kmv_bottom_k(b, K)
        rows.append((i, _longs(ka), _longs(kb), len(a), len(b)))
        if len(a) <= K and len(b) <= K:
            union = len(np.union1d(a, b))
            want.append(len(np.intersect1d(a, b)) / max(union, 1))
        else:
            want.append(kmv_jaccard(ka, kb, K))
    df = session.createDataFrame(rows, "i int, ka array<long>, kb array<long>, na int, nb int")
    got = dict(
        df.select("i", kmv_pair_jaccard("ka", "kb", "na", "nb", K).alias("j")).collect()
    )
    for i, exp in enumerate(want):
        assert got[i] == exp, f"case {i}: spark {got[i]} vs numpy {exp}"
