"""Hypothesis property tests for the prefix-KMV verify math (r5) — the
Chernoff-KL bound and the KMV pair statistics it is indexed by.

Pure-kernel (no Spark).  Set *structure* (sizes, overlap) is adversarial via
Hypothesis; set *elements* are pushed through MurmurHash3 first, exactly as
in production, so hash order is the uniform permutation the hypergeometric
argument requires — Hypothesis controls the combinatorics, not the hash
order.  The probabilistic soundness checks use δ = 1e-9, so a genuine bound
violation in a few hundred examples is ~impossible; any failure here is a
bug in the bounds or the estimator."""

import numpy as np
from hypothesis import given, settings, strategies as st

from datasketches_pig_spark.functions.murmur3 import murmur3_long_batch
from datasketches_pig_spark.operators.signatures import kmv_bottom_k, kmv_jaccard
from datasketches_pig_spark.operators.verify import PREFIX_DELTA, binomial_kl_bounds

# adversarial overlap structure: |common|, |only-A|, |only-B| element counts
_sets = st.tuples(
    st.integers(0, 120), st.integers(0, 120), st.integers(0, 120)
)


def _hashed_pair(n_common, n_a, n_b, tag):
    """Two sorted-unique uint64 hash sets with exactly n_common shared
    elements, derived through murmur (production hash order)."""
    base = np.arange(n_common + n_a + n_b, dtype=np.int64) + tag * 1_000_003
    h, _ = murmur3_long_batch(base)
    h = h.view(np.uint64)
    common, only_a, only_b = (
        h[:n_common],
        h[n_common : n_common + n_a],
        h[n_common + n_a :],
    )
    sa = np.unique(np.concatenate([common, only_a]))
    sb = np.unique(np.concatenate([common, only_b]))
    return sa, sb


def _pair_stats(ka, kb, k):
    """``(hits, denom, union)`` of one sketch pair in scalar numpy: the
    merged union's size, ``denom = min(union, k)``, and the count of its
    bottom-``denom`` elements held by BOTH sketches."""
    union = np.union1d(ka, kb)
    denom = min(len(union), k)
    hits = int(np.isin(union[:denom], np.intersect1d(ka, kb)).sum())
    return hits, denom, len(union)


@given(_sets, st.integers(0, 10_000), st.sampled_from([8, 16, 64]))
@settings(max_examples=60, deadline=None)
def test_pair_stats_match_scalar_and_exact_mode(sizes, tag, k):
    """hits / denom is the scalar kmv_jaccard (0.0 on an empty side), and
    below k the estimate IS the exact Jaccard (the exact-mode contract
    every oracle depends on)."""
    sa, sb = _hashed_pair(*sizes, tag)
    ka, kb = kmv_bottom_k(sa, k), kmv_bottom_k(sb, k)
    est = kmv_jaccard(ka, kb, k)
    hits, denom, union = _pair_stats(ka, kb, k)
    assert 0 <= hits <= denom <= max(union, 1)
    assert est == (hits / denom if len(ka) and len(kb) else 0.0)
    if len(sa) and len(sb) and len(sa) < k and len(sb) < k and union <= k:
        inter = len(np.intersect1d(sa, sb))
        exact = inter / (len(sa) + len(sb) - inter)
        assert abs(est - exact) < 1e-12


@given(_sets, st.integers(0, 10_000))
@settings(max_examples=60, deadline=None)
def test_bounds_bracket_full_estimate(sizes, tag):
    """Tier-1 soundness: the [lb, ub] interval computed from the 16-hash
    prefix of each sketch brackets the estimate the FULL-sketch verifier
    would compute (δ = 1e-9 ⇒ deterministic at test scale), and collapses
    to it exactly whenever the prefix provably equals the full information
    (both sides complete and union untruncated — the `known` rule in
    _prefix_scorer)."""
    k, p = 64, 16
    sa, sb = _hashed_pair(*sizes, tag)
    ka, kb = kmv_bottom_k(sa, k), kmv_bottom_k(sb, k)
    full = kmv_jaccard(ka, kb, k)
    pa, pb = ka[:p], kb[:p]
    hits, denom, union = _pair_stats(pa, pb, p)
    est = hits / denom if denom > 0 and len(pa) and len(pb) else 0.0
    lb, ub = binomial_kl_bounds(np.array([est]), np.array([denom]), PREFIX_DELTA)
    assert lb[0] <= est + 1e-12 and est <= ub[0] + 1e-12
    if len(pa) == 0 or len(pb) == 0:
        assert full == 0.0  # empty side: exact verifier's 0.0 convention
        return
    if len(pa) < p and len(pb) < p and union <= p:
        # prefixes are the whole sketches — prefix estimate IS full estimate
        assert abs(est - full) < 1e-12
    assert lb[0] - 1e-12 <= full <= ub[0] + 1e-12


@given(
    st.lists(st.floats(0.0, 1.0), min_size=1, max_size=50),
    st.sampled_from([0, 1, 4, 16, 256, 4096]),
)
@settings(max_examples=60, deadline=None)
def test_kl_bounds_shape_and_monotonicity(ests, n):
    """binomial_kl_bounds: 0 ≤ lb ≤ est ≤ ub ≤ 1 elementwise; n = 0 rows are
    vacuous [0, 1]; larger n never widens the interval."""
    est = np.asarray(ests)
    ns = np.full(len(est), n, dtype=np.int64)
    lb, ub = binomial_kl_bounds(est, ns, PREFIX_DELTA)
    assert (0.0 <= lb).all() and (lb <= est + 1e-12).all()
    assert (est - 1e-12 <= ub).all() and (ub <= 1.0).all()
    if n == 0:
        assert (lb == 0.0).all() and (ub == 1.0).all()
    else:
        lb2, ub2 = binomial_kl_bounds(est, 4 * ns, PREFIX_DELTA)
        assert (lb2 >= lb - 1e-9).all() and (ub2 <= ub + 1e-9).all()


@given(
    st.sampled_from([8, 16, 64]),
    st.sampled_from([0.5, 0.7, 0.8, 0.9]),
    st.sampled_from([1e-9, 1e-12]),
)
@settings(max_examples=30, deadline=None)
def test_integer_thresholds_reproduce_float_bisection(p, tau, delta):
    """prefix_hit_thresholds: the precomputed integer grid makes EXACTLY the
    decisions the per-pair float bisection made — for every (hits, denom)
    cell, `hits >= L[tau][denom]` iff `lb(hits/denom, denom) >= tau` and
    `hits >= U[tau][denom]` iff `ub(hits/denom, denom) >= tau`.  This is
    the claim that lets the JVM routing replace the Arrow kernel without
    changing a single routing decision."""
    from datasketches_pig_spark.operators.verify import prefix_hit_thresholds

    tables = prefix_hit_thresholds(p, delta, (tau,))
    L, U = tables["L"][tau], tables["U"][tau]
    for d in range(1, p + 1):
        hs = np.arange(d + 1)
        lb, ub = binomial_kl_bounds(hs / d, np.full(d + 1, d), delta)
        np.testing.assert_array_equal(hs >= L[d], lb >= tau)
        np.testing.assert_array_equal(hs >= U[d], ub >= tau)
        # monotone-threshold sanity: L certifies accepts, U refutes rejects,
        # and an accept-certifying hit count always refutes the reject
        assert U[d] <= L[d]
