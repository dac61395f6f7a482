"""Prefix-KMV verify (r5): tier-1 ships only a p-hash prefix of each
bottom-k sketch plus 8-byte sketch digests; Chernoff-KL bounds certify clear
accepts/rejects of the composite rule, and only uncertifiable pairs fetch
full sketches.  Contract: pair-decision parity with the single-tier
full-sketch verify on the planted corpus."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.data.clips import generate_clips_pandas
from datasketches_pig_spark.operators import verify as V
from datasketches_pig_spark.operators.verify import (
    PREFIX_DELTA,
    binomial_kl_bounds,
)
from datasketches_pig_spark.pipeline import run_pipeline


def test_binomial_kl_bounds_shape():
    est = np.array([0.0, 0.05, 0.5, 0.95, 1.0, 0.3, 0.0])
    n = np.array([64, 64, 64, 64, 64, 256, 0])
    lb, ub = binomial_kl_bounds(est, n, PREFIX_DELTA)
    assert (lb <= est + 1e-12).all() and (est <= ub + 1e-12).all()
    # n = 0 → vacuous interval
    assert lb[-1] == 0.0 and ub[-1] == 1.0
    # wider n → tighter interval at the same estimate
    lb64, ub64 = binomial_kl_bounds(np.array([0.3]), np.array([64]), PREFIX_DELTA)
    lb256, ub256 = binomial_kl_bounds(np.array([0.3]), np.array([256]), PREFIX_DELTA)
    assert ub256[0] < ub64[0] and lb256[0] > lb64[0]
    # the boundary satisfies the KL budget identity (conservative side)
    from datasketches_pig_spark.operators.verify import _kl_div

    budget = np.log(1 / PREFIX_DELTA) / 64
    for e in (0.0, 0.3, 0.9):
        lbx, ubx = binomial_kl_bounds(np.array([e]), np.array([64]), PREFIX_DELTA)
        if ubx[0] < 1.0:
            assert abs(_kl_div(np.array([e]), ubx)[0] - budget) < 1e-6
        if lbx[0] > 0.0:
            assert abs(_kl_div(np.array([e]), lbx)[0] - budget) < 1e-6


def test_bounds_certify_clear_cases_at_p64():
    """The routing predicates must fire for the cases the corpus actually
    produces: a true-negative (est ~0) is a certain reject, a one-side-
    identical dup with moderate support on the other side is a certain
    accept — both at p = 64 and δ = 1e-9."""
    cfg = DedupConfig()
    near, weak, thr = (
        cfg.near_exact_threshold,
        cfg.weak_support_threshold,
        cfg.jaccard_threshold,
    )
    lb, ub = binomial_kl_bounds(np.array([0.0, 0.08]), np.array([64, 64]), PREFIX_DELTA)
    # reject: every disjunct refuted by the upper bounds (audio_ub < near is
    # the binding one)
    for u in ub:
        assert u < near and u < thr
    # accept: identical text sketch (J=1) + audio est 0.7 → audio_lb >= weak
    lb_a, _ = binomial_kl_bounds(np.array([0.7]), np.array([64]), PREFIX_DELTA)
    assert lb_a[0] >= weak


@pytest.fixture(scope="module")
def parity_corpus(spark):
    clips_pdf, truth_pairs, _ = generate_clips_pandas(150, seed=77)
    clips = spark.createDataFrame(clips_pdf).repartition(8).localCheckpoint()
    return clips, truth_pairs


def _decisions(result):
    return {
        (r["a"], r["b"]): r["is_dup"]
        for r in result.stage_frames["verified"].select("a", "b", "is_dup").collect()
    }


def test_prefix_vs_full_parity(spark, parity_corpus, monkeypatch):
    """Same candidate pairs, same decisions: the tiered prefix verify must
    reproduce the single-tier full-sketch verify pair-for-pair (scores on
    tier-1-decided pairs are prefix estimates by contract; is_dup is what
    clustering consumes and must match)."""
    clips, truth_pairs = parity_corpus
    # this small corpus sits below the r6 size gate, so the default run is
    # the single-tier baseline; PREFIX_MIN_PAIRS=0 forces the tier
    res_full = run_pipeline(spark, clips, DedupConfig())
    n_cands = {e["stage"]: e for e in res_full.lineage}["candidates"]["rows_out"]
    assert n_cands < V.PREFIX_MIN_PAIRS
    monkeypatch.setattr(V, "PREFIX_MIN_PAIRS", 0)
    res_prefix = run_pipeline(spark, clips, DedupConfig())

    d_p = _decisions(res_prefix)
    d_f = _decisions(res_full)
    assert set(d_p) == set(d_f)  # same candidate pairs reach a decision
    diff = {k for k in d_p if d_p[k] != d_f[k]}
    assert not diff, f"{len(diff)} pairs decided differently: {sorted(diff)[:5]}"

    # clusters identical too
    cp = sorted((r["clip_id"], r["cluster_id"]) for r in res_prefix.clusters.collect())
    cf = sorted((r["clip_id"], r["cluster_id"]) for r in res_full.clusters.collect())
    assert cp == cf

    # and the planted recall bar still holds on the prefix path
    got = dict(cp)
    truth = {
        (min(a, b), max(a, b)) for a, b in zip(truth_pairs["a"], truth_pairs["b"])
    }
    co = sum(1 for a, b in truth if got[a] == got[b])
    assert co / len(truth) >= 0.99


def test_prefix_tier2_is_minority(spark, parity_corpus, monkeypatch):
    """The point of the tiers: most surviving pairs must be decided from the
    prefix (bounded payload), leaving only a minority to fetch full
    sketches.  Measured through the verify internals on the real candidate
    stream."""
    from datasketches_pig_spark.operators.lsh import candidate_pairs
    from datasketches_pig_spark.operators.stages import signature_stage
    from datasketches_pig_spark.pipeline import run_pipeline as _rp  # noqa: F401

    clips, _ = parity_corpus
    cfg = DedupConfig()
    monkeypatch.setattr(V, "PREFIX_MIN_PAIRS", 0)  # force the tier (r6 gate)
    from datasketches_pig_spark.incremental import all_bands

    sigs = signature_stage(clips, cfg).localCheckpoint()
    cands = candidate_pairs(all_bands(sigs, cfg), cfg).distinct().localCheckpoint()

    captured = {}
    orig = V._score_full

    def spy(slim_pairs, signatures, kmv_k, bcast=False):
        captured["tier2"] = slim_pairs.count()
        return orig(slim_pairs, signatures, kmv_k, bcast=bcast)

    V._score_full = spy
    try:
        out = V.verify_pairs(cands, sigs, cfg, transcripts=clips.select("clip_id", "transcript"))
        total = out.count()
    finally:
        V._score_full = orig
    assert captured["tier2"] < 0.5 * total, (
        f"tier-2 saw {captured['tier2']} of {total} pairs — the prefix tier "
        "is not pulling its weight"
    )


def test_prefix_size_gate_picks_single_tier_on_small_input(
    spark, parity_corpus, monkeypatch
):
    """r6 size-adaptive gate: below PREFIX_MIN_PAIRS candidate pairs the
    verify must collapse to the single-tier path (every surviving pair goes
    through _score_full) — and the result must equal the forced-tier run
    (parity is the gate's license)."""
    from datasketches_pig_spark.incremental import all_bands
    from datasketches_pig_spark.operators.lsh import candidate_pairs
    from datasketches_pig_spark.operators.stages import signature_stage

    clips, _ = parity_corpus
    cfg = DedupConfig()  # default gate: 500k >> this corpus's pair count
    sigs = signature_stage(clips, cfg).localCheckpoint()
    cands = candidate_pairs(all_bands(sigs, cfg), cfg).distinct().localCheckpoint()

    captured = {}
    orig = V._score_full

    def spy(slim_pairs, signatures, kmv_k, bcast=False):
        captured["tier2"] = slim_pairs.count()
        return orig(slim_pairs, signatures, kmv_k, bcast=bcast)

    V._score_full = spy
    try:
        gated = V.verify_pairs(
            cands, sigs, cfg, transcripts=clips.select("clip_id", "transcript")
        )
        rows_gated = {
            (r["a"], r["b"]): r["is_dup"]
            for r in gated.select("a", "b", "is_dup").collect()
        }
        tier2_gated = captured["tier2"]
        with monkeypatch.context() as m:
            # a "prefix" of the whole sketch is no prefix: single tier, gate
            # or not
            m.setattr(V, "PREFIX_HASHES", cfg.kmv_k)
            m.setattr(V, "PREFIX_MIN_PAIRS", 0)
            none_run = V.verify_pairs(
                cands, sigs, cfg, transcripts=clips.select("clip_id", "transcript")
            )
            none_run.count()
        tier2_none = captured["tier2"]
        monkeypatch.setattr(V, "PREFIX_MIN_PAIRS", 0)
        forced = V.verify_pairs(
            cands, sigs, cfg, transcripts=clips.select("clip_id", "transcript")
        )
        rows_forced = {
            (r["a"], r["b"]): r["is_dup"]
            for r in forced.select("a", "b", "is_dup").collect()
        }
        tier2_forced = captured["tier2"]
    finally:
        V._score_full = orig
    # the gate collapsed to the single-tier plan: tier-2 sees exactly the
    # pairs the explicit single-tier baseline sends it, and MORE than
    # the forced-tier run (whose prefix tier decides most pairs upstream)
    assert tier2_gated == tier2_none
    assert tier2_forced < tier2_gated
    assert rows_gated == rows_forced


def test_small_kmv_k_constructs_and_runs_single_tier(
    spark, parity_corpus, monkeypatch
):
    """kmv_k is any power of 2 >= 16.  A sketch no wider than PREFIX_HASHES
    has no proper prefix, so even with the size gate off verify runs the
    single tier: no prefix thresholds are built and _score_full sees every
    surviving pair (as many as under the default gate)."""
    from datasketches_pig_spark.incremental import all_bands
    from datasketches_pig_spark.operators.lsh import candidate_pairs
    from datasketches_pig_spark.operators.stages import signature_stage

    for k in (16, 32, 64):
        assert DedupConfig(kmv_k=k).kmv_k == k

    clips, _ = parity_corpus
    cfg = DedupConfig(kmv_k=64)
    sigs = signature_stage(clips, cfg).localCheckpoint()
    cands = candidate_pairs(all_bands(sigs, cfg), cfg).distinct().localCheckpoint()
    transcripts = clips.select("clip_id", "transcript")

    tier2 = []
    orig = V._score_full

    def spy(slim_pairs, signatures, kmv_k, bcast=False):
        tier2.append(slim_pairs.count())
        return orig(slim_pairs, signatures, kmv_k, bcast=bcast)

    def no_tier(*args, **kwargs):
        raise AssertionError("prefix tier built at kmv_k=64")

    monkeypatch.setattr(V, "_score_full", spy)
    monkeypatch.setattr(V, "prefix_hit_thresholds", no_tier)
    gated = V.verify_pairs(cands, sigs, cfg, transcripts=transcripts)
    rows_gated = sorted(tuple(r) for r in gated.select("a", "b", "is_dup").collect())
    monkeypatch.setattr(V, "PREFIX_MIN_PAIRS", 0)
    ungated = V.verify_pairs(cands, sigs, cfg, transcripts=transcripts)
    rows_ungated = sorted(
        tuple(r) for r in ungated.select("a", "b", "is_dup").collect()
    )

    assert tier2[0] > 0 and tier2[0] == tier2[1]
    assert rows_gated == rows_ungated
