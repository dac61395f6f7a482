"""Long-document evidence for the text prefix screen (VERDICT r5 §3, r6).

The corpus-adaptive gate in ``textops/dedup.py:minhash_dedup_pairs``
auto-disables the prefix screen below ``4 * p`` mean shingles,
resting on a measured short-doc LOSS of the r5 Arrow screen.  The win the
screen exists for is 10³–10⁴-shingle web pages — but measurement (r6) and
the bound algebra agree the win region is narrower than "long docs":

The KL reject fires when ``ub(est, p) < τ``, i.e. ``KL(est‖τ) >
ln(2/δ)/p``.  At p=64, δ=1e-12, τ=0.8 that is est ≲ 0.37 — while b32/r4
banding only emits J ≲ 0.37 pairs as candidates ~25-35%% of the time.  A
corpus whose near-dups all sit at/above threshold gives the screen NOTHING
to reject (every candidate routes to the gram join anyway) and the screen
is pure toll.  The screen pays where the candidate stream carries mid-J
mass — boilerplate/template families at J ≈ 0.4-0.6, pervasive in web
corpora — and that regime needs p=128 (reject cut est ≲ 0.50, where
banding catch is 74-87%%).  This tool generates exactly that corpus shape
and measures OFF vs ON(p=64) vs ON(p=128):

  gen   <dir> <n_docs>   seeded corpus of 1.5k-4k-WORD docs: 8%% true
                         near-dups (1-in-40 word edits, J≈0.86) + 30%%
                         boilerplate pairs (1-in-6 edits, J≈0.44 — banding
                         catches ~69%%, the p=128 screen rejects ~90%%)
  run   <dir> <cores> <mode>   one timed minhash_dedup_pairs run; mode =
                         on64 | on128 (screen forced at that prefix) |
                         off (gate never met: join-everything baseline,
                         after the probe) | auto (default gate)
  all   [n_docs]         gen + interleaved taskset-pinned off/on64/on128
                         rounds (the same steal-hygiene as scaling_bench.py)

Output: one JSON line per run with wall, pair count (must be identical
across modes — parity), and the chosen mode.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def gen(out_dir: str, n_docs: int) -> None:
    import numpy as np

    from datasketches_pig_spark.session import get_spark

    rng = np.random.default_rng(777)
    vocab = np.array([f"w{i:05d}" for i in range(30000)])
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random() if i > 50 else 1.0
        if r < 0.08:
            # true near-dup: 1-in-40 word edits -> shingle change f <= 3/40,
            # J = (1-f)/(1+f) >= 0.86 (above tau=0.8)
            src = int(rng.integers(0, i))
            words = texts[src].split()
            for pos in rng.integers(0, len(words), size=max(len(words) // 40, 1)):
                words[pos] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        elif r < 0.38:
            # boilerplate: 1-in-6 edits.  Shingle-survival accounts for
            # window overlap: P(3-gram untouched) = exp(-3/6) = 0.61, so
            # J = u/(2-u) ~= 0.44 (mid-band: banding emits it as a
            # candidate ~69%, the final filter drops it)
            src = int(rng.integers(0, i))
            words = texts[src].split()
            for pos in rng.integers(0, len(words), size=max(len(words) // 6, 1)):
                words[pos] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            ln = int(rng.integers(1500, 4000))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), size=ln)]))
    import pandas as pd

    pdf = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})
    spark = get_spark("longdoc-gen", cores=32, shuffle_partitions=64)
    spark.createDataFrame(pdf).repartition(64).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    mean_words = float(np.mean([len(t.split()) for t in texts]))
    print(json.dumps({"generated": n_docs, "mean_words": round(mean_words, 1), "dir": out_dir}))
    spark.stop()


def run(in_dir: str, cores: int, mode: str) -> None:
    from datasketches_pig_spark.session import get_spark, warm_python_workers
    from datasketches_pig_spark.textops import dedup
    from datasketches_pig_spark.textops.dedup import minhash_dedup_pairs

    # (p, mean-shingle gate) per mode, set before any plan is built
    if mode != "auto":
        dedup.PREFIX_SCREEN_HASHES, dedup.PREFIX_SCREEN_MIN_MEAN_SHINGLES = {
            "on64": (64, 0),
            "on128": (128, 0),
            "off": (dedup.PREFIX_SCREEN_HASHES, math.inf),
        }[mode]
    spark = get_spark(f"longdoc-{mode}-{cores}", cores=cores, shuffle_partitions=2 * cores)
    warm_python_workers(spark)
    docs = spark.read.parquet(f"{in_dir}/documents.parquet")
    n = docs.count()
    minhash_dedup_pairs(docs, "doc_id", "text", 3, 0.8).count()  # warm
    trials = int(os.environ.get("SPARK_GRAFT_LONGDOC_TRIALS", "1"))
    walls, n_pairs = [], 0
    for _ in range(trials):
        t0 = time.time()
        n_pairs = minhash_dedup_pairs(docs, "doc_id", "text", 3, 0.8).count()
        walls.append(round(time.time() - t0, 2))
    print(
        json.dumps(
            {
                "mode": mode,
                "cores": cores,
                "docs": n,
                "dup_pairs": n_pairs,
                "wall_s": min(walls),
                "trials": walls,
            }
        )
    )
    spark.stop()


def all_(n_docs: int) -> None:
    d = tempfile.mkdtemp(prefix="dsps_longdoc_")
    me = str(REPO / "tools" / "longdoc_bench.py")

    def sub(args: list[str], cpus: int | None = None) -> dict:
        cmd = [sys.executable, me, *args]
        if cpus is not None:
            cmd = ["taskset", "-c", f"0-{cpus - 1}", *cmd]
        p = subprocess.run(cmd, capture_output=True, text=True, cwd=str(REPO), check=False)
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if not line:
            print(p.stdout[-2000:], p.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"subprocess {args} produced no JSON")
        return json.loads(line[-1])

    print(json.dumps(sub(["gen", d, str(n_docs)])), file=sys.stderr)
    cores = int(os.environ.get("SPARK_GRAFT_LONGDOC_CORES", "8"))
    rounds = int(os.environ.get("SPARK_GRAFT_LONGDOC_PAIRS", "3"))
    results = []
    for _ in range(rounds):
        row = {}
        for mode in ("off", "on64", "on128"):
            row[mode] = sub(["run", d, str(cores), mode], cpus=cores)
        assert (
            row["off"]["dup_pairs"] == row["on64"]["dup_pairs"] == row["on128"]["dup_pairs"]
        ), f"parity violated: {row}"
        row["speedup_on64"] = round(row["off"]["wall_s"] / row["on64"]["wall_s"], 3)
        row["speedup_on128"] = round(row["off"]["wall_s"] / row["on128"]["wall_s"], 3)
        results.append(row)
        print(json.dumps(row), file=sys.stderr)
    print(
        json.dumps(
            {
                "rounds": results,
                "speedups_on64": [r["speedup_on64"] for r in results],
                "speedups_on128": [r["speedup_on128"] for r in results],
            }
        )
    )


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "gen":
        gen(sys.argv[2], int(sys.argv[3]))
    elif cmd == "run":
        run(sys.argv[2], int(sys.argv[3]), sys.argv[4])
    else:
        all_(int(sys.argv[2]) if len(sys.argv) > 2 else 40000)
