"""Measure the verify stage's shuffle volume under prefix-KMV verify vs the
single-tier full-sketch verify (VERDICT r4 "done" criterion: shuffled bytes
down >= 4x, event-level evidence).

Runs signature -> candidates once, snapshots the Spark REST stage metrics,
executes ONLY the verify stage, and diffs the metrics: every byte in the
report is attributable to verify_pairs.

Usage:
  python tools/verify_bytes.py gen <dir> <n_groups>
  python tools/verify_bytes.py run <dir> <cores> <prefix|none>

``run <prefix>`` sets ``verify.PREFIX_HASHES`` to that value and turns the
pair-count gate off, so the tier runs at any corpus size; ``none`` sets it to
``kmv_k``, which is no proper prefix, so verify runs the single tier.
"""

from __future__ import annotations

import json
import sys
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _stages(ui: str) -> dict[int, dict]:
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    out = {}
    for st in json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages")
    ):
        if st["status"] not in ("COMPLETE", "ACTIVE"):
            continue
        key = (st["stageId"], st["attemptId"])
        out[key] = {
            "shuffle_read": st["shuffleReadBytes"],
            "shuffle_write": st["shuffleWriteBytes"],
            "input": st["inputBytes"],
            "name": st["name"],
        }
    return out


def run(in_dir: str, cores: int, prefix: int | None) -> None:
    import time

    from datasketches_pig_spark.config import DedupConfig
    from datasketches_pig_spark.incremental import all_bands
    from datasketches_pig_spark.operators.lsh import candidate_pairs
    from datasketches_pig_spark.operators.stages import signature_stage
    from datasketches_pig_spark.operators import verify as V
    from datasketches_pig_spark.session import get_spark, warm_python_workers

    cfg = DedupConfig()
    V.PREFIX_HASHES = cfg.kmv_k if prefix is None else prefix
    V.PREFIX_MIN_PAIRS = 0
    spark = get_spark(
        f"verify-bytes-{prefix}",
        cores=cores,
        shuffle_partitions=2 * cores,
        extra_conf={"spark.ui.enabled": "true"},  # REST metrics source
    )
    warm_python_workers(spark)
    clips = spark.read.parquet(f"{in_dir}/clips.parquet").localCheckpoint()
    n = clips.count()

    sigs = signature_stage(clips, cfg).localCheckpoint()
    cands = candidate_pairs(all_bands(sigs, cfg), cfg).distinct().localCheckpoint()
    n_cands = cands.count()

    ui = spark.sparkContext.uiWebUrl
    before = _stages(ui)
    t0 = time.time()
    verified = V.verify_pairs(
        cands, sigs, cfg, transcripts=clips.select("clip_id", "transcript")
    ).localCheckpoint()
    n_dup = verified.filter("is_dup").count()
    wall = time.time() - t0
    after = _stages(ui)

    new = {k: v for k, v in after.items() if k not in before}
    tot = {
        m: sum(v[m] for v in new.values())
        for m in ("shuffle_read", "shuffle_write", "input")
    }
    for k in sorted(new, key=lambda k: -new[k]["shuffle_write"]):
        v = new[k]
        print(
            f"#  stage {k[0]:4d}  {v['shuffle_write']/1e6:8.1f} MB write  "
            f"{v['shuffle_read']/1e6:8.1f} MB read   {v['name'][:60]}",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {
                "prefix": prefix,
                "cores": cores,
                "clips": n,
                "candidates": n_cands,
                "dup_pairs": n_dup,
                "verify_wall_s": round(wall, 2),
                "verify_stages": len(new),
                **{f"{m}_bytes": int(v) for m, v in tot.items()},
                **{f"{m}_mb": round(v / 1e6, 1) for m, v in tot.items()},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "gen":
        from datasketches_pig_spark.data.clips import generate_clips_spark
        from datasketches_pig_spark.session import get_spark

        spark = get_spark("gen", cores=32, shuffle_partitions=64)
        df = generate_clips_spark(
            spark, int(sys.argv[3]), seed=777, out_dir=sys.argv[2]
        )
        print(json.dumps({"generated": df.count()}))
        spark.stop()
    else:
        pfx = None if sys.argv[4] == "none" else int(sys.argv[4])
        run(sys.argv[2], int(sys.argv[3]), pfx)
