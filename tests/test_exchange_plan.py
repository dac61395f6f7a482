"""Exchange widths follow the session's ``spark.sql.shuffle.partitions``:
the LSH/near-pair operators pin no ``repartition(n, keys)`` width, so every
(a, b) aggregation keeps its map-side partial aggregate below its exchange
(a pin moves the partial aggregate above the exchange, shuffling every raw
pair).  Asserted on the executed plan of the pipeline's candidates frame and
of the MJPEG gate query (a ``bucket_pairs`` caller via ``video_near_pairs``);
the candidates frame also exchanges its band rows exactly once.

The doc Arrow passes (fingerprint, minhash, simhash) add no exchange on their
input either: they read the documents table as the scan splits it."""

import re

import pytest
from conftest import SF_DIR
from pyspark.sql import DataFrame

from datasketches_pig_spark.config import DedupConfig
from datasketches_pig_spark.data.clips import generate_clips_pandas
from datasketches_pig_spark.pipeline import run_pipeline

_NODE = re.compile(r"^([ :+\-]*)(?:\*\(\d+\) )?(.*)$")
_AB = r"a#\d+L?, b#\d+L?"


def _ancestors(nodes, i):
    col = nodes[i][0]
    for j in range(i - 1, -1, -1):
        if nodes[j][0] < col:
            col = nodes[j][0]
            yield nodes[j][1]


def _assert_pair_exchange_shape(plan: str) -> None:
    """No REPARTITION_BY_NUM exchange above the Arrow kernels (a corpus
    generator may still spread its input ids before one), and every hash
    exchange on (a, b) has a partial HashAggregate on (a, b) as its direct
    child."""
    nodes = [(len(m.group(1)), m.group(2)) for m in map(_NODE.match, plan.splitlines())]
    found = 0
    for i, (col, text) in enumerate(nodes):
        if "REPARTITION_BY_NUM" in text:
            assert any(
                t.startswith("MapInPandas") for t in _ancestors(nodes, i)
            ), f"pinned exchange width on the pair side: {text}\n{plan}"
        if not re.match(rf"Exchange hashpartitioning\({_AB}, \d+\)", text):
            continue
        found += 1
        child_col, child = nodes[i + 1]
        assert child_col > col and re.match(
            rf"HashAggregate\(keys=\[{_AB}\]", child
        ), f"(a, b) exchange without a partial aggregate below it:\n{plan}"
    assert found, plan


def _executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _record_checkpoints(spark, monkeypatch) -> list[DataFrame]:
    """Collect every frame ``localCheckpoint`` materializes from here on."""
    checkpointed = []
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    original = cls.localCheckpoint

    def recording(self, *args, **kwargs):
        checkpointed.append(self)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    return checkpointed


def test_pipeline_candidates_keep_partial_distinct(spark, monkeypatch):
    """The candidates stage exchanges its band rows once: after AQE, one
    non-reused ``band_key`` exchange feeds every branch (the others read a
    ``ReusedExchange``), with no ``collect_list`` aggregate and no cache."""
    clips_pdf, _, _ = generate_clips_pandas(20, seed=5)
    clips = spark.createDataFrame(clips_pdf)
    checkpointed = _record_checkpoints(spark, monkeypatch)
    run_pipeline(spark, clips, DedupConfig())
    monkeypatch.undo()
    # the candidates stage is the first checkpointed (a, b) frame
    candidates = next(df for df in checkpointed if df.columns == ["a", "b"])
    plan = _executed_plan(candidates)
    _assert_pair_exchange_shape(plan)
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    nodes = [m.group(2) for m in map(_NODE.match, final.splitlines())]
    band_exchanges = [
        t for t in nodes if t.startswith("Exchange hashpartitioning(band_key#")
    ]
    assert len(band_exchanges) == 1, final
    assert any(t.startswith("ReusedExchange") for t in nodes), final
    assert "ObjectHashAggregate" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan


def test_video_gate_keeps_partial_pair_count(spark):
    from datasketches_pig_spark.queries import q_dedup_mjpeg

    out = q_dedup_mjpeg(spark, SF_DIR)
    assert out.collect()
    _assert_pair_exchange_shape(_executed_plan(out))


@pytest.mark.parametrize("op", ["fingerprint", "minhash", "simhash"])
def test_doc_arrow_passes_read_the_scan_as_split(spark, monkeypatch, op):
    """The doc Arrow passes take their input as the scan splits it: no
    round-robin exchange in front of the kernel, even when the documents
    table is one single-row-group file (one task).  Checked on the output
    and on every frame the operator checkpoints on the way."""
    from datasketches_pig_spark.queries import q_fingerprint
    from datasketches_pig_spark.textops.dedup import minhash_stage, simhash_near_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    build = {
        "fingerprint": lambda: q_fingerprint(spark, SF_DIR),
        "minhash": lambda: minhash_stage(docs, "doc_id", "text"),
        "simhash": lambda: simhash_near_pairs(docs, "doc_id", "text"),
    }[op]
    checkpointed = _record_checkpoints(spark, monkeypatch)
    out = build()
    out.collect()
    monkeypatch.undo()
    for df in (out, *checkpointed):
        plan = _executed_plan(df)
        assert "RoundRobinPartitioning" not in plan, plan


_PYTHON_NODE = re.compile(r"\b(\w*InPandas\w*|\w*InArrow\w*|\w*EvalPython\w*)\b")


@pytest.mark.parametrize("tiered", [False, True])
def test_verified_frame_crosses_python_only_for_containment(
    spark, monkeypatch, tiered
):
    """The verify stage scores both modalities in the JVM: across the
    pipeline's verified frame and every frame checkpointed while it is
    built, the one Python-evaluated node is the borderline containment
    ``MapInPandas``.  Checked on the single-tier route and, with the
    prefix-tier gate opened, on the tiered one."""
    import datasketches_pig_spark.pipeline as pipeline
    from datasketches_pig_spark.operators import verify

    clips_pdf, _, _ = generate_clips_pandas(20, seed=5)
    clips = spark.createDataFrame(clips_pdf)
    if tiered:
        monkeypatch.setattr(verify, "PREFIX_MIN_PAIRS", 0)
    built = []
    real_verify = pipeline.verify_pairs

    def recording_verify(*args, **kwargs):
        checkpointed = _record_checkpoints(spark, monkeypatch)
        out = real_verify(*args, **kwargs)
        built.extend([*checkpointed, out])
        return out

    monkeypatch.setattr(pipeline, "verify_pairs", recording_verify)
    run_pipeline(spark, clips, DedupConfig())
    monkeypatch.undo()
    assert len(built) >= 2  # the full-sketch scores are checkpointed
    # the physical plan before adaptive execution: an executed adaptive plan
    # prints its initial and final trees, each node twice
    nodes = [
        line.strip()
        for df in built
        for line in df._jdf.queryExecution().sparkPlan().toString().splitlines()
        if _PYTHON_NODE.search(line)
    ]
    assert len(nodes) == 1 and "MapInPandas substr_check" in nodes[0], nodes
