"""The benchmark's own checks: deterministic inputs, a gate that catches
one wrong verdict, and a result line that names every metric with its unit.

    python3 -m pytest perfbench/tests -q
"""

import json
from pathlib import Path

import pytest

import gate
import layers
import run
import workloads

BENCHMARK_JSON = Path(run.ROOT) / "BENCHMARK.json"


@pytest.mark.parametrize("name", sorted(workloads.GENERATORS))
def test_same_seed_same_input_hash(name):
    a, b, c = (workloads.generate(name, s) for s in (7, 7, 8))
    assert a.content_hash() == b.content_hash()
    assert a.base.equals(b.base)
    assert a.content_hash() != c.content_hash()


def test_chat_short_fragments_are_short():
    w = workloads.generate("chat_short", 3)
    sizes = w.base["text"].str.encode("utf-8").str.len()
    assert sizes.max() <= workloads.FRAGMENT_MAX_BYTES
    assert w.base.groupby(["conv_id", "turn_idx"]).size().max() == 1


def test_replicas_have_distinct_keys():
    w = workloads.generate("resumable_mixed", 3)
    rows = w.rows()
    assert len(rows) == w.n_turns
    assert not rows.duplicated(["conv_id", "turn_idx"]).any()


@pytest.fixture(scope="module")
def labelled():
    """A small replicated workload and its oracle labels."""
    from cld2_spark.pipeline.oracle import oracle_labels

    w = workloads.generate("resumable_mixed", 5)
    w.base = w.base.iloc[:300].reset_index(drop=True)
    w.replicas = 3
    return w, oracle_labels(w.base)


def _replicated(w, labels):
    import pandas as pd

    return pd.concat([labels.assign(conv_id=workloads.replica_conv_ids(labels["conv_id"], r))
                      for r in range(w.replicas)], ignore_index=True)


def test_gate_accepts_the_oracle_itself(labelled):
    w, labels = labelled
    assert gate.expected_digest(w, labels).mismatches(
        gate.digest_frame(_replicated(w, labels))) == []


@pytest.mark.parametrize("column", ["keep", "drop_reason", "lang1", "scrubbed_text"])
def test_gate_catches_one_flipped_verdict(labelled, column):
    w, labels = labelled
    out = _replicated(w, labels)
    i = len(out) // 2
    flipped = {"keep": not out.at[i, "keep"],
               "drop_reason": None if out.at[i, "drop_reason"] else "toxicity",
               "lang1": "xx" if out.at[i, "lang1"] != "xx" else "en",
               "scrubbed_text": out.at[i, "scrubbed_text"] + " "}[column]
    out.at[i, column] = flipped
    assert gate.expected_digest(w, labels).mismatches(gate.digest_frame(out))


def test_gate_catches_a_duplicated_row(labelled):
    w, labels = labelled
    out = _replicated(w, labels)
    out.iloc[1] = out.iloc[0]  # one key twice, one key missing
    assert gate.expected_digest(w, labels).mismatches(gate.digest_frame(out))


def test_result_line_names_every_metric_with_its_unit():
    for units in (run.END_TO_END, run.PER_LAYER):
        values = {k: i + 0.5 for i, k in enumerate(units)}
        res = json.loads(run.result_line(run.named_metrics(values, units), 4, 0))
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True
        assert res["metrics"] == {k: {"value": values[k], "unit": u}
                                  for k, u in units.items()}
        with pytest.raises(KeyError):
            run.named_metrics(dict(list(values.items())[1:]), units)


def test_benchmark_json_matches_the_metrics_printed():
    spec = json.loads(BENCHMARK_JSON.read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.GENERATORS)


@pytest.mark.parametrize("text,kind,value", [
    ("0 ms", "time", 0.0),
    ("total (min, med, max (stageId: taskId))\n7.8 s (3.8 s, 4.0 s, 4.0 s (stage 14.0: task 12))",
     "time", 7.8),
    ("1.5 m", "time", 90.0),
    ("total (min, med, max (stageId: taskId))\n712.7 KiB (356.3 KiB, 356.4 KiB)",
     "size", 712.7 * 1024),
    ("0.0 B", "size", 0.0),
])
def test_parse_sql_metric(text, kind, value):
    assert layers.parse_metric(text, kind) == pytest.approx(value)


def test_spark_digest_matches_the_python_digest(labelled):
    """The gate's two halves encode rows identically: Spark's aggregate
    over a frame equals the Python digest of the same frame."""
    from cld2_spark.session import get_spark

    w, labels = labelled
    out = _replicated(w, labels)
    spark = get_spark("perfbench-tests", cores=1)
    try:
        row = spark.createDataFrame(out).agg(*gate.spark_digest_columns()).first()
    finally:
        spark.stop()
    assert gate.digest_from_row(row.asDict()).mismatches(gate.digest_frame(out)) == []
