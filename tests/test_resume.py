"""Checkpoint/resume: kill mid-run, resume, verify idempotent completion."""

import pytest

from cld2_spark.pipeline.run import load_manifest, run_resumable
from cld2_spark.sources.transcripts import synth_transcripts_pandas


def test_resume_after_injected_failure(spark, tmp_path):
    out = str(tmp_path / "out")
    pdf = synth_transcripts_pandas(800)
    df = spark.createDataFrame(pdf)

    # first run dies after 4 of 8 buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, df, out, n_buckets=8, buckets_per_commit=4,
                      fail_after_buckets=4)
    m1 = load_manifest(out)
    assert len(m1["completed_buckets"]) == 4

    # resume completes the remainder without reprocessing finished buckets
    m2 = run_resumable(spark, df, out, n_buckets=8, buckets_per_commit=4)
    assert len(m2["completed_buckets"]) == 8

    result = spark.read.parquet(f"{out}/data")
    assert result.count() == 800
    # exactly one verdict per (conv_id, turn_idx): idempotent overwrite
    dupes = (result.groupBy("conv_id", "turn_idx").count()
             .where("count > 1").count())
    assert dupes == 0

    # lineage metrics sidecar aggregates to the full row count
    import json
    metrics = json.loads((tmp_path / "out" / "_cld2s_metrics.json").read_text())
    assert metrics["n_turns"] == 800
    assert metrics["n_keep"] + sum(
        metrics[f"n_{r}"] for r in ["too_short", "langid_unreliable",
                                    "low_quality", "high_perplexity", "toxicity"]
    ) == 800


def test_rerun_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "out2")
    df = spark.createDataFrame(synth_transcripts_pandas(200))
    run_resumable(spark, df, out, n_buckets=4, buckets_per_commit=2)
    n1 = spark.read.parquet(f"{out}/data").count()
    # a second full run over the same manifest is a no-op
    m = run_resumable(spark, df, out, n_buckets=4, buckets_per_commit=2)
    assert len(m["completed_buckets"]) == 4
    assert spark.read.parquet(f"{out}/data").count() == n1 == 200


def test_write_bucketed_direct_call_preserves_other_buckets(spark, tmp_path):
    """ADVICE r2 #4: write_bucketed sets dynamic partition overwrite on the
    writer itself -- a direct call under the session default (static) must
    not wipe previously written bucket partitions."""
    from pathlib import Path
    from cld2_spark.pipeline.sink import write_bucketed
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    d = str(tmp_path / "sink")
    a = spark.createDataFrame([("c1", 0, 0)], "conv_id string, turn_idx int, bucket int")
    b = spark.createDataFrame([("c2", 0, 1)], "conv_id string, turn_idx int, bucket int")
    try:
        write_bucketed(a, d)
        write_bucketed(b, d)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)
    kept = {p.name for p in Path(d, "data").iterdir() if p.name.startswith("bucket=")}
    assert kept == {"bucket=0", "bucket=1"}


def test_group_writes_score_only_their_rows_and_keep_session_conf(
        spark, tmp_path, monkeypatch):
    """Each commit-group write's frame comes from the one verdict plan with
    the bucket filter pushed beneath ArrowEvalPython to the scan: above the
    UDF, every group would score every row. The caller's session settings
    are unchanged after a normal return, an injected crash and a failing
    write."""
    import re

    import cld2_spark.pipeline.sink as S
    from cld2_spark.plans.inspect import formatted_plan

    src = str(tmp_path / "in")
    spark.createDataFrame(synth_transcripts_pandas(200)).write.parquet(src)
    df = spark.read.parquet(src)
    batch_key = "spark.sql.execution.arrow.maxBytesPerBatch"
    real_write = S.write_bucketed
    seen = []
    fail = {"on": False}

    def recording_write(out, output_dir, table=None):
        seen.append(formatted_plan(out))
        if fail["on"]:
            raise OSError("sink failed")
        return real_write(out, output_dir, table=table)

    monkeypatch.setattr(S, "write_bucketed", recording_write)
    keys = {batch_key: "3m",
            "spark.sql.sources.partitionOverwriteMode": "static"}
    prior = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        run_resumable(spark, df, str(tmp_path / "a"), n_buckets=4,
                      buckets_per_commit=2)
        assert {k: spark.conf.get(k) for k in keys} == keys
        with pytest.raises(RuntimeError, match="injected failure"):
            run_resumable(spark, df, str(tmp_path / "b"), n_buckets=4,
                          buckets_per_commit=2, fail_after_buckets=2)
        assert {k: spark.conf.get(k) for k in keys} == keys
        fail["on"] = True
        with pytest.raises(OSError, match="sink failed"):
            run_resumable(spark, df, str(tmp_path / "c"), n_buckets=4,
                          buckets_per_commit=2)
        assert {k: spark.conf.get(k) for k in keys} == keys
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)

    assert len(seen) == 2 + 1 + 1
    for plan in seen:
        tree = plan.split("\n\n")[0].splitlines()
        udf_lines = [i for i, ln in enumerate(tree) if "ArrowEvalPython" in ln]
        assert len(udf_lines) == 1, plan
        filt = re.findall(r"^\((\d+)\) Filter.*\nInput \[\d+\]: .*\n"
                          r"Condition : (.*)$", plan, re.M)
        bucket_ids = [n for n, cond in filt if "xxhash64(conv_id" in cond]
        assert bucket_ids, plan
        for n in bucket_ids:
            filt_line = next(i for i, ln in enumerate(tree)
                             if re.search(rf"Filter \({n}\)$", ln))
            assert filt_line > udf_lines[0], plan


def test_crash_resume_rerun_pins_manifest_and_sidecar(spark, tmp_path):
    """A few conversations over 16 buckets, 4 per commit, so some commit
    groups hold no rows: crash after two groups, resume, then rerun. The
    sidecar's counts equal the oracle's on the same rows, the manifest
    lists every bucket once, and the rerun rewrites no bucket directory."""
    import json

    from pyspark.sql import functions as F

    from cld2_spark.pipeline.decide import REASONS
    from cld2_spark.pipeline.oracle import oracle_labels
    from cld2_spark.pipeline.run import bucket_expr

    n_buckets, per_commit = 16, 4
    pdf = synth_transcripts_pandas(80)  # 4 conversations
    df = spark.createDataFrame(pdf)
    used = {r[0] for r in df.select(bucket_expr(n_buckets)).distinct().collect()}
    groups = [set(range(g, g + per_commit))
              for g in range(0, n_buckets, per_commit)]
    assert any(not (g & used) for g in groups), used

    out = tmp_path / "out"
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, df, str(out), n_buckets=n_buckets,
                      buckets_per_commit=per_commit, fail_after_buckets=8)
    run_resumable(spark, df, str(out), n_buckets=n_buckets,
                  buckets_per_commit=per_commit)

    def listing():
        return {p.name: sorted((f.name, f.stat().st_mtime_ns)
                               for f in p.iterdir())
                for p in (out / "data").iterdir() if p.is_dir()}

    before = listing()
    run_resumable(spark, df, str(out), n_buckets=n_buckets,
                  buckets_per_commit=per_commit)
    assert listing() == before
    assert set(before) == {f"bucket={b}" for b in used}

    text = (out / "_cld2s_manifest.json").read_text()
    done = json.loads(text)["completed_buckets"]
    assert sorted(int(b) for b in done) == list(range(n_buckets))
    assert all(text.count(f'"{b}":') == 1 for b in range(n_buckets))

    want = oracle_labels(pdf)
    reasons = want["drop_reason"].value_counts()
    metrics = json.loads((out / "_cld2s_metrics.json").read_text())
    assert metrics["n_turns"] == len(pdf)
    assert metrics["n_keep"] == int(want["keep"].sum())
    for r in REASONS:
        assert metrics[f"n_{r}"] == int(reasons.get(r, 0)), r
    assert spark.read.parquet(str(out / "data")).where(
        F.col("keep")).count() == metrics["n_keep"]
