"""End-to-end resumable quality-filter job (the spark-submit entry point).

North-rule requirements implemented here:
  - explicit conv_id hash bucketing: work is split into `n_buckets` units
    keyed by pmod(xxhash64(conv_id), n_buckets); per-turn stages are
    row-local so bucket processing is embarrassingly parallel.
  - checkpoint/resume: a JSON manifest records completed buckets; a resumed
    run anti-filters against it and only processes the remainder. Output is
    written with dynamic partition overwrite on the bucket column, so
    re-processing a bucket is idempotent (exactly-once per bucket).
  - per-partition lineage + metrics: each bucket's manifest entry carries
    its row/keep/drop-reason counts (Observation metrics, lineage.py) and
    the model version; a run-level sidecar aggregates them.
  - one verdict plan per call: `run_pipeline` is built once and each
    commit group writes it filtered on its buckets. The filter is
    deterministic, so Catalyst pushes it beneath the langid UDF to the
    scan and a group scores only its own rows.
  - Arrow batches capped within a group: each group's write runs with
    the Arrow batch bytes capped at ARROW_BATCH_BYTES, so a scan task
    sends the UDF several batches instead of one. The cap was chosen
    when the rule and scrub SQL ran beneath the UDF, to overlap it with
    the kernel; the rules are now computed in the kernel, and with
    nothing beneath the UDF the cap no longer measurably shortens the
    job (BENCH/BASELINE.md). It still lowers the worker's peak RSS by
    about 4 MB. The cap is set around the group writes only, and the
    caller's value is put back afterwards.

The job changes no session setting it does not restore: the parquet sink
sets dynamic partition overwrite on its own writer.

At 100TB the same shape holds: the Iceberg table is partitioned by the same
bucket expression, buckets map to partition pruning on read, and the
manifest keys on (snapshot_id, bucket).

Usage:
    spark-submit --py-files cld2_spark.zip -m cld2_spark.pipeline.run \
        <input_parquet> <output_dir> [n_buckets]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from cld2_spark.pipeline.lineage import observed, write_metrics_sidecar
from cld2_spark.pipeline.stages import run_pipeline
from cld2_spark.session import scoped_conf

BUCKET_COL = "bucket"

# Arrow bytes per batch while a commit group is written (see the module
# docstring). A group leaves each scan task a few thousand turns, one batch
# under the session's 10,000-row bound; the value won a 128 KiB-4 MiB sweep
# on the resumable benchmark (BENCH/BASELINE.md) while the rule SQL ran
# beneath the UDF. Not session-wide: the other queries' pandas UDFs keep
# the session's batching.
ARROW_BATCH_BYTES = 512 * 1024


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def _manifest_path(output_dir: str) -> Path:
    return Path(output_dir) / "_cld2s_manifest.json"


def load_manifest(output_dir: str) -> dict:
    p = _manifest_path(output_dir)
    if p.exists():
        return json.loads(p.read_text())
    return {"completed_buckets": {}}


def save_manifest(output_dir: str, manifest: dict) -> None:
    p = _manifest_path(output_dir)
    p.parent.mkdir(parents=True, exist_ok=True)
    tmp = p.with_suffix(".tmp")
    tmp.write_text(json.dumps(manifest, indent=2, default=str))
    tmp.replace(p)


def run_resumable(spark: SparkSession, input_df: DataFrame, output_dir: str,
                  n_buckets: int = 8, buckets_per_commit: int = 4,
                  fail_after_buckets: int | None = None,
                  iceberg_table: str | None = None) -> dict:
    """Process bucket groups, committing the manifest after each group.

    `fail_after_buckets` injects a crash for the resume test. Returns the
    final manifest. `iceberg_table` routes the sink to an Iceberg table
    when the session has an Iceberg catalog (pipeline/sink.py); the parquet
    layout used otherwise has identical per-bucket overwrite semantics.
    """
    manifest = load_manifest(output_dir)
    done = set(int(b) for b in manifest["completed_buckets"])
    todo = [b for b in range(n_buckets) if b not in done]

    src = input_df.withColumn(BUCKET_COL, bucket_expr(n_buckets))
    verdicts = run_pipeline(src, passthrough=(BUCKET_COL,))
    processed = 0
    from cld2_spark.kernels.model import default_model
    version = default_model().version

    for group_start in range(0, len(todo), buckets_per_commit):
        group = todo[group_start:group_start + buckets_per_commit]
        out, obs = observed(verdicts.where(F.col(BUCKET_COL).isin(group)))
        from cld2_spark.pipeline.sink import write_bucketed
        with scoped_conf(spark, "spark.sql.execution.arrow.maxBytesPerBatch",
                         str(ARROW_BATCH_BYTES)):
            write_bucketed(out, output_dir, table=iceberg_table)
        metrics = dict(obs.get)
        group_id = f"g{min(group)}"
        for b in group:
            manifest["completed_buckets"][str(b)] = {
                "group_id": group_id,
                "group_metrics": metrics, "model_version": version}
        save_manifest(output_dir, manifest)
        processed += len(group)
        if fail_after_buckets is not None and processed >= fail_after_buckets:
            raise RuntimeError(f"injected failure after {processed} buckets")

    write_metrics_sidecar(output_dir, _SumObs(manifest), extra={
        "n_buckets": n_buckets, "model_version": version})
    return manifest


class _SumObs:
    """Adapter: aggregate per-group metrics into one sidecar dict."""

    def __init__(self, manifest: dict):
        total: dict[str, int] = {}
        seen_groups = set()
        for entry in manifest["completed_buckets"].values():
            # metrics are per commit-group: dedupe on the group id, not on
            # metric content (two groups can legitimately produce identical
            # metric dicts). Older manifests without group_id fall back to
            # content dedupe.
            key = entry.get("group_id") or json.dumps(
                entry["group_metrics"], sort_keys=True, default=str)
            if key in seen_groups:
                continue
            seen_groups.add(key)
            for k, v in entry["group_metrics"].items():
                if isinstance(v, (int, float)) and v is not None:
                    total[k] = total.get(k, 0) + v
        self.get = total


def main() -> None:
    from cld2_spark.session import get_spark

    input_path, output_dir = sys.argv[1], sys.argv[2]
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    spark = get_spark("cld2s-quality-filter")
    df = spark.read.parquet(input_path)
    manifest = run_resumable(spark, df, output_dir, n_buckets=n_buckets)
    print(json.dumps({"completed": len(manifest["completed_buckets"])}))


if __name__ == "__main__":
    main()
