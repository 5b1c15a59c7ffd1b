"""Lineage + metrics sidecar for pipeline runs.

Per-run metrics are collected with `pyspark.sql.Observation` (zero extra
action: metrics ride the write job itself) and written as a JSON sidecar
next to the output -- the parquet-world analogue of metrics attached to an
Iceberg snapshot. Per-bucket completion markers live in the run manifest
(see run.py) and give checkpoint/resume + lineage at partition granularity.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.observation import Observation

from cld2_spark.pipeline.decide import REASONS


def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach drop-reason counters to the verdict frame."""
    obs = Observation("cld2s_pipeline")
    aggs = [
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
    ] + [
        F.sum((F.col("drop_reason") == r).cast("long")).alias(f"n_{r}")
        for r in REASONS
    ]
    return df.observe(obs, *aggs), obs


def write_metrics_sidecar(output_path: str, metrics: dict,
                          extra: dict | None = None) -> dict:
    metrics = {**metrics, "wall_clock_unix": int(time.time()), **(extra or {})}
    side = Path(output_path) / "_cld2s_metrics.json"
    side.parent.mkdir(parents=True, exist_ok=True)
    side.write_text(json.dumps(metrics, indent=2, default=str))
    return metrics
