"""Correctness gate: the program's verdicts against the single-node oracle.

A run's output is reduced to a `Digest`: the row count, the keep count,
one count per drop reason, and the sum of a CRC-32 over each row's
(conv_id, turn_idx, keep, drop_reason, lang1, scrubbed_text). The expected
digest comes from `pipeline.oracle.oracle_labels` on the un-replicated base
rows, expanded over the replica conv_ids in Python; the observed digest is
computed by Spark over the program's output with the same row encoding
(`spark_digest_columns`). Any flipped verdict, changed language or scrubbed
text, and any missing or duplicated row changes the digest.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import pandas as pd

from workloads import Workload, replica_conv_ids

SEP = "\x1f"
NULL = "-"
REASONS = ("too_short", "langid_unreliable", "low_quality", "high_perplexity",
           "toxicity")


@dataclass(frozen=True)
class Digest:
    rows: int
    keep: int
    crc_sum: int
    drops: dict = field(default_factory=dict)  # reason -> count

    def mismatches(self, other: "Digest") -> list[str]:
        out = []
        for k in ("rows", "keep", "crc_sum"):
            if getattr(self, k) != getattr(other, k):
                out.append(f"{k}: expected {getattr(self, k)}, got {getattr(other, k)}")
        for r in REASONS:
            a, b = self.drops.get(r, 0), other.drops.get(r, 0)
            if a != b:
                out.append(f"drop.{r}: expected {a}, got {b}")
        return out


def _row_key(conv_id, turn_idx, keep, drop_reason, lang1, scrubbed) -> bytes:
    parts = [conv_id, str(int(turn_idx)), "true" if keep else "false",
             drop_reason, lang1, scrubbed]
    return SEP.join(NULL if p is None else str(p) for p in parts).encode("utf-8")


def digest_frame(labels: pd.DataFrame) -> Digest:
    """Digest of a labels frame with the oracle_labels columns."""
    crc = 0
    for row in labels[["conv_id", "turn_idx", "keep", "drop_reason", "lang1",
                       "scrubbed_text"]].itertuples(index=False):
        crc += zlib.crc32(_row_key(*row))
    reasons = labels["drop_reason"].value_counts().to_dict()
    return Digest(rows=len(labels), keep=int(labels["keep"].sum()),
                  crc_sum=crc, drops={r: int(reasons.get(r, 0)) for r in REASONS})


def expected_digest(workload: Workload, labels: pd.DataFrame) -> Digest:
    """Digest every replica must add up to, from the base rows' labels."""
    crc = 0
    cols = labels[["conv_id", "turn_idx", "keep", "drop_reason", "lang1",
                   "scrubbed_text"]]
    for r in range(workload.replicas):
        rep = cols.assign(conv_id=replica_conv_ids(cols["conv_id"], r))
        for row in rep.itertuples(index=False):
            crc += zlib.crc32(_row_key(*row))
    base = digest_frame(labels)
    n = workload.replicas
    return Digest(rows=base.rows * n, keep=base.keep * n, crc_sum=crc,
                  drops={r: c * n for r, c in base.drops.items()})


def spark_digest_columns():
    """Aggregate Columns computing a Digest over a verdict frame in Spark;
    the aliases are the keys `digest_from_row` reads."""
    from pyspark.sql import functions as F

    def s(c):
        return F.coalesce(F.col(c).cast("string"), F.lit(NULL))

    key = F.concat_ws(SEP, s("conv_id"), s("turn_idx"), s("keep"),
                      s("drop_reason"), s("lang1"), s("scrubbed_text"))
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("keep").cast("long")).alias("keep"),
        F.sum(F.crc32(key.cast("binary"))).alias("crc_sum"),
    ] + [F.sum((F.col("drop_reason") == r).cast("long")).alias(f"drop_{r}")
         for r in REASONS]


def digest_from_row(row: dict) -> Digest:
    return Digest(rows=int(row["rows"]), keep=int(row["keep"] or 0),
                  crc_sum=int(row["crc_sum"] or 0),
                  drops={r: int(row[f"drop_{r}"] or 0) for r in REASONS})
