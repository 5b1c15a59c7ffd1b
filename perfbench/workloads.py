"""Seeded input generators for the benchmark workloads.

Every workload starts from `data/documents.parquet` (a verbatim copy of the
sf0.1 `documents` table: 5,000 rows of doc_id + text) and a seed. A
generator builds a small set of *base* turns, and the workload is that set
replicated `replicas` times under distinct conv_ids. The program receives
only the replicated rows; the correctness gate labels the base rows once
with the single-node oracle and expects every replica to carry the same
verdicts.

Generation is pure pandas/NumPy/DuckDB (no Spark), so it is cheap to test
and identical across runs: the same seed gives byte-identical rows and the
same `content_hash`.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pandas as pd

DOCS_PATH = Path(__file__).resolve().parent / "data" / "documents.parquet"

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
REPLICA_SEP = "~"  # base conv_ids never contain it

# chat_short: fragments of at most this many UTF-8 bytes (the rescue zone
# of kernels.analyze is <= 256 bytes, so every fragment is eligible)
FRAGMENT_MAX_BYTES = 100
FRAGMENT_MIN_BYTES = 12
CHAT_TURNS_PER_CONV = 16


@dataclass
class Workload:
    name: str
    seed: int
    base: pd.DataFrame  # COLUMNS, un-replicated, sorted by (conv_id, turn_idx)
    replicas: int

    @property
    def n_turns(self) -> int:
        return len(self.base) * self.replicas

    @property
    def text_bytes(self) -> int:
        """UTF-8 bytes of input text over all replicas."""
        per = sum(len(t.encode("utf-8")) for t in self.base["text"])
        return per * self.replicas

    def rows(self) -> pd.DataFrame:
        """The replicated input table, replica-major."""
        parts = []
        for r in range(self.replicas):
            p = self.base.copy()
            p["conv_id"] = replica_conv_ids(p["conv_id"], r)
            parts.append(p)
        out = pd.concat(parts, ignore_index=True)
        out["turn_idx"] = out["turn_idx"].astype("int32")
        return out

    def content_hash(self) -> str:
        """sha256 over the base rows and the replica count: two runs with
        equal hashes fed the program identical input."""
        h = hashlib.sha256()
        h.update(f"{self.name}|replicas={self.replicas}\n".encode())
        for row in self.base.itertuples(index=False):
            h.update("\x1f".join("" if v is None or v is pd.NaT else str(v)
                                 for v in row).encode("utf-8"))
            h.update(b"\n")
        return h.hexdigest()


def replica_conv_ids(conv_ids: pd.Series, r: int) -> pd.Series:
    return conv_ids + f"{REPLICA_SEP}{r:03d}"


def load_documents() -> pd.DataFrame:
    return pd.read_parquet(DOCS_PATH, columns=["doc_id", "text"])


def _fragments(text: str, targets) -> list[str]:
    """Cut `text` at word boundaries into pieces of at most
    FRAGMENT_MAX_BYTES, each aiming at the next size drawn from
    `targets`."""
    out: list[str] = []
    cur: list[str] = []
    size = 0
    target = next(targets)
    for word in text.split():
        wb = len(word.encode("utf-8"))
        if wb > FRAGMENT_MAX_BYTES:
            continue
        add = wb + (1 if cur else 0)
        if cur and size + add > target:
            out.append(" ".join(cur))
            cur, size, target = [], 0, next(targets)
            add = wb
        cur.append(word)
        size += add
    if cur:
        out.append(" ".join(cur))
    return out


def chat_short(seed: int, n_base: int = 10_000, replicas: int = 8) -> Workload:
    """Short chat turns: documents cut into fragments of at most ~100 bytes
    (most rows enter the bestEffort rescue; per-row costs dominate)."""
    rng = np.random.default_rng(seed)
    docs = load_documents()
    order = rng.permutation(len(docs))
    sizes = iter(rng.integers(FRAGMENT_MIN_BYTES, FRAGMENT_MAX_BYTES + 1,
                              size=4 * n_base).tolist())
    texts: list[str] = []
    for i in order.tolist():
        texts.extend(_fragments(docs["text"].iat[i], sizes))
        if len(texts) >= n_base:
            break
    if len(texts) < n_base:
        raise ValueError(f"documents yield only {len(texts)} fragments")
    texts = texts[:n_base]
    idx = np.arange(n_base)
    t0 = datetime(2025, 1, 1)
    base = pd.DataFrame({
        "conv_id": [f"s{c:05d}" for c in (idx // CHAT_TURNS_PER_CONV)],
        "turn_idx": (idx % CHAT_TURNS_PER_CONV).astype("int32"),
        "role": np.where(idx % 2 == 0, "user", "assistant"),
        "text": texts,
        "tool": None,
        "ts": [t0 + timedelta(seconds=int(s)) for s in idx * 5],
    })
    return Workload("chat_short", seed, base, replicas)


def resumable_mixed(seed: int, replicas: int = 8) -> Workload:
    """The transcripts-shaped mix: `transcripts_view_sql` over the
    documents table (PII/toxic/short/empty rows injected by doc_id), with
    the seed permuting which text each doc_id carries."""
    import duckdb

    from cld2_spark.sources.transcripts import transcripts_view_sql

    rng = np.random.default_rng(seed)
    docs = load_documents()
    docs["text"] = docs["text"].to_numpy()[rng.permutation(len(docs))]
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        base = con.sql(transcripts_view_sql("duckdb", "documents")).df()
    finally:
        con.close()
    base = base[COLUMNS].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    base["turn_idx"] = base["turn_idx"].astype("int32")
    base["tool"] = base["tool"].astype(object).where(base["tool"].notna(), None)
    return Workload("resumable_mixed", seed, base, replicas)


GENERATORS = {
    "chat_short": chat_short,
    "resumable_mixed": resumable_mixed,
}


def generate(name: str, seed: int) -> Workload:
    if name not in GENERATORS:
        raise ValueError(f"unknown workload {name!r}; one of {sorted(GENERATORS)}")
    return GENERATORS[name](seed)


def write_parquet(df: pd.DataFrame, path: Path) -> None:
    """Parquet Spark can read: microsecond timestamps (pandas' default
    nanoseconds are rejected by Spark's reader)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), str(path),
                   coerce_timestamps="us", allow_truncated_timestamps=True)
