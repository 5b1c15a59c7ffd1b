"""Single-core langid-kernel micro-benchmark (the VERDICT 'rows/s' basis).

Measures analyze_batch (langid + trigram cross-check + perplexity, the
pipeline's Python stage) on 5,000 transcript turns derived from the
benchmark's documents table (perfbench/data/documents.parquet, read only)
-- one process, no Spark. The batch goes through the same
`kernel_slices` as the langid UDF, one kernel call per slice. Prints
rows/s per run and how far the process's peak RSS (ru_maxrss) rose during
that run, then the best run; use the BEST (steal noise on a shared VM only
ever slows a run). Peak RSS is a high-water mark, so the first run's rise
is the one that bounds a worker's memory.

Run:  python tools/kernel_bench.py [n_runs]
"""

from __future__ import annotations

import resource
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

DOCUMENTS = REPO / "perfbench" / "data" / "documents.parquet"
BATCH = 5000


def main() -> None:
    n_runs = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    from cld2_spark.kernels.analyze import analyze_batch, kernel_slices
    from cld2_spark.kernels.model import default_model
    from cld2_spark.sources.transcripts import transcripts_view_sql

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{DOCUMENTS}')")
    rows = con.sql("SELECT text FROM ("
                   + transcripts_view_sql("duckdb", "documents")
                   + f") LIMIT {BATCH}").fetchall()
    texts = [r[0] or "" for r in rows]
    model = default_model()
    analyze_batch(texts[:500], model)  # warm: model load, numpy JIT caches

    best = float("inf")
    for i in range(n_runs):
        rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        t0 = time.monotonic()
        for s in kernel_slices(texts):
            analyze_batch(texts[s], model)
        dt = time.monotonic() - t0
        grew = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - rss0
        best = min(best, dt)
        print(f"run {i}: {len(texts) / dt:.0f} rows/s, "
              f"peak RSS +{grew / 1024:.1f} MB")
    print(f"BEST: {len(texts) / best:.0f} rows/s "
          f"({best:.2f}s / {len(texts)} turns)")


if __name__ == "__main__":
    main()
