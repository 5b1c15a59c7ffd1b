"""Single-core langid-kernel micro-benchmark (the VERDICT 'rows/s' basis).

Measures analyze_batch (langid + trigram cross-check + perplexity, the
pipeline's Python stage) on two inputs of 5,000 rows each, one process
per input, no Spark:

  salad    transcript turns derived from the benchmark's documents table
           (perfbench/data/documents.parquet, read only): word salad drawn
           from a few dozen English tokens, so most quad probes miss
  natural  rows drawn with a seeded generator from the in-repo CLD2 texts
           (cld2_spark/model/corpus.jsonl and
           tests/data/cld2_unittest_pairs.jsonl): half whole texts, half
           fragments of at most 100 UTF-8 bytes cut at word boundaries

Each batch goes through the same `kernel_slices` as the langid UDF, one
kernel call per slice. Per input it prints rows/s per run and how far the
process's peak RSS (ru_maxrss) rose during that run, then the best run;
use the BEST (steal noise on a shared VM only ever slows a run). Peak RSS
is a high-water mark, so the first run's rise is the one that bounds a
worker's memory; each input runs in a fresh child process so its reading
does not sit under the other input's peak. A last, untimed pass counts
the rows detect pass 1 sent to the retry, the rows the bestEffort rescue
took, and the rows over 2 KB the squeeze trigger tested and squeezed.
It also times `analyze.rule_pass` alone over the normalized slices (best
of three, the quality flags and the scrub/toxicity guards) and prints
the share of rows that set each guard: those rows still pay the regexes
above the UDF.

With `--against DIR` it compares this tree's kernel with the one in the
checkout DIR: per input, n_runs pairs of child processes score the same
texts, alternating which tree runs first, each child reporting its best of
three runs after a warm-up; it prints each side's median rows/s and every
pair's ratio. On a shared VM the readings of one tree drift by a third
between invocations, so an A/B needs both trees in one invocation.

Run:  python tools/kernel_bench.py [n_runs] [--seed S] [--input salad|natural|all]
      python tools/kernel_bench.py [n_pairs] --against DIR [--seed S] [--input ...]
"""

from __future__ import annotations

import argparse
import json
import resource
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

DOCUMENTS = REPO / "perfbench" / "data" / "documents.parquet"
NATURAL_SOURCES = (REPO / "cld2_spark" / "model" / "corpus.jsonl",
                   REPO / "tests" / "data" / "cld2_unittest_pairs.jsonl")
BATCH = 5000
FRAGMENT_MAX_BYTES = 100
FRAGMENT_MIN_BYTES = 12
INPUTS = ("salad", "natural")


def salad_texts() -> list[str]:
    import duckdb

    from cld2_spark.sources.transcripts import transcripts_view_sql

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{DOCUMENTS}')")
    rows = con.sql("SELECT text FROM ("
                   + transcripts_view_sql("duckdb", "documents")
                   + f") LIMIT {BATCH}").fetchall()
    return [r[0] or "" for r in rows]


def fragments(text: str, rng: np.random.Generator) -> list[str]:
    """Cut `text` at word boundaries into pieces of at most
    FRAGMENT_MAX_BYTES, each aiming at a size drawn from `rng`. Words
    longer than the bound (unspaced CJK runs) are cut by characters
    first."""
    words = []
    for w in text.split():
        # 4 bytes per char at most
        step = (len(w) if len(w.encode("utf-8")) <= FRAGMENT_MAX_BYTES
                else FRAGMENT_MAX_BYTES // 4)
        words.extend(w[i:i + step] for i in range(0, len(w), step))
    out: list[str] = []
    cur: list[str] = []
    size = 0
    target = int(rng.integers(FRAGMENT_MIN_BYTES, FRAGMENT_MAX_BYTES + 1))
    for w in words:
        add = len(w.encode("utf-8")) + (1 if cur else 0)
        if cur and size + add > target:
            out.append(" ".join(cur))
            cur, size = [], 0
            target = int(rng.integers(FRAGMENT_MIN_BYTES,
                                      FRAGMENT_MAX_BYTES + 1))
            add -= 1
        cur.append(w)
        size += add
    if cur:
        out.append(" ".join(cur))
    return out


def natural_texts(seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    full = [json.loads(line)["text"] for path in NATURAL_SOURCES
            for line in path.open(encoding="utf-8")]
    frags = [f for t in full for f in fragments(t, rng)]
    n_full = BATCH // 2
    texts = ([full[i] for i in rng.integers(0, len(full), n_full)]
             + [frags[i] for i in rng.integers(0, len(frags), BATCH - n_full)])
    return [texts[i] for i in rng.permutation(BATCH)]


def row_counts(texts: list[str], model) -> dict[str, int]:
    """Row counts of one pass over the slices: the rows detect's retry
    pass re-scored, the rows analyze_batch handed to the bestEffort
    rescue, the rows the squeeze trigger tested (those over 2 KB) and the
    rows it fired on."""
    import cld2_spark.kernels.analyze as A
    import cld2_spark.kernels.detect as D
    import cld2_spark.kernels.squeeze as S

    counts = {"retry": 0, "rescue": 0, "tested": 0, "squeezed": 0}
    orig_pass, orig_detect = D._detect_pass, A.detect_batch
    orig_trigger = S.squeeze_trigger_test

    def counting_pass(stream, model, *, repeats, **kw):
        if repeats:
            counts["retry"] += stream.nb.n
        return orig_pass(stream, model, repeats=repeats, **kw)

    def counting_detect(texts, model=None, **kw):
        if kw.get("best_effort"):
            counts["rescue"] += kw["stream"].nb.n
        return orig_detect(texts, model, **kw)

    def counting_trigger(sbuf):
        fired = orig_trigger(sbuf)
        counts["tested"] += 1
        counts["squeezed"] += bool(fired)
        return fired

    D._detect_pass, A.detect_batch = counting_pass, counting_detect
    S.squeeze_trigger_test = counting_trigger
    try:
        for s in A.kernel_slices(texts):
            A.analyze_batch(texts[s], model)
    finally:
        D._detect_pass, A.detect_batch = orig_pass, orig_detect
        S.squeeze_trigger_test = orig_trigger
    return counts


GUARDS = ("has_digit", "has_at", "tox_cand")


def rule_pass_stats(texts: list[str]) -> tuple[float, dict[str, float]]:
    """Best of three timed rule passes over the slices, normalized
    beforehand, and the share of rows that set each guard."""
    from cld2_spark.kernels import text as T
    from cld2_spark.kernels.analyze import kernel_slices, rule_pass

    parts = [(T.normalize_batch(texts[s]),
              np.fromiter(map(len, texts[s]), dtype=np.int64))
             for s in kernel_slices(texts)]
    best = float("inf")
    for _ in range(3):
        t0 = time.monotonic()
        outs = [rule_pass(nb, n_chars) for nb, n_chars in parts]
        best = min(best, time.monotonic() - t0)
    share = {g: sum(int(o[g].sum()) for o in outs) / len(texts)
             for g in GUARDS}
    return best, share


def pass_seconds(texts: list[str], model) -> float:
    """One timed pass over `texts`, one kernel call per slice, as the
    langid UDF makes them."""
    from cld2_spark.kernels.analyze import analyze_batch, kernel_slices

    t0 = time.monotonic()
    for s in kernel_slices(texts):
        analyze_batch(texts[s], model)
    return time.monotonic() - t0


def run_input(name: str, n_runs: int, seed: int) -> None:
    from cld2_spark.kernels.analyze import analyze_batch
    from cld2_spark.kernels.model import default_model

    texts = salad_texts() if name == "salad" else natural_texts(seed)
    model = default_model()
    analyze_batch(texts[:500], model)  # warm: model load, numpy JIT caches
    chars = sum(map(len, texts)) / len(texts)
    print(f"[{name}] {len(texts)} rows, {chars:.0f} chars/row")

    best = float("inf")
    for i in range(n_runs):
        rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        dt = pass_seconds(texts, model)
        grew = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - rss0
        best = min(best, dt)
        print(f"[{name}] run {i}: {len(texts) / dt:.0f} rows/s, "
              f"peak RSS +{grew / 1024:.1f} MB")
    c = row_counts(texts, model)
    print(f"[{name}] BEST: {len(texts) / best:.0f} rows/s "
          f"({best:.2f}s / {len(texts)} rows); retried rows {c['retry']}, "
          f"rescued rows {c['rescue']}, squeeze-tested rows {c['tested']} "
          f"(squeezed {c['squeezed']})")
    rule_s, share = rule_pass_stats(texts)
    print(f"[{name}] rule pass: {rule_s * 1e3:.1f} ms ({rule_s / best:.1%} "
          f"of the best run); rows with "
          + ", ".join(f"{g} {share[g]:.2%}" for g in GUARDS))


CHILD_RUNS = 3


def child_run(root: str, texts_path: str) -> None:
    """One side of an --against pair: score the texts with the cld2_spark
    under `root` and print its best rows/s as a JSON line."""
    sys.path.insert(0, root)
    import cld2_spark
    from cld2_spark.kernels.analyze import analyze_batch
    from cld2_spark.kernels.model import default_model

    texts = json.loads(Path(texts_path).read_text())
    model = default_model()
    analyze_batch(texts[:500], model)
    best = min(pass_seconds(texts, model) for _ in range(CHILD_RUNS))
    print(json.dumps({"package": cld2_spark.__file__,
                      "rows_per_s": len(texts) / best}))


def run_against(other: Path, names, n_pairs: int, seed: int) -> None:
    trees = {"this": REPO, "against": other.resolve()}
    for name in names:
        texts = salad_texts() if name == "salad" else natural_texts(seed)
        rates: dict[str, list[float]] = {side: [] for side in trees}
        with tempfile.NamedTemporaryFile("w", suffix=".json") as f:
            json.dump(texts, f)
            f.flush()
            for k in range(n_pairs):
                order = list(trees) if k % 2 == 0 else list(trees)[::-1]
                for side in order:
                    out = subprocess.run(
                        [sys.executable, __file__, "--child-root",
                         str(trees[side]), "--texts", f.name],
                        check=True, capture_output=True, text=True)
                    rec = json.loads(out.stdout.splitlines()[-1])
                    if not Path(rec["package"]).is_relative_to(trees[side]):
                        raise RuntimeError(f"{side} child imported "
                                           f"{rec['package']}")
                    rates[side].append(rec["rows_per_s"])
        ratios = [a / b for a, b in zip(rates["this"], rates["against"])]
        print(f"[{name}] {len(texts)} rows, {n_pairs} pairs, best of "
              f"{CHILD_RUNS} per child")
        for side, tree in trees.items():
            print(f"[{name}] {side} ({tree}): median "
                  f"{statistics.median(rates[side]):.0f} rows/s "
                  f"({' '.join(f'{r:.0f}' for r in rates[side])})")
        print(f"[{name}] this/against per pair: "
              f"{' '.join(f'{r:.3f}' for r in ratios)}; median "
              f"{statistics.median(ratios):.3f}, this faster in "
              f"{sum(r > 1 for r in ratios)}/{n_pairs}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n_runs", nargs="?", type=int, default=6,
                    help="runs per input, or pairs per input with --against")
    ap.add_argument("--seed", type=int, default=0,
                    help="seed of the natural input")
    ap.add_argument("--input", choices=INPUTS + ("all",), default="all")
    ap.add_argument("--against", type=Path, metavar="DIR",
                    help="checkout whose cld2_spark to compare with")
    ap.add_argument("--child-root", help=argparse.SUPPRESS)
    ap.add_argument("--texts", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child_root:
        child_run(args.child_root, args.texts)
        return
    if args.against:
        names = INPUTS if args.input == "all" else (args.input,)
        run_against(args.against, names, args.n_runs, args.seed)
        return
    if args.input != "all":
        run_input(args.input, args.n_runs, args.seed)
        return
    for name in INPUTS:
        # a fresh process per input: ru_maxrss is a process high-water mark
        subprocess.run([sys.executable, __file__, str(args.n_runs),
                        "--seed", str(args.seed), "--input", name],
                       check=True)


if __name__ == "__main__":
    main()
