"""Keep/drop benchmark for cld2_spark: one workload per invocation.

    python3 perfbench/run.py --workload chat_short --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout of the repository. With `--trace 0` it
times the workload end to end and prints the end-to-end metrics; with
`--trace 1` it makes the per-layer measurements instead (Spark layer jobs,
SQL metrics of the Python UDF node, and an in-process traced kernel run)
and writes the spans under `.perfbench_out/`. `--workload all` runs every
workload both ways in subprocesses and prints one table of every metric.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
The lines before it record the generated input's content hash and the box.
See perfbench/README.md for the workloads and what each metric measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench_out"

CORES = 2          # local[2]: half of the 4-vCPU reference box
SETUPS = 3         # setup_s is the median of this many session set-ups
# timed jobs per run, at least: a fixed count, so the median is of the
# same jobs whether the box is fast or slow (chat_short's first timed job
# is the slowest; the median of three drops it)
MIN_JOBS = {"chat_short": 3, "resumable_mixed": 1}
KERNEL_BATCHES = 2  # batches in the in-process traced kernel run
N_BUCKETS = 6
BUCKETS_PER_COMMIT = 2
CRASH_GROUPS = (1, 2)  # commit groups a resumable job may crash after
TRACED_CRASH_GROUP = 1

END_TO_END = {
    "turns_per_s": "1/s",
    "job_s": "s",
    "setup_s": "s",
    "worker_rss_mb": "MB",
}
PER_LAYER = {
    "session.cold_setup_s": "s",
    "session.start_s": "s",
    "session.first_job_s": "s",
    "kernels.model.load_s": "s",
    "sources.scan_s": "s",
    "functions.langid.udf_job_s": "s",
    "functions.langid.py_boot_s": "s",
    "functions.langid.py_init_s": "s",
    "functions.langid.py_run_s": "s",
    "functions.langid.bytes_to_py": "bytes",
    "functions.langid.bytes_from_py": "bytes",
    "pipeline.sql_stages_s": "s",
    "kernels.analyze.batch_s": "s",
    "kernels.analyze.self_s": "s",
    "kernels.text.normalize_s": "s",
    "kernels.detect.pass1_s": "s",
    "kernels.detect.rescue_s": "s",
    "kernels.crosscheck.s": "s",
    "kernels.model.probe_s": "s",
    "kernels.detect.rescue_rows": "count",
    "kernels.detect.rescue_ok_rows": "count",
    "kernels.detect.rescue_yield": "ratio",
    "kernels.model.quad_probe_keys": "count",
    "kernels.model.quad_probe_hits": "count",
    "kernels.model.quad_hit_rate": "ratio",
    "kernels.model.octa_probe_keys": "count",
    "kernels.model.octa_probe_hits": "count",
    "kernels.model.octa_hit_rate": "ratio",
    "pipeline.sink.write_s": "s",
    "pipeline.sink.self_s": "s",
    "pipeline.sink.files": "count",
    "pipeline.sink.bytes": "bytes",
    "pipeline.sink.out_bytes_per_in_byte": "ratio",
    "pipeline.run.manifest_s": "s",
    "pipeline.lineage.sidecar_s": "s",
    "pipeline.run.resume_s": "s",
    "pipeline.run.buckets_reprocessed": "count",
    "pipeline.decide.keep": "count",
    "pipeline.decide.drop.too_short": "count",
    "pipeline.decide.drop.langid_unreliable": "count",
    "pipeline.decide.drop.low_quality": "count",
    "pipeline.decide.drop.high_perplexity": "count",
    "pipeline.decide.drop.toxicity": "count",
    "trace.overhead_s": "s",
}

TINY = {  # the set-up job's input: one short conversation
    "conv_id": ["t0", "t0", "t0"],
    "turn_idx": [0, 1, 2],
    "text": ["hello there, how is the weather in the city today?", "ok",
             "bonjour tout le monde, comment allez-vous ce matin ?"],
}


def prepare_env() -> None:
    """Environment of the JVM and the Python workers: the checkout on the
    import path, scratch dirs inside the checkout. Must run before pyspark
    starts."""
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # no console progress bar: it would interleave with the phase log
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--conf spark.ui.showConsoleProgress=false {args}"
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()


def median(xs) -> float:
    return float(statistics.median(xs))


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def bucket_listing(data_dir: Path) -> dict[str, tuple]:
    """bucket dir -> sorted (name, size, mtime_ns) of its files."""
    out = {}
    for b in sorted(data_dir.glob("bucket=*")):
        out[b.name] = tuple(sorted((f.name, f.stat().st_size, f.stat().st_mtime_ns)
                                   for f in b.iterdir()))
    return out


def forget_jvm_udfs() -> None:
    """A pandas UDF caches its JVM-side function on first use, bound to
    the SparkContext of that moment (and to that context's accumulator
    server). The program never restarts its context; the benchmark's
    repeated set-ups do, so they drop the cached functions first."""
    import cld2_spark.functions.langid as L

    for obj in vars(L).values():
        udf = getattr(obj, "_unwrapped", None)
        if udf is not None and hasattr(udf, "_judf_placeholder"):
            udf._judf_placeholder = None


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


class Bench:
    def __init__(self, workload, rundir: Path, tracer=None):
        self.wl = workload
        self.rundir = rundir
        self.tracer = tracer
        self.spark = None
        self.input_path = rundir / "input"  # resumable_mixed's parquet input
        self.df_in = None
        self.failed = 0
        self.attempted = 0
        self.errors: list[str] = []

    # --------------------------------------------------------- helpers --

    def span(self, name: str):
        if self.tracer is None:
            from contextlib import nullcontext
            return nullcontext()
        return self.tracer.span(name)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        log(f"FAILED: {what}")

    def check(self, expected, observed, what: str) -> bool:
        bad = expected.mismatches(observed)
        if bad:
            self.fail(f"{what}: " + "; ".join(bad[:4]))
        return not bad

    # ----------------------------------------------------------- setup --

    def setup(self) -> dict:
        """SETUPS session set-ups, each from session start through the
        first pipeline job on a tiny input (worker spawn + model load).
        The first also starts the JVM; later ones stop the session and
        start a new one in the same JVM."""
        import pandas as pd

        from cld2_spark.pipeline.stages import run_pipeline
        from cld2_spark.session import get_spark
        from layers import last_execution_id, python_udf_metrics

        tiny = pd.DataFrame(TINY)
        starts, firsts, boots = [], [], []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
                forget_jvm_udfs()
            with self.span("session.start"):
                t0 = time.perf_counter()
                self.spark = get_spark("perfbench", cores=CORES)
                t1 = time.perf_counter()
            self.spark.sparkContext.setLogLevel("ERROR")
            since = last_execution_id(self.spark)
            with self.span("session.first_job"):
                t2 = time.perf_counter()
                noop_write(run_pipeline(self.spark.createDataFrame(tiny)))
                t3 = time.perf_counter()
            starts.append(t1 - t0)
            firsts.append(t3 - t2)
            boots.append(python_udf_metrics(self.spark, since)["py_boot_s"])
        setups = [a + b for a, b in zip(starts, firsts)]
        log(f"setups_s={[round(s, 3) for s in setups]}")
        return {"setup_s": median(setups), "session.cold_setup_s": setups[0],
                "session.start_s": median(starts),
                "session.first_job_s": median(firsts),
                "functions.langid.py_boot_s": median(boots)}

    # ---------------------------------------------------------- inputs --

    def load_input(self):
        """The program's input: for resumable_mixed the parquet files read
        through `sources.transcripts`; otherwise a DataFrame cached in
        memory."""
        from pyspark.sql import functions as F

        from cld2_spark.sources.transcripts import read_transcripts
        from workloads import REPLICA_SEP

        if self.wl.name == "resumable_mixed":
            return read_transcripts(self.spark, str(self.input_path))
        # replicated in Spark, with the conv_ids Workload.rows() gives
        r = self.spark.range(self.wl.replicas).withColumnRenamed("id", "r")
        df = (self.spark.createDataFrame(self.wl.base).crossJoin(r)
              .withColumn("conv_id", F.concat(
                  "conv_id", F.lit(REPLICA_SEP),
                  F.lpad(F.col("r").cast("string"), 3, "0")))
              .drop("r").repartition(2 * CORES).cache())
        df.count()
        return df

    def write_input(self) -> None:
        """resumable_mixed's input: written once, as 2*CORES files so the
        scan splits across the cores."""
        from workloads import write_parquet

        rows = self.wl.rows()
        n = 2 * CORES
        step = -(-len(rows) // n)
        for i in range(n):
            write_parquet(rows.iloc[i * step:(i + 1) * step],
                          self.input_path / f"part-{i:02d}.parquet")

    def expected(self):
        from cld2_spark.pipeline.oracle import oracle_labels
        from gate import expected_digest

        return expected_digest(self.wl, oracle_labels(self.wl.base))

    # ------------------------------------------------------------ jobs --

    def warm_up(self) -> None:
        """The first job of a session runs slower (JIT, the workers' first
        batches, the first parquet write); one untimed job of the timed
        kind and size takes that cost."""
        with self.span("warm_up"):
            tracer, self.tracer = self.tracer, None  # not a layer sample
            try:
                if self.wl.name == "resumable_mixed":
                    out_dir = self.rundir / "warm_up"
                    self.resumable_job(out_dir, CRASH_GROUPS[0])
                    shutil.rmtree(out_dir, ignore_errors=True)
                else:
                    self.pipeline_job()
            finally:
                self.tracer = tracer

    def pipeline_job(self):
        """One keep/drop job into the noop sink; returns (seconds, digest
        of its output). The digest rides the job as an Observation."""
        from pyspark.sql.observation import Observation

        from cld2_spark.pipeline.stages import run_pipeline
        from gate import digest_from_row, spark_digest_columns

        t0 = time.perf_counter()
        obs = Observation()
        noop_write(run_pipeline(self.df_in).observe(obs, *spark_digest_columns()))
        dt = time.perf_counter() - t0
        return dt, digest_from_row(obs.get)

    def resumable_job(self, out_dir: Path, crash_group: int):
        """run_resumable with a crash after `crash_group` commit groups,
        then the resumed call. Returns (job_s, resume_s, reprocessed):
        job_s covers both calls, committed output plus manifest."""
        from cld2_spark.pipeline.run import run_resumable

        t0 = time.perf_counter()
        try:
            with self.span("pipeline.run.crashed_call"):
                run_resumable(self.spark, self.df_in, str(out_dir),
                              n_buckets=N_BUCKETS,
                              buckets_per_commit=BUCKETS_PER_COMMIT,
                              fail_after_buckets=crash_group * BUCKETS_PER_COMMIT)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("the injected crash did not happen")
        t1 = time.perf_counter()
        before = bucket_listing(out_dir / "data")  # untimed
        t2 = time.perf_counter()
        with self.span("pipeline.run.resume_call"):
            run_resumable(self.spark, self.df_in, str(out_dir),
                          n_buckets=N_BUCKETS, buckets_per_commit=BUCKETS_PER_COMMIT)
        t3 = time.perf_counter()
        after = bucket_listing(out_dir / "data")
        reprocessed = sum(1 for b, files in before.items() if after.get(b) != files)
        return (t1 - t0) + (t3 - t2), t3 - t2, reprocessed

    def check_committed(self, out_dir: Path, expected, reprocessed: int) -> bool:
        """Every (conv_id, turn_idx) exactly once, with the oracle's
        verdicts; all buckets in the manifest; no bucket rewritten."""
        from pyspark.sql import functions as F

        from cld2_spark.pipeline.run import load_manifest
        from gate import digest_from_row, spark_digest_columns

        what = f"{self.wl.name} committed output {out_dir.name}"
        row = (self.spark.read.parquet(str(out_dir / "data"))
               .agg(*spark_digest_columns(),
                    F.countDistinct("conv_id", "turn_idx").alias("keys"))
               .first().asDict())
        ok = self.check(expected, digest_from_row(row), what)
        if ok and row["keys"] != row["rows"]:
            ok = False
            self.fail(f"{what}: {row['rows'] - row['keys']} duplicated keys")
        done = load_manifest(str(out_dir))["completed_buckets"]
        if ok and sorted(int(b) for b in done) != list(range(N_BUCKETS)):
            ok = False
            self.fail(f"{what}: manifest lists buckets {sorted(done)}")
        if ok and not (out_dir / "_cld2s_metrics.json").exists():
            ok = False
            self.fail(f"{what}: no metrics sidecar")
        if ok and reprocessed:
            ok = False
            self.fail(f"{what}: resume rewrote {reprocessed} committed buckets")
        return ok

    # ------------------------------------------------------ timed run --

    def prepare(self):
        """Everything before the measured jobs: input files, set-ups, the
        input DataFrame, the oracle's expected digest, the warm-up.
        Returns (set-up metrics, expected digest)."""
        if self.wl.name == "resumable_mixed":
            self.write_input()
        m = self.setup()
        self.df_in = self.load_input()
        expected = self.expected()
        log("input loaded, oracle labelled")
        t = time.perf_counter()
        self.warm_up()
        log(f"warm-up job {time.perf_counter() - t:.3f}s")
        return m, expected

    def run_timed(self, seconds: float) -> dict:
        import numpy as np

        from layers import worker_peak_rss_mb

        m, expected = self.prepare()

        jobs: list[float] = []
        crash_rng = np.random.default_rng(self.wl.seed)
        t_end = time.perf_counter() + seconds
        while self.attempted < MIN_JOBS[self.wl.name] or time.perf_counter() < t_end:
            j = self.attempted
            self.attempted += 1
            try:
                if self.wl.name == "resumable_mixed":
                    out_dir = self.rundir / f"out{j}"
                    dt, _, reprocessed = self.resumable_job(
                        out_dir, int(crash_rng.choice(CRASH_GROUPS)))
                    self.check_committed(out_dir, expected, reprocessed)
                    shutil.rmtree(out_dir, ignore_errors=True)
                else:
                    dt, digest = self.pipeline_job()
                    self.check(expected, digest, f"{self.wl.name} job {j}")
            except Exception as e:  # a failed job is counted, the run goes on
                self.fail(f"{self.wl.name} job {j} raised {type(e).__name__}: {e}")
                continue
            jobs.append(dt)
        log(f"jobs_s={[round(j, 3) for j in jobs]}")
        if not jobs:
            raise RuntimeError("every timed job raised")
        job_s = median(jobs)
        return {"turns_per_s": self.wl.n_turns / job_s, "job_s": job_s,
                "setup_s": m["setup_s"], "worker_rss_mb": worker_peak_rss_mb()}

    # ----------------------------------------------------- traced run --

    def run_traced(self) -> dict:
        from cld2_spark.pipeline.stages import LD, with_langid
        from layers import last_execution_id, python_udf_metrics

        tr = self.tracer
        m, expected = self.prepare()
        m["kernels.model.load_s"] = self.model_load_s()
        df_in = self.df_in

        with tr.span("sources.scan") as s:
            noop_write(df_in)
        m["sources.scan_s"] = s["end"] - s["start"]
        since = last_execution_id(self.spark)
        with tr.span("functions.langid.udf_job") as s:
            noop_write(with_langid(df_in).select(LD))
        m["functions.langid.udf_job_s"] = s["end"] - s["start"]
        py = python_udf_metrics(self.spark, since)
        for k in ("py_init_s", "py_run_s", "bytes_to_py", "bytes_from_py"):
            m[f"functions.langid.{k}"] = py[k]
        with tr.span("pipeline.job"):
            dt, digest = self.pipeline_job()
        self.attempted += 1
        self.check(expected, digest, f"{self.wl.name} traced pipeline job")
        m["pipeline.sql_stages_s"] = dt - m["functions.langid.udf_job_s"]
        m["pipeline.decide.keep"] = digest.keep
        for r, c in digest.drops.items():
            m[f"pipeline.decide.drop.{r}"] = c

        m.update(self.traced_resumable(expected))
        if self.wl.name == "resumable_mixed":
            m["pipeline.sink.self_s"] = m["pipeline.sink.write_s"] - dt
        m.update(self.traced_kernels())
        return m

    def model_load_s(self) -> float:
        """In-process load of the packaged model, as each worker does it."""
        from importlib import resources

        from cld2_spark.kernels.model import Cld2sModel

        times = []
        for _ in range(3):
            with self.span("kernels.model.load") as s:
                Cld2sModel.load((resources.files("cld2_spark") / "model"
                                 / "cld2s_model.npz").read_bytes())
            times.append(s["end"] - s["start"])
        return median(times)

    def traced_resumable(self, expected) -> dict:
        names = ["pipeline.sink.write_s", "pipeline.sink.files", "pipeline.sink.bytes",
                 "pipeline.sink.out_bytes_per_in_byte", "pipeline.run.manifest_s",
                 "pipeline.lineage.sidecar_s", "pipeline.run.resume_s",
                 "pipeline.run.buckets_reprocessed"]
        if self.wl.name != "resumable_mixed":
            return dict.fromkeys(names + ["pipeline.sink.self_s"], 0)  # no file sink here
        from spans import pipeline_layers

        tr = self.tracer
        out_dir = self.rundir / "traced_out"
        self.attempted += 1
        with pipeline_layers(tr), tr.span("pipeline.run.job"):
            _, resume_s, reprocessed = self.resumable_job(out_dir, TRACED_CRASH_GROUP)
        self.check_committed(out_dir, expected, reprocessed)
        files, nbytes = dir_bytes(out_dir)
        tot = tr.totals()
        return {
            "pipeline.sink.write_s": tot.get("pipeline.sink.write", 0.0),
            "pipeline.sink.files": files,
            "pipeline.sink.bytes": nbytes,
            "pipeline.sink.out_bytes_per_in_byte": nbytes / self.wl.text_bytes,
            "pipeline.run.manifest_s": tot.get("pipeline.run.manifest", 0.0),
            "pipeline.lineage.sidecar_s": tot.get("pipeline.lineage.sidecar", 0.0),
            "pipeline.run.resume_s": resume_s,
            "pipeline.run.buckets_reprocessed": reprocessed,
        }

    def traced_kernels(self) -> dict:
        """analyze_batch over the workload's first KERNEL_BATCHES Arrow
        batches (the session's maxRecordsPerBatch rows each), in this
        process on one core: a warm pass, then one untraced and one with the
        kernel layer wrappers."""
        from cld2_spark.kernels.analyze import analyze_batch
        from cld2_spark.kernels.model import default_model
        from spans import Tracer, kernel_layers

        model = default_model()
        size = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        texts = self.wl.rows()["text"].fillna("").tolist()
        batches = [texts[i:i + size]
                   for i in range(0, min(len(texts), size * KERNEL_BATCHES), size)]
        for b in batches:  # warm pass: both timed passes start in the same state
            analyze_batch(b, model)
        t0 = time.perf_counter()
        for b in batches:
            analyze_batch(b, model)
        untraced = time.perf_counter() - t0
        kt = Tracer(self.tracer.job_id)
        t0 = time.perf_counter()
        with kernel_layers(kt, model):
            for b in batches:
                with kt.span("kernels.analyze.batch"):
                    analyze_batch(b, model)
        traced = time.perf_counter() - t0
        off = len(self.tracer.spans)
        self.tracer.spans.extend(
            dict(s, id=s["id"] + off,
                 parent=None if s["parent"] is None else s["parent"] + off)
            for s in kt.spans)
        for k, v in kt.counts.items():
            self.tracer.count(k, v)
        tot, own, c = kt.totals(), kt.self_times(), kt.counts

        def rate(hits, keys):
            return c[hits] / c[keys] if c[keys] else 0.0

        return {
            "kernels.analyze.batch_s": tot["kernels.analyze.batch"],
            "kernels.analyze.self_s": own["kernels.analyze.batch"],
            "kernels.text.normalize_s": tot.get("kernels.text.normalize", 0.0),
            "kernels.detect.pass1_s": tot.get("kernels.detect.pass1", 0.0),
            "kernels.detect.rescue_s": tot.get("kernels.detect.rescue", 0.0),
            "kernels.crosscheck.s": tot.get("kernels.crosscheck", 0.0),
            "kernels.model.probe_s": (tot.get("kernels.model.quad_probe", 0.0)
                                      + tot.get("kernels.model.octa_probe", 0.0)),
            "kernels.detect.rescue_rows": c["kernels.detect.rescue_rows"],
            "kernels.detect.rescue_ok_rows": c["kernels.detect.rescue_ok_rows"],
            "kernels.detect.rescue_yield": rate("kernels.detect.rescue_ok_rows",
                                                "kernels.detect.rescue_rows"),
            "kernels.model.quad_probe_keys": c["kernels.model.quad_probe_keys"],
            "kernels.model.quad_probe_hits": c["kernels.model.quad_probe_hits"],
            "kernels.model.quad_hit_rate": rate("kernels.model.quad_probe_hits",
                                                "kernels.model.quad_probe_keys"),
            "kernels.model.octa_probe_keys": c["kernels.model.octa_probe_keys"],
            "kernels.model.octa_probe_hits": c["kernels.model.octa_probe_hits"],
            "kernels.model.octa_hit_rate": rate("kernels.model.octa_probe_hits",
                                                "kernels.model.octa_probe_keys"),
            "trace.overhead_s": traced - untraced,
        }

    # --------------------------------------------------------- teardown --

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


def run_one(args) -> int:
    sys.path.insert(0, str(ROOT))
    import cld2_spark  # noqa: F401  -- the program must be in the checkout

    prepare_env()

    import workloads
    from layers import box_record, cpu_steal_s
    from spans import Tracer

    steal0 = cpu_steal_s()
    wl = workloads.generate(args.workload, args.seed)
    print(json.dumps({"workload": wl.name, "seed": wl.seed,
                      "content_hash": wl.content_hash(), "turns": wl.n_turns,
                      "base_turns": len(wl.base), "replicas": wl.replicas,
                      "text_bytes": wl.text_bytes}), flush=True)
    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    rundir = OUT / "runs" / tag
    rundir.mkdir(parents=True, exist_ok=True)
    tracer = Tracer(tag) if args.trace else None
    bench = Bench(wl, rundir, tracer)
    try:
        if args.trace:
            values = bench.run_traced()
            units = PER_LAYER
        else:
            values = bench.run_timed(args.seconds)
            units = END_TO_END
        box = box_record(bench.spark, ROOT, steal0)
    finally:
        bench.close()
        shutil.rmtree(rundir, ignore_errors=True)
    metrics = named_metrics(values, units)
    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "content_hash": wl.content_hash(), "box": box,
              "errors": bench.errors, "metrics": metrics}
    results = OUT / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{tag}.json").write_text(json.dumps(record, indent=1))
    if tracer is not None:
        tracer.write(OUT / "traces" / f"{tag}.json",
                     extra={"metrics": metrics, "box": box})
        log("layer                                    inclusive_s    self_s")
        own = tracer.self_times()
        for name, total in sorted(tracer.totals().items(), key=lambda kv: -kv[1]):
            log(f"{name:40s} {total:11.4f} {own[name]:9.4f}")
    shutil.rmtree(OUT / "tmp", ignore_errors=True)
    print(json.dumps({"box": box}), flush=True)
    print(result_line(metrics, bench.attempted, bench.failed), flush=True)
    return 0


def named_metrics(values: dict, units: dict) -> dict:
    """{name: {"value", "unit"}} for every name in `units`; a metric the
    run did not produce is an error, not a silent gap."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"run produced no value for {missing}")
    return {k: {"value": getattr(values[k], "item", lambda: values[k])(), "unit": u}
            for k, u in units.items()}


def result_line(metrics: dict, attempted: int, failed: int) -> str:
    return json.dumps({"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": metrics})


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process; one
    table of every metric with its unit."""
    import workloads

    rows = []
    for name in workloads.GENERATORS:
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            if r.returncode != 0:
                sys.stderr.write(r.stderr[-4000:])
                return r.returncode
            res = json.loads(r.stdout.strip().splitlines()[-1])
            print(f"# {name} trace={trace}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            for k, v in res["metrics"].items():
                rows.append((name, k, v["value"], v["unit"]))
    for name, k, v, u in rows:
        print(f"{name:16s} {k:40s} {v!r:>22} {u}")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   help="chat_short, resumable_mixed, or all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, str(HERE))
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
