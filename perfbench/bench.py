"""Workload runner shared by the untraced and traced runs.

Load shape: closed loop, one process, one Spark application on
``local[nproc]`` (``SPARK_GRAFT_CPUS``), one job in flight, no client
threads. Each timed repetition is ``ExtractionJob.run`` over a fresh input
built from the seed, followed by no-op resumes on the finished output root,
in a session whose first job ran during set-up.
"""
from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _process_start() -> float:
    """This process's start as a ``time.perf_counter`` reading."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - max(age, 0.0)


PROC_START = _process_start()

# input sizes: one timed job is 6-10 s on a shared 4-vCPU box (about 20 s
# as the session's first), and a whole run (set-up, job, resumes, gate)
# stays within about a minute
WORKLOADS = {
    "crawl_warc": {"docs": 2500, "files": 8, "source": "warc"},
    "pdf_scan": {"docs": 300, "files": 8, "source": "pages"},
}
N_BUCKETS, WAVE_SIZE = 8, 4  # two commit waves per job
RESUMES = 3
# a repetition whose job lost more than this share of its wall time to
# hypervisor steal is logged and left out of the metrics; repetitions run
# until --seconds of undisturbed ones, but none starts once the process has
# run REP_DEADLINE_S, so a loaded host cannot stretch a run much past a
# minute
STEAL_LIMIT = 0.05
REP_DEADLINE_S = 55.0

# metric name -> unit; BENCHMARK.json lists the same names
END_TO_END = {
    "setup_s": "s", "docs_per_s": "docs/s", "mb_per_s": "MB/s",
    "resume_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s",
    "warc.scan_s": "s", "warc.records": "count",
    "io.scan_s": "s",
    "kernels.html_us_per_doc": "us", "kernels.pdf_us_per_page": "us",
    "kernels.ocr_us_per_doc": "us", "kernels.lang_us_per_kb": "us",
    "kernels.busy_s": "s", "kernels.busy_share": "ratio",
    "extract.run_s": "s", "extract.rows_out": "count",
    "extract.partition_skew": "ratio", "extract.tune_batch_s": "s",
    "extract.records_per_batch": "count",
    "pipeline.first_job_s": "s",
    "pipeline.run_s": "s", "pipeline.overhead_ratio": "ratio",
    "pipeline.waves": "count", "pipeline.wave_p50_s": "s",
    "pipeline.done_buckets_s": "s", "pipeline.failures": "count",
    "table.append_calls": "count", "table.append_s": "s",
    "table.snapshots": "count", "table.write_amp": "ratio",
    "table.readback_s": "s",
    "stream.batches": "count", "stream.commit_share": "ratio",
    "stream.batch_p50_ms": "ms", "stream.batch_p90_ms": "ms",
    "stream.docs_per_s": "docs/s",
    "dedup.shingle_s": "s", "dedup.lsh_s": "s", "dedup.cc_s": "s",
    "dedup.canonical_s": "s", "dedup.candidates": "count",
    "dedup.verify_yield": "ratio",
    "trace.overhead_s": "s",
}


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def rep_seed(seed: int, rep: int) -> int:
    """Input seed of repetition ``rep`` of run ``seed``."""
    return seed * 1000 + rep


# the warm-up input is the same for every run (so it is generated once per
# checkout), as large as a timed input (so the timed jobs find as many
# Python workers and as warm a JVM as they need), and disjoint from every
# timed input: urls embed the seed
WARM_SEED = -1


def isolate(run_dir: str) -> None:
    """Fresh per-run work, KDF cache, warehouse and temp dirs; workers
    import the program from the checkout root. Must run before the JVM
    starts."""
    for sub in ("kdf", "local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu()),
        "SPARK_GRAFT_KDF_CACHE": os.path.join(run_dir, "kdf"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={run_dir}/warehouse "
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "pyspark-shell"),
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def source(spark, input_dir: str, kind: str):
    if kind == "warc":
        from pdf_extractor_spark.sources.warc import read_warc

        return read_warc(spark, os.path.join(input_dir, "warc"))
    from pdf_extractor_spark.sources.io import read_pages

    return read_pages(spark, os.path.join(input_dir, "pages"))


def new_job(spark, out_root: str):
    from pdf_extractor_spark.pipeline import ExtractionJob

    return ExtractionJob(spark, out_root, n_buckets=N_BUCKETS,
                         partitions=2 * ncpu(), wave_size=WAVE_SIZE)


def collect_rows(df) -> list[tuple]:
    """An extracted table (``None`` when nothing committed) as tuples in
    gate.ROW_FIELDS order."""
    from pyspark.sql import functions as F

    if df is None:
        return []
    cols = ["url", "page_number", "text", "table", "combined", "markdown",
            "spans", F.col("meta")["ok"].alias("ok")]
    return [tuple(r) for r in df.select(*cols).collect()]


class Timer:
    """Wall time of a block, and the hypervisor steal that accrued inside
    it (``procs.stolen_s``), which is only logged: it says how much other
    tenants' load may have stretched the wall time."""

    def __enter__(self) -> "Timer":
        from perfbench.procs import stolen_s

        self._t, self._s = time.perf_counter(), stolen_s()
        return self

    def __exit__(self, *exc) -> None:
        from perfbench.procs import stolen_s

        self.seconds = time.perf_counter() - self._t
        self.stolen = stolen_s() - self._s


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 run_dir: str) -> None:
        self.name = workload
        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.cache = os.path.join(ROOT, ".perfbench_cache")
        self.gen_s = 0.0
        self.problems: list[str] = []
        self.attempted = 0
        self.spark = None

    def log(self, msg: str) -> None:
        print(f"[{self.name} seed={self.seed}] {msg}", flush=True)

    def input(self, rep: int | None) -> str:
        """Timed input ``rep``, or the warm-up input for ``None``."""
        from perfbench import inputs

        t = time.perf_counter()
        seed = WARM_SEED if rep is None else rep_seed(self.seed, rep)
        d = inputs.build(self.cache, self.name, seed, self.cfg["docs"],
                         self.cfg["files"])
        self.gen_s += time.perf_counter() - t
        return d

    def out_root(self, tag: str) -> str:
        return os.path.join(self.run_dir, "out", tag)

    def start(self):
        from pdf_extractor_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.name}")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def warm_up(self, warm_dir: str) -> float:
        """The session's first ``ExtractionJob`` and resume, on the warm-up
        input (disjoint from every timed input): Python workers spawn and
        import the kernels, and each query shape of the job and its resume
        compiles, here rather than in the timed pass. Returns the job's
        wall time."""
        return self.timed_rep(warm_dir, "warm", resumes=1)["job_s"]

    def timed_rep(self, input_dir: str, tag: str, span=None,
                  resumes: int = RESUMES) -> dict:
        """One closed-loop repetition: job, then no-op resumes. ``span``
        (traced run only) names each call."""
        from perfbench import inputs

        span = span or (lambda name: contextlib.nullcontext())
        stats = inputs.load_stats(input_dir)
        job = new_job(self.spark, self.out_root(tag))
        pages = source(self.spark, input_dir, self.cfg["source"])
        with span("pipeline.run"), Timer() as t:
            res = job.run(pages)
        snaps = len(job.extracted.snapshots())
        walls = []
        for _ in range(resumes):
            with span("pipeline.resume"), Timer() as r:
                again = job.run(pages)
            walls.append(r.seconds)
            if again["docs"] or again["waves"]:
                self.problems.append(f"resume did work: {again}")
        if len(job.extracted.snapshots()) != snaps:
            self.problems.append("resume committed new snapshots")
        return {"job": job, "res": res, "job_s": t.seconds, "stolen": t.stolen,
                "resumes": walls, "stats": stats, "input": input_dir}

    def gate(self, rep: dict, rows: list[tuple] | None = None) -> None:
        from perfbench import gate, inputs

        golden = inputs.load_golden(rep["input"])
        if rows is None:
            rows = collect_rows(rep["job"].read_extracted())
        bad = gate.check_extraction(golden, rows)
        bad += gate.check_failures(golden, rep["res"]["failures"])
        if rep["res"]["docs"] != len(golden):
            bad.append(f"run() docs {rep['res']['docs']} != {len(golden)}")
        self.attempted += len(golden)
        self.problems += bad

    def report_input(self, input_dir: str) -> None:
        from perfbench import inputs

        st = inputs.load_stats(input_dir)
        self.log(f"input {os.path.basename(input_dir)}: docs={st['docs']} "
                 f"bytes={st['payload_bytes']} expected_rows={st['expected_rows']} "
                 f"expected_failures={st['expected_failures']} "
                 f"mix={json.dumps(st['family_mix'])}")

    # -- untraced run: end-to-end metrics ------------------------------------
    def run_e2e(self) -> dict:
        from perfbench.procs import PeakRss

        warm = self.input(None)
        first = self.input(0)
        self.report_input(first)
        # set-up counts from process start: imports, JVM launch, session,
        # warm-up job; input generation is excluded
        self.start()
        self.warm_up(warm)
        setup_s = time.perf_counter() - PROC_START - self.gen_s

        # memory is sampled during each repetition, not while the next
        # input is generated in this process
        reps, spent = [], 0.0
        while spent < self.seconds and (
                not reps or time.perf_counter() - PROC_START < REP_DEADLINE_S):
            d = first if not reps else self.input(len(reps))
            with PeakRss() as rss:
                rep = self.timed_rep(d, f"rep{len(reps)}")
            rep["peak"] = rss.peak
            rep["valid"] = rep["stolen"] <= STEAL_LIMIT * rep["job_s"]
            if rep["valid"]:
                spent += rep["job_s"] + sum(rep["resumes"])
            reps.append(rep)
        for i, rep in enumerate(reps):
            self.gate(rep)
            self.log(f"rep {i}: {rep['res']} job={rep['job_s']:.3f}s "
                     f"({rep['stolen']:.3f}s stolen"
                     f"{'' if rep['valid'] else ', disturbed: not counted'}) "
                     f"resumes={[round(r, 3) for r in rep['resumes']]}")
        # when every repetition was disturbed, report them all
        reps = [r for r in reps if r["valid"]] or reps
        docs_s = [r["stats"]["docs"] / r["job_s"] for r in reps]
        mb_s = [r["stats"]["payload_bytes"] / 1e6 / r["job_s"] for r in reps]
        return {
            "setup_s": setup_s,
            "docs_per_s": statistics.median(docs_s),
            "mb_per_s": statistics.median(mb_s),
            "resume_s": statistics.median(
                [x for r in reps for x in r["resumes"]]),
            "peak_rss_mb": max(r["peak"] for r in reps) / 1e6,
        }


