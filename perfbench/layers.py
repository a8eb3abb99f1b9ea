"""The traced run: per-layer metrics measured from outside the program.

Layers are timed two ways: spans around the benchmark's own calls into each
layer's public functions (plus wrapped public entry points the pipeline
calls internally), and the metrics, lineage and snapshot tables the program
already writes. After the set-up (whose warm-up is the session's first
job), three inputs of the same size and seed family are used: rep 0 for an
untraced job (the job the untraced run times first, and the
tracing-overhead baseline), rep 1 for the traced job, rep 2 for the layer
probes, so no pass replays documents a content-keyed memo has already seen.

Every layer is probed on every workload, on that workload's own documents
(``warc.scan_s`` on pdf_scan reads the WARC copy of its pages table). A
kernel sample the workload lacks (HTML pages on pdf_scan, scans on
crawl_warc) is generated from the other workload's generator with the same
seed; those figures are predicted not to move on that workload.
"""
from __future__ import annotations

import os
import random
import statistics
import time

from perfbench import bench as B
from perfbench import gate, inputs
from perfbench.trace import Tracer

# stream probe: landed segments, one micro-batch each (maxFilesPerTrigger=1)
STREAM_SEGMENTS, STREAM_SEG_DOCS = 12, 100
# dedup probe: extracted text of >= 200 chars, 15% copied with 3 word edits;
# LSH geometry and threshold are minhash_lsh_pairs' defaults
DEDUP_DOCS, DEDUP_MIN_CHARS, DEDUP_PLANT, DEDUP_EDITS = 1500, 200, 0.15, 3
NUM_PERM, BANDS, THRESHOLD = 64, 16, 0.5
PLANT_ID_BASE = 10_000_000
KERNEL_SAMPLE = {"html": 300, "pdf": 80, "ocr": 40}


def _pct(values: list[float], q: float) -> float:
    vals = sorted(values)
    return vals[min(len(vals) - 1, int(q * len(vals)))]


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _kind(family: str) -> str:
    if family.startswith("scan_"):
        return "ocr"
    return "pdf" if family.startswith("pdf") else "html"


def kernel_samples(input_dir: str, seed: int) -> dict[str, list[bytes]]:
    """Payloads per kernel kind from the input, topped up from the other
    generator when the workload has none of a kind."""
    import pyarrow.parquet as pq

    golden = inputs.load_golden(input_dir)
    tab = pq.read_table(os.path.join(input_dir, "pages"), columns=["url", "html"])
    out: dict[str, list[bytes]] = {k: [] for k in KERNEL_SAMPLE}
    for url, payload in zip(tab.column("url").to_pylist(),
                            tab.column("html").to_pylist()):
        out[_kind(golden[url]["family"])].append(payload)
    rng = random.Random(seed)
    if not out["html"]:
        out["html"] = [d["payload"] for d in
                       inputs.crawl_docs(2 * KERNEL_SAMPLE["html"], seed)
                       if _kind(d["family"]) == "html"]
    scans = [f for f in inputs.PDF_FAMILIES if f.startswith("scan_")]
    while len(out["ocr"]) < KERNEL_SAMPLE["ocr"]:
        out["ocr"].append(inputs.pdf_doc(rng, scans[len(out["ocr"]) % len(scans)])[0])
    return {k: v[:KERNEL_SAMPLE[k]] for k, v in out.items()}


def _per_item_us(fn, items, unit_of=lambda res: 1) -> float:
    """Single-thread µs per unit of ``fn`` over ``items`` (after warming
    on the first few)."""
    for p in items[:3]:
        fn(p)
    units, t = 0, time.perf_counter()
    for p in items:
        units += unit_of(fn(p))
    return (time.perf_counter() - t) * 1e6 / max(units, 1)


def probe_kernels(input_dir: str, seed: int, m: dict, tracer: Tracer) -> None:
    from pdf_extractor_spark.kernels.html_kernel import extract_html
    from pdf_extractor_spark.kernels.lang import lang_spans
    from pdf_extractor_spark.kernels.pdf_kernel import extract_pdf
    from pdf_extractor_spark.operators.extract import extract_document

    s = kernel_samples(input_dir, seed)
    with tracer.span("kernels.driver_sample"):
        m["kernels.html_us_per_doc"] = _per_item_us(extract_html, s["html"])
        m["kernels.pdf_us_per_page"] = _per_item_us(
            extract_pdf, s["pdf"], lambda r: len(r["pages"]) or 1)
        m["kernels.ocr_us_per_doc"] = _per_item_us(extract_document, s["ocr"])
        texts = [row[1] for g in inputs.load_golden(input_dir).values()
                 for row in g["rows"] if row[1]][:1000]
        kb = sum(len(t.encode()) for t in texts) / 1024
        m["kernels.lang_us_per_kb"] = _per_item_us(lang_spans, texts) * len(texts) / kb


def probe_job_tables(rep: dict, m: dict) -> None:
    """Waves, skew and kernel busy time from the tables the job wrote."""
    from pyspark.sql import functions as F

    job = rep["job"]
    waves = {}
    for r in job.read_lineage().select("started_at", "finished_at").collect():
        waves[r[0]] = max(waves.get(r[0], r[1]), r[1])
    m["pipeline.waves"] = len(waves)
    m["pipeline.wave_p50_s"] = statistics.median(
        (f - s).total_seconds() for s, f in waves.items())
    cells: dict[tuple[int, int], int] = {}
    for r in job.read_metrics().select("bucket", "partition_id", "docs").collect():
        key = (r[0] // B.WAVE_SIZE, r[1])
        cells[key] = cells.get(key, 0) + r[2]
    mean = sum(cells.values()) / (len(waves) * 2 * B.ncpu())
    m["extract.partition_skew"] = max(cells.values()) / mean
    busy_us = (job.read_extracted().groupBy("url")
               .agg(F.max("elapsed_us").alias("us"))
               .agg(F.sum("us")).collect()[0][0])
    m["kernels.busy_s"] = busy_us / 1e6
    m["kernels.busy_share"] = m["kernels.busy_s"] / (B.ncpu() * m["pipeline.run_s"])
    m["table.snapshots"] = len(job.extracted.snapshots())
    m["table.write_amp"] = _du(job.out_root) / rep["stats"]["payload_bytes"]


def probe_scans(bench, input_dir: str, m: dict, tracer: Tracer) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.extract import run_extract
    from pdf_extractor_spark.sources.io import read_pages
    from pdf_extractor_spark.sources.warc import read_warc

    spark = bench.spark
    with tracer.span("warc.read_warc") as sp:
        m["warc.records"] = read_warc(spark, os.path.join(input_dir, "warc")).count()
    m["warc.scan_s"] = sp["end"] - sp["start"]
    with tracer.span("io.read_pages") as sp:
        (read_pages(spark, os.path.join(input_dir, "pages"))
         .write.format("noop").mode("overwrite").save())
    m["io.scan_s"] = sp["end"] - sp["start"]
    obs = Observation("extract_rows")
    out = run_extract(B.source(spark, input_dir, bench.cfg["source"]),
                      num_partitions=2 * B.ncpu())
    with tracer.span("extract.run_extract") as sp:
        (out.observe(obs, F.count(F.lit(1)).alias("rows"))
         .write.format("noop").mode("overwrite").save())
    m["extract.run_s"] = sp["end"] - sp["start"]
    m["extract.rows_out"] = obs.get["rows"]


def probe_stream(bench, input_dir: str, m: dict, tracer: Tracer) -> None:
    """Land the input as small parquet segments and drain them through
    extract_stream_to_table into a SnapshotTable, one batch per file."""
    import json

    import pyarrow.parquet as pq

    from pdf_extractor_spark.sources.table_format import SnapshotTable
    from pdf_extractor_spark.streaming.stream import extract_stream_to_table

    land = os.path.join(bench.run_dir, "stream", "land")
    os.makedirs(land)
    tab = pq.read_table(os.path.join(input_dir, "pages"))
    n = min(STREAM_SEG_DOCS, tab.num_rows // STREAM_SEGMENTS)
    for i in range(STREAM_SEGMENTS):
        pq.write_table(tab.slice(i * n, n), os.path.join(land, f"seg-{i:05d}.parquet"))
    landed = set(tab.column("url").to_pylist()[:n * STREAM_SEGMENTS])
    table = SnapshotTable(os.path.join(bench.run_dir, "stream", "table"))
    with tracer.wrap(SnapshotTable, "append", "stream.append"), \
            tracer.span("stream.drain") as sp:
        extract_stream_to_table(bench.spark, land, table,
                                os.path.join(bench.run_dir, "stream", "ckpt"),
                                max_files_per_trigger=1)
    drain = sp["end"] - sp["start"]
    commits = []
    for name in os.listdir(table.snap_dir):
        if name.endswith(".json"):
            path = os.path.join(table.snap_dir, name)
            with open(path) as fh:
                bid = json.load(fh)["summary"]["stream_batch_id"]
            commits.append((bid, os.path.getmtime(path)))
    commits.sort()
    gaps = [(b[1] - a[1]) * 1e3 for a, b in zip(commits, commits[1:])]
    m["stream.batches"] = len(commits)
    m["stream.batch_p50_ms"] = statistics.median(gaps)
    m["stream.batch_p90_ms"] = _pct(gaps, 0.9)
    m["stream.commit_share"] = tracer.total("stream.append") / drain
    m["stream.docs_per_s"] = len(landed) / drain
    bench.log(f"stream probe: {len(landed)} docs in {STREAM_SEGMENTS} segments, "
              f"{len(commits)} committed batches")
    golden = inputs.load_golden(input_dir)
    golden = {u: golden[u] for u in landed}
    bench.problems += gate.check_extraction(golden, B.collect_rows(table.read(bench.spark)))
    bench.attempted += len(golden)


def neardup_corpus(input_dir: str, seed: int):
    """(texts by id, planted (copy, source) pairs): the input's extracted
    text plus near-copies with a few word edits."""
    texts: dict[int, str] = {}
    for g in inputs.load_golden(input_dir).values():
        text = "\n\n".join(row[1] for row in g["rows"])
        if g["ok"] and len(text) >= DEDUP_MIN_CHARS:
            texts[len(texts)] = text
        if len(texts) == DEDUP_DOCS:
            break
    rng = random.Random(seed)
    planted = []
    for src in sorted(rng.sample(sorted(texts), int(DEDUP_PLANT * len(texts)))):
        words = texts[src].split(" ")
        for _ in range(DEDUP_EDITS):
            words[rng.randrange(len(words))] = rng.choice(("alpha", "beta", "gamma"))
        texts[PLANT_ID_BASE + src] = " ".join(words)
        planted.append((PLANT_ID_BASE + src, src))
    return texts, planted


def probe_dedup(bench, input_dir: str, m: dict, tracer: Tracer) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extractor_spark.operators import dedup

    spark = bench.spark
    texts, planted = neardup_corpus(input_dir, bench.seed)
    path = os.path.join(bench.run_dir, "dedup", "docs")
    os.makedirs(path)
    ids = sorted(texts)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": [texts[i] for i in ids]}),
                   os.path.join(path, "part-00000.parquet"))
    docs = spark.read.parquet(path)
    with tracer.span("dedup.shingle") as sp:
        shh = dedup.shingle_hash_arrays(docs).persist()
        shh.count()
    m["dedup.shingle_s"] = sp["end"] - sp["start"]
    with tracer.span("dedup.candidates"):
        cand = dedup.banded_candidate_pairs(
            dedup.minhash_banded_from_hashes(shh, NUM_PERM, BANDS)).count()
    with tracer.span("dedup.lsh") as sp:
        pairs = [(r["a"], r["b"]) for r in dedup.minhash_pairs_from_hashes(
            shh, NUM_PERM, BANDS, THRESHOLD).collect()]
    m["dedup.lsh_s"] = sp["end"] - sp["start"]
    pairs_df = spark.createDataFrame(pairs, "a long, b long")
    with tracer.span("dedup.cc") as sp:
        groups = {r["doc_id"]: r["group_id"]
                  for r in dedup.connected_components(pairs_df).collect()}
    m["dedup.cc_s"] = sp["end"] - sp["start"]
    groups_df = spark.createDataFrame(list(groups.items()), "doc_id long, group_id long")
    with tracer.span("dedup.canonical") as sp:
        (dedup.canonical_selection(groups_df, docs).write.mode("overwrite")
         .parquet(os.path.join(bench.run_dir, "dedup", "kept")))
    m["dedup.canonical_s"] = sp["end"] - sp["start"]
    shh.unpersist()
    m["dedup.candidates"] = cand
    m["dedup.verify_yield"] = len(pairs) / max(cand, 1)
    bench.log(f"neardup probe: {len(texts)} docs ({len(planted)} planted copies), "
              f"{cand} candidates, {len(pairs)} pairs, "
              f"{len(set(groups.values()))} groups")
    bench.problems += gate.check_neardup(texts, pairs, planted, groups, THRESHOLD)
    bench.attempted += len(texts)


def run_traced(bench) -> dict:
    from pdf_extractor_spark.operators import extract as extract_mod
    from pdf_extractor_spark.pipeline import ExtractionJob
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    tracer = Tracer(f"{bench.name}-s{bench.seed}")
    m: dict = {}
    warm = bench.input(None)
    base, traced, probe = (bench.input(r) for r in range(3))
    bench.report_input(traced)
    with tracer.span("session.get_spark") as sp:
        bench.start()
    m["session.start_s"] = sp["end"] - sp["start"]
    with tracer.span("session.warm_up") as sp:
        m["pipeline.first_job_s"] = bench.warm_up(warm)
    m["session.warm_s"] = sp["end"] - sp["start"]

    with tracer.span("pipeline.untraced_job"):
        base_rep = bench.timed_rep(base, "untraced", resumes=1)
    bench.gate(base_rep)
    tuned: list[int] = []
    with tracer.wrap(SnapshotTable, "append", "table.append"), \
            tracer.wrap(ExtractionJob, "done_buckets", "pipeline.done_buckets"), \
            tracer.wrap(extract_mod, "tune_arrow_batch", "extract.tune_arrow_batch",
                        on_result=tuned.append):
        rep = bench.timed_rep(traced, "traced", span=tracer.span, resumes=1)
    m["pipeline.run_s"] = rep["job_s"]
    m["trace.overhead_s"] = rep["job_s"] - base_rep["job_s"]
    m["pipeline.failures"] = rep["res"]["failures"]
    m["pipeline.done_buckets_s"] = tracer.total("pipeline.done_buckets")
    m["extract.tune_batch_s"] = tracer.total("extract.tune_arrow_batch") / len(tuned)
    m["extract.records_per_batch"] = statistics.median(tuned)
    m["table.append_calls"] = tracer.count("table.append")
    m["table.append_s"] = tracer.total("table.append")
    with tracer.span("table.readback") as sp:
        rows = B.collect_rows(rep["job"].read_extracted())
    m["table.readback_s"] = sp["end"] - sp["start"]
    bench.gate(rep, rows)
    probe_job_tables(rep, m)

    probe_scans(bench, probe, m, tracer)
    m["pipeline.overhead_ratio"] = m["pipeline.run_s"] / m["extract.run_s"]
    probe_kernels(probe, bench.seed, m, tracer)
    probe_stream(bench, probe, m, tracer)
    probe_dedup(bench, probe, m, tracer)

    out = os.path.join(B.ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, f"trace-{bench.name}-s{bench.seed}.json"))
    for name, self_s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
        bench.log(f"span {name:28s} calls={tracer.count(name):3d} "
                  f"total={tracer.total(name):8.3f}s self={self_s:8.3f}s")
    bench.log(f"first (warm-up) job {m['pipeline.first_job_s']:.3f}s, untraced job "
              f"{base_rep['job_s']:.3f}s, traced job {rep['job_s']:.3f}s "
              f"(tracing overhead {m['trace.overhead_s']:+.3f}s)")
    return m
