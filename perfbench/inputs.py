"""Seeded workload inputs and their goldens, cached on disk.

Every input is a pure function of (workload, seed, size): the same key
always yields byte-identical payloads and goldens. Generation runs once per
key; later runs read the cache, so generation never counts in ``setup_s``.

Each cached input directory holds:

- ``warc/``      gzip-per-record WARC segments (``sources.warc.write_warc``)
- ``pages/``     the same documents as a parquet pages table
- ``golden.jsonl`` one line per document: url, family, ok, and the expected
  rows ``[page_number, text, table, combined, markdown, spans]`` (table,
  combined, markdown and spans are ``null`` where the construction does not
  fix them: PDF and OCR pages gate on text only)
- ``stats.json`` docs, payload bytes, family mix, expected pages
"""
from __future__ import annotations

import collections
import datetime as dt
import json
import os
import random
import shutil

# bump when a generator changes, so stale caches are never read
GEN_VERSION = 3

EPOCH = dt.datetime(2024, 1, 1)

# pdf_scan families, equally many of each in a seeded order: a coverage
# mix, not measured traffic (fixed counts keep each input's payload bytes
# within a few percent of another seed's). Born-digital multi-page PDFs in every layout the corpus `build_pdf*`
# writers emit, plus the scanned-document tier (one single-page image per
# raster format, and multi-page scanned PDFs)
PDF_FAMILIES = (
    "pdf_plain", "pdf_flate", "pdf_objstm", "pdf_type0", "pdf_nested",
    "pdf_r4", "pdf_r6",
    "scan_pdf", "scan_bmp", "scan_png", "scan_tiff", "scan_gif",
    "scan_jpeg", "scan_webp",
)

# the OCR font covers A-Z, 0-9, space, '.' and ','
_OCR_WORDS = ("THE DATA ENGINE READS EVERY PAGE AND KEEPS MAIN CONTENT "
              "WHILE IT DROPS NOISE FOR A CLEAN CORPUS TO TRAIN MODELS ON "
              "TEXT FROM SCANNED FORMS INVOICES AND LETTERS").split()
_OCR_WIDTH = 32


def _ocr_text(rng: random.Random) -> str:
    """A printed page of OCR-alphabet text (reads back exactly: the
    renderer's fixed-pitch wrap is inverted by plain concatenation)."""
    words = [rng.choice(_OCR_WORDS) for _ in range(rng.randint(8, 20))]
    words.insert(rng.randrange(len(words)), str(rng.randint(10, 9999)))
    return " ".join(words) + "."


def _page_runs(rng: random.Random, n_pages: int):
    from pdf_extractor_spark import corpus

    runs, texts = [], []
    for _ in range(n_pages):
        lines = corpus._pdf_lines(rng, rng.randint(3, 8))
        runs.append([(72.0, 720.0 - 14 * i, ln) for i, ln in enumerate(lines)])
        texts.append("\n".join(lines))
    return runs, texts


def pdf_doc(rng: random.Random, family: str):
    """(payload, [(page, text)]) for one pdf_scan family."""
    from pdf_extractor_spark import corpus
    from pdf_extractor_spark.kernels import ocr_kernel
    from pdf_extractor_spark.kernels.gif_kernel import render_text_gif
    from pdf_extractor_spark.kernels.jpeg_kernel import render_text_jpeg
    from pdf_extractor_spark.kernels.png_kernel import render_text_png
    from pdf_extractor_spark.kernels.tiff_kernel import render_text_tiff
    from pdf_extractor_spark.kernels.webp_kernel import render_text_webp

    if family.startswith("pdf_"):
        runs, texts = _page_runs(rng, rng.randint(4, 24))
        build = {
            "pdf_plain": corpus.build_pdf,
            "pdf_flate": lambda p: corpus.build_pdf(p, compress=True),
            "pdf_objstm": corpus.build_pdf_objstm,
            "pdf_type0": corpus.build_pdf_type0,
            "pdf_nested": corpus.build_pdf_nested,
            "pdf_r4": lambda p: corpus.build_pdf_encrypted(p, r=4),
            "pdf_r6": lambda p: corpus.build_pdf_encrypted(p, r=6),
        }[family]
        return build(runs), list(enumerate(texts, 1))
    if family == "scan_pdf":
        texts = [_ocr_text(rng) for _ in range(rng.randint(2, 4))]
        return (ocr_kernel.render_scanned_pdf(texts, width=_OCR_WIDTH),
                list(enumerate(texts, 1)))
    render = {
        "scan_bmp": ocr_kernel.render_text_bmp,
        "scan_png": render_text_png,
        "scan_tiff": render_text_tiff,
        "scan_gif": render_text_gif,
        "scan_jpeg": render_text_jpeg,
        "scan_webp": render_text_webp,
    }[family]
    text = _ocr_text(rng)
    return render(text, width=_OCR_WIDTH), [(1, text)]


def crawl_docs(n: int, seed: int) -> list[dict]:
    """The ``corpus.generate`` family mix (HTML-dominant, small PDFs, two
    hot hosts) as benchmark documents with by-construction goldens."""
    from pdf_extractor_spark import corpus

    docs = []
    for d in corpus.generate(n, seed):
        if d.family.startswith("pdf"):
            rows = [[p, t, None, None, None, None]
                    for p, t in (d.expected_pages or [(1, "")])]
        else:
            rows = [[1, d.expected_text, d.expected_table,
                     d.expected_combined, d.expected_markdown,
                     [list(s) for s in d.expected_spans]]]
        docs.append({"url": d.url, "warc_ts": d.warc_ts.replace(tzinfo=None),
                     "payload": d.html, "family": d.family,
                     "ok": d.expected_ok, "rows": rows})
    return docs


def pdf_docs(n: int, seed: int) -> list[dict]:
    """Multi-page born-digital PDFs and scanned pages with known text."""
    rng = random.Random(seed)
    families = [PDF_FAMILIES[i % len(PDF_FAMILIES)] for i in range(n)]
    rng.shuffle(families)
    docs = []
    for i, family in enumerate(families):
        payload, pages = pdf_doc(rng, family)
        docs.append({
            "url": f"https://docs-{i % 23:02d}.example.net/f/{seed}-{i:07d}",
            "warc_ts": EPOCH + dt.timedelta(seconds=rng.randint(0, 10**7)),
            "payload": payload, "family": family, "ok": True,
            "rows": [[p, t, None, None, None, None] for p, t in pages],
        })
    return docs


GENERATORS = {"crawl_warc": crawl_docs, "pdf_scan": pdf_docs}


def write_pages_parquet(docs: list[dict], path: str, n_files: int) -> None:
    """``docs`` as a parquet pages table (session.PAGES_DDL) in
    ``n_files`` files, one per input split."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    for f in range(n_files):
        part = docs[f::n_files]
        table = pa.table({
            "url": [d["url"] for d in part],
            "warc_ts": [d["warc_ts"] for d in part],
            "html": [d["payload"] for d in part],
            "text": [None] * len(part),
            "lang": [None] * len(part),
        }, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def _stats(docs: list[dict]) -> dict:
    fam = collections.Counter(d["family"] for d in docs)
    return {
        "docs": len(docs),
        "payload_bytes": sum(len(d["payload"]) for d in docs),
        "expected_rows": sum(len(d["rows"]) for d in docs),
        "expected_failures": sum(not d["ok"] for d in docs),
        "family_mix": {k: round(v / len(docs), 4) for k, v in sorted(fam.items())},
    }


def build(cache_root: str, workload: str, seed: int, n: int,
          n_files: int) -> str:
    """Return the cached input directory for (workload, seed, n),
    generating it first when absent. Writes go to a temp directory that is
    renamed into place, so an interrupted run never leaves a partial
    cache entry."""
    from pdf_extractor_spark.sources.warc import write_warc

    key = f"{workload}-v{GEN_VERSION}-s{seed}-n{n}-f{n_files}"
    final = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(final, "stats.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    # the R6 writer derives keys through the program's KDF, whose disk
    # memo the extraction workers read too: the generator gets a memo of
    # its own, so it never pre-fills a run's (empty) worker memo
    kdf_env = os.environ.get("SPARK_GRAFT_KDF_CACHE")
    os.environ["SPARK_GRAFT_KDF_CACHE"] = os.path.join(cache_root, "kdf")
    try:
        docs = GENERATORS[workload](n, seed)
    finally:
        if kdf_env is None:
            del os.environ["SPARK_GRAFT_KDF_CACHE"]
        else:
            os.environ["SPARK_GRAFT_KDF_CACHE"] = kdf_env
    os.makedirs(os.path.join(tmp, "warc"))
    for f in range(n_files):
        write_warc(os.path.join(tmp, "warc", f"seg-{f:05d}.warc.gz"), [
            {"url": d["url"], "body": d["payload"], "warc_ts": d["warc_ts"]}
            for d in docs[f::n_files]])
    write_pages_parquet(docs, os.path.join(tmp, "pages"), n_files)
    with open(os.path.join(tmp, "golden.jsonl"), "w") as fh:
        for d in docs:
            fh.write(json.dumps({"url": d["url"], "family": d["family"],
                                 "ok": d["ok"], "rows": d["rows"]}) + "\n")
    with open(os.path.join(tmp, "stats.json"), "w") as fh:
        json.dump(_stats(docs), fh)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def load_golden(input_dir: str) -> dict[str, dict]:
    with open(os.path.join(input_dir, "golden.jsonl")) as fh:
        return {g["url"]: g for g in map(json.loads, fh)}


def load_stats(input_dir: str) -> dict:
    with open(os.path.join(input_dir, "stats.json")) as fh:
        return json.load(fh)
