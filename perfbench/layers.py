"""The traced run: per-layer metrics, timed from outside the program.

A traced run sets up like an untraced one but with Spark's event log
on (uncompressed, one file), runs the workload's own ops for
``--seconds``, then times each layer's public functions one call at a
time, the same profile whichever workload is traced:

- the kernel (``extract_one`` and its sub-layers), single-threaded on
  the seed's corpus, in microseconds per document;
- ``pipeline`` (scan, then ``extract_pages``) over the pages table,
  ``lineage``/``jobs`` (submit, resubmit of a committed snapshot,
  status) and ``sources.warc`` (record parsing alone, then the whole
  ingest op);
- each of ``bench.HEADLINE``'s registry queries, build and execution
  apart, and the ``sources.tables`` scans they start from.

Spark's task counters (``spark.*``) come from the event log and cover
the workload's own ops only, selected by job group.  Each layer call
runs in a job group of its own, so ``*.spark_jobs`` counts the Spark
jobs it started.  ``trace.overhead_s`` is the traced ops' median minus
the median of ``run.MIN_OPS`` ops rerun untraced, after one warm-up op,
in a fresh session without the event log at the end of the same run.
"""

from __future__ import annotations

import inspect
import json
import os
import statistics
import time

from ocr_document_recognition_service_spark import (
    charsets,
    extract_one,
    html_extract,
    jobs,
    layout,
    lineage,
    pdf_extract,
)
from ocr_document_recognition_service_spark.pipeline import (
    DEFAULT_CHUNK_TARGET,
    DEFAULT_SALT_THRESHOLD,
    extract_pages,
)
from ocr_document_recognition_service_spark.sources import tables as T
from ocr_document_recognition_service_spark.sources import warc as W
from pyspark.sql import functions as F

import registry_tables
import run
import workloads

# the job's own extraction width, so pipeline.extract_s and a submit
# run the same plan
JOB_PARTITIONS = inspect.signature(lineage.run_extraction).parameters[
    "num_partitions"
].default
SCANNED_TABLES = ("lineitem", "events", "embeddings")
# bench.py's headline queries.  The quantizer trio (dd10, sim7, sim8)
# trains eagerly at build time: 35-65 s more per traced run, past
# three minutes.  A registry_olap run times it.
PROFILED_QUERIES = workloads.bench.HEADLINE
EXTRACT_COLS = ("url", "lang", "n_blocks", "text", "error")


def _us_per_doc(fn, items) -> float:
    """Single-threaded wall per call of ``fn`` over ``items``, in µs."""
    items = list(items)
    t0 = time.perf_counter()
    for it in items:
        fn(*it)
    return (time.perf_counter() - t0) / max(1, len(items)) * 1e6


def kernel_profile(rows: list[dict]) -> tuple[dict, float]:
    """µs/doc of the kernel and its sub-layers on the corpus, and the
    corpus' single-thread kernel seconds."""
    pdf = [r for r in rows if pdf_extract.is_pdf(r["html"])]
    split = [r for r in rows if not pdf_extract.is_pdf(r["html"])
             and len(r["html"]) > DEFAULT_SALT_THRESHOLD
             and r["lang"] in charsets.LANGS]
    big = {id(r) for r in pdf + split}
    html = [r for r in rows if id(r) not in big]
    sample = html[::8]  # an eighth of the HTML rows keeps the run short
    # what extract_one._finalize normalizes: each doc's non-empty blocks,
    # with the lang it uses (the row's, or the detected one)
    normalize_in = []
    for r in sample:
        blocks = [b for b in html_extract.extract_html_text(
            html_extract.sniff_decode(r["html"])) if b]
        lang = r["lang"] if r["lang"] in charsets.LANGS else (
            charsets.detect_language(" ".join(blocks)))
        normalize_in.append((blocks, lang))
    pages = [pg for r in pdf for pg in pdf_extract.pdf_pages(r["html"]) if pg]
    m = {
        "extract_one.html_us_per_doc": _us_per_doc(
            extract_one.extract_document, ((r["html"], r["lang"]) for r in sample)),
        "extract_one.pdf_us_per_doc": _us_per_doc(
            extract_one.extract_document, ((r["html"], r["lang"]) for r in pdf)),
        "extract_one.split_us_per_doc": _us_per_doc(
            extract_one.extract_document_split,
            ((r["html"], r["lang"], DEFAULT_CHUNK_TARGET) for r in split)),
        "html_extract.blocks_us_per_doc": _us_per_doc(
            lambda raw: html_extract.html_blocks(html_extract.sniff_decode(raw)),
            ((r["html"],) for r in sample)),
        "charsets.normalize_us_per_doc": _us_per_doc(
            lambda blocks, lang: [charsets.normalize_text(b, lang) for b in blocks],
            normalize_in),
        "pdf_extract.blocks_us_per_doc": _us_per_doc(
            pdf_extract.pdf_blocks, ((r["html"],) for r in pdf)),
        "layout.reading_order_us_per_doc": _us_per_doc(
            layout.reading_order, (([q for q, _ in pg],) for pg in pages)
        ) * len(pages) / max(1, len(pdf)),
    }
    cpu_s = (len(html) * m["extract_one.html_us_per_doc"]
             + len(pdf) * m["extract_one.pdf_us_per_doc"]
             + len(split) * m["extract_one.split_us_per_doc"]) / 1e6
    return m, cpu_s


class Tracer:
    """Times calls in job groups and counts the Spark jobs they start."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext

    def time(self, group: str, fn, *args):
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        out = fn(*args)
        wall = time.perf_counter() - t0
        self.sc.setJobGroup("untimed", "untimed")
        return wall, out

    def jobs(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def spark_counters(event_log_dir: str, group: str, cores: int) -> dict:
    """Task counters of the jobs in ``group``, from the event log."""
    (name,) = os.listdir(event_log_dir)
    stages: set[int] = set()
    tasks: dict[int, list[dict]] = {}
    with open(os.path.join(event_log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                    stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                tasks.setdefault(ev["Stage ID"], []).append(ev["Task Metrics"])
    mine = [t for s in stages for t in tasks.get(s, [])]
    skews = []
    for s in stages:
        runs = [t["Executor Run Time"] for t in tasks.get(s, [])]
        if len(runs) >= cores and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))
    mb = 1024.0 * 1024.0
    return {
        "spark.tasks": (len(mine), "count"),
        "spark.executor_cpu_s": (sum(t["Executor CPU Time"] for t in mine) / 1e9, "s"),
        "spark.gc_s": (sum(t["JVM GC Time"] for t in mine) / 1e3, "s"),
        "spark.shuffle_write_mb": (sum(
            t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in mine) / mb, "MB"),
        "spark.spill_mb": (sum(
            t["Memory Bytes Spilled"] + t["Disk Bytes Spilled"] for t in mine) / mb, "MB"),
        "spark.task_skew": (statistics.median(skews) if skews else 1.0, "ratio"),
    }


def layer_profile(tr: Tracer, ej, wi, sf_dir: str, cores: int) -> dict:
    """One call per layer; values in seconds unless named otherwise."""
    spark = tr.spark
    m: dict[str, tuple[float, str]] = {}

    def pages():
        return spark.read.parquet(ej.pages)

    scan_s, _ = tr.time("pipeline.scan", lambda: noop(
        pages().select("url", F.length("html"))))
    m["pipeline.scan_s"] = (scan_s, "s")
    extract_s, _ = tr.time("pipeline.extract", lambda: noop(
        extract_pages(pages(), num_partitions=JOB_PARTITIONS).select(*EXTRACT_COLS)))
    m["pipeline.extract_s"] = (extract_s, "s")
    kernel, kernel_cpu_s = kernel_profile(ej.rows)
    m.update({k: (v, "us") for k, v in kernel.items()})
    m["pipeline.efficiency"] = (kernel_cpu_s / cores / extract_s, "ratio")

    out, ck = os.path.join(ej.work, "lineage-out"), os.path.join(ej.work, "lineage-ck")
    submit_s, rid = tr.time("lineage.submit", jobs.submit, spark, ej.pages, out, ck)
    m["lineage.commit_s"] = (submit_s - extract_s, "s")
    m["lineage.spark_jobs"] = (tr.jobs("lineage.submit"), "count")
    m["lineage.resubmit_s"] = (tr.time(
        "lineage.resubmit", jobs.submit, spark, ej.pages, out, ck, rid)[0], "s")
    status_s, _ = tr.time("jobs.status", jobs.status, spark, ck, rid)
    m["jobs.status_s"] = (status_s, "s")
    workloads._rmtree(out, ck)

    glob = os.path.join(wi.warc_dir, "*.warc.gz")
    parse_s, got = tr.time("warc.parse", lambda: W.read_warc_stream(spark, glob).agg(
        F.count("*").alias("n"), F.sum(F.length("html")).alias("b")).collect()[0])
    m["warc.parse_s"] = (parse_s, "s")
    m["warc.records"] = (got["n"], "count")
    m["warc.in_mb"] = (wi.in_bytes / 1024.0 / 1024.0, "MB")
    m["warc.ingest_s"] = (tr.time("warc.ingest", workloads.warc_ingest_op,
                                  spark, glob)[0], "s")

    m["tables.scan_s"] = (sum(tr.time("tables.scan", lambda t=t: noop(
        T.load(spark, sf_dir, t)))[0] for t in SCANNED_TABLES), "s")
    registry = workloads.Q.queries()
    for q in PROFILED_QUERIES:
        build_s, df = tr.time(f"registry.{q}", registry[q], spark, sf_dir)
        exec_s, _ = tr.time(f"registry.{q}.exec", noop, df)
        m[f"registry.{q}.build_s"] = (build_s, "s")
        m[f"registry.{q}.exec_s"] = (exec_s, "s")
        m[f"registry.{q}.spark_jobs"] = (
            tr.jobs(f"registry.{q}") + tr.jobs(f"registry.{q}.exec"), "count")
    return m


def traced(wl, args, work: str) -> tuple[dict, dict]:
    cores = run._cores()
    seed = args.seed
    # the profile needs both inputs; the traced workload is one of them
    ej = wl if isinstance(wl, workloads.ExtractJob) else workloads.ExtractJob(
        seed, work, cores)
    wi = wl if isinstance(wl, workloads.WarcIngest) else workloads.WarcIngest(
        seed, work, cores)
    ev_dir = os.path.join(work, "eventlog")
    spark, phases, warm_errors = run.setup(wl, work, event_log=ev_dir)
    # the profile needs the other workload's inputs, not its oracle;
    # both are the seed's DOCS rows
    rows = getattr(wl, "rows", None) or workloads.corpus_rows(workloads.DOCS, seed)
    ej.rows = rows
    if wi is not wl:
        wi.in_bytes = workloads.write_warc_files(rows, wi.warc_dir, cores)
    if isinstance(wl, workloads.RegistryOlap):
        sf_dir = wl.sf_dir
    else:
        sf_dir = os.path.join(work, "tables")
        registry_tables.write_tables(sf_dir)
    m = {"session.start_s": (phases["session"], "s")}
    tr = Tracer(spark)
    if ej is wl:
        m["gen_pages.corpus_s"] = (phases["inputs"], "s")
    else:
        m["gen_pages.corpus_s"] = (tr.time("gen_pages", ej.inputs, spark)[0], "s")
    wi.inputs(spark)

    r = run.run_ops(wl, args.seconds, wrap=lambda op: tr.time("op", op)[1])
    m.update(layer_profile(tr, ej, wi, sf_dir, cores))
    spark.stop()
    m.update(spark_counters(ev_dir, "op", cores))

    traced_p50 = statistics.median(r["walls"])
    spark = run.start_session(work, cores)
    wl.spark = spark  # the inputs are still on disk
    rerun_warm_errors = run.warm_up(wl, 1)
    untraced = run.run_ops(wl, 0)
    spark.stop()
    untraced_p50 = statistics.median(untraced["walls"])
    m["trace.op_p50_s"] = (traced_p50, "s")
    m["trace.overhead_s"] = (traced_p50 - untraced_p50, "s")
    res = run.counts(r, warm_errors)
    # the untraced rerun's ops are checked and counted too
    res["attempted"] += 1 + len(untraced["walls"])
    res["failed"] += len(rerun_warm_errors) + untraced["failed"]
    res["info"] = {"ops": len(r["walls"]),
                   "op_walls_s": [round(w, 3) for w in r["walls"]],
                   "untraced_op_walls_s": [round(w, 3) for w in untraced["walls"]],
                   "errors": (warm_errors + r["errors"] + rerun_warm_errors
                              + untraced["errors"])}
    return m, res
