"""The benchmark's workloads: inputs, the timed op and its oracle.

Each workload is an object whose parts ``run.py`` calls in this order:

- ``prepare()`` builds the inputs that need no Spark and computes the
  oracle, before the JVM starts.
- ``inputs(spark)`` writes the inputs the program reads.
- ``warmup()`` runs one untimed op and returns its check.
- ``ops()`` yields the timed ops.  An op is a callable that does the
  timed work and returns a check: a callable run outside the timing
  that returns ``(items, error)``, ``error`` being ``None`` when the
  output matched the oracle.  Cleanup happens inside the check.
- ``pass_done`` is true between whole passes: the loop stops only there.

Only the program's public entry points are timed: ``jobs`` and
``lineage`` (``extract_job``), ``sources.warc`` and ``pipeline``
(``warc_ingest``) and ``plans.queries`` (``registry_olap``).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import bench
from ocr_document_recognition_service_spark import (
    extract_one,
    gen_pages,
    jobs,
    lineage,
    pydeps,
)
from ocr_document_recognition_service_spark.pipeline import extract_pages
from ocr_document_recognition_service_spark.plans import queries as Q
from ocr_document_recognition_service_spark.sources import warc as W
from pyspark.sql import functions as F
from tools.check_contract import TABLES, frame_hash

import registry_tables

DOCS = 6_000  # corpus size of extract_job and warc_ingest
REGISTRY = bench.HEADLINE + ["dd10_semdedup", "sim7_ivf_twolevel", "sim8_pq_adc"]
WARMUP_QUERY = "q1_pricing_summary"
ORACLE_HASHES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "oracle_hashes.json")
_NULL_TEXT = "\x00<null>"  # how lineage.global_md5 renders a null text


def oracle_extract(docs: list[tuple[bytes, str | None]]) -> list[tuple]:
    """``extract_document`` over every doc, as (text, lang_used, error)."""
    out = []
    for html, lang in docs:
        r = extract_one.extract_document(html, lang)
        out.append((r.text, r.lang, r.error))
    return out


def corpus_rows(n: int, seed: int) -> list[dict]:
    return list(gen_pages.gen_rows(n, seed=seed))


def _rmtree(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


class ExtractJob:
    """``jobs.submit`` of the lang-partitioned pages table into fresh
    output and checkpoint dirs, then ``jobs.status``."""

    name = "extract_job"
    pass_done = True

    def __init__(self, seed: int, work: str, cores: int):
        self.seed, self.work = seed, work
        self.pages = os.path.join(work, "pages")
        self.n = DOCS
        self._k = 0

    def prepare(self) -> None:
        self.rows = corpus_rows(self.n, self.seed)
        got = oracle_extract([(r["html"], r["lang"]) for r in self.rows])
        # lineage.global_md5: texts in url order, nulls rendered
        pairs = sorted((r["url"], g[0]) for r, g in zip(self.rows, got))
        joined = lineage.SEP.join(_NULL_TEXT if t is None else t for _, t in pairs)
        self.expect_md5 = hashlib.md5(joined.encode("utf-8")).hexdigest()

    def inputs(self, spark) -> None:
        self.spark = spark
        pydeps.ensure_py_deps(spark)
        gen_pages.pages_df(spark, self.n, seed=self.seed).write.mode(
            "overwrite"
        ).partitionBy("lang").parquet(self.pages)

    def submit(self):
        """One timed op; returns its check."""
        self._k += 1
        out = os.path.join(self.work, f"out{self._k}")
        ck = os.path.join(self.work, f"ck{self._k}")
        rid = jobs.submit(self.spark, self.pages, out, ck)
        st = jobs.status(self.spark, ck, rid)
        return lambda: self._check(st, out, ck)

    def _check(self, st: dict, out: str, ck: str):
        try:
            if st["state"] != "done" or st["rows"] != self.n:
                return 0, f"status {st}"
            got = lineage.global_md5(self.spark, out, st["snapshot_id"])
            if got != self.expect_md5:
                return 0, f"global_md5 {got} != oracle {self.expect_md5}"
            return self.n, None
        finally:
            _rmtree(out, ck)

    def warmup(self):
        return self.submit()

    def ops(self):
        while True:
            yield self.submit


def warc_expectation(got: list[tuple]) -> dict:
    """Per-lang (docs, text chars, errors) of ``oracle_extract`` results."""
    exp: dict[str, list[int]] = {}
    for text, lang, error in got:
        e = exp.setdefault(lang, [0, 0, 0])
        e[0] += 1
        e[1] += len(text) if text is not None else 0
        e[2] += error is not None
    return exp


def warc_docs(rows: list[dict]) -> list[tuple[bytes, str]]:
    """(payload, lang) as the WARC reader sees each row: lang from the
    url host (``https://<lang>.example.org/...``)."""
    return [(r["html"], r["url"].split("//", 1)[1].split(".", 1)[0])
            for r in rows]


def write_warc_files(rows: list[dict], warc_dir: str, n_files: int) -> int:
    """Common-Crawl layout: one gzip member per record, ``n_files``
    files; returns the total bytes written."""
    os.makedirs(warc_dir, exist_ok=True)
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        W.write_warc_gz(
            os.path.join(warc_dir, f"seg{f:03d}.warc.gz"),
            [(r["url"], r["warc_ts"], r["html"]) for r in rows[f * per:(f + 1) * per]],
            compresslevel=1,
        )
    return sum(os.path.getsize(os.path.join(warc_dir, f))
               for f in os.listdir(warc_dir))


def warc_ingest_op(spark, warc_glob: str) -> dict:
    """``shared_warc_pages`` → ``extract_pages``; the sink is a per-lang
    (docs, text chars, errors) aggregate, which is also what the
    oracle checks."""
    with W.shared_warc_pages(spark, warc_glob) as pages:
        got = (
            extract_pages(pages, num_partitions=2 * spark.sparkContext.defaultParallelism)
            .groupBy("lang")
            .agg(
                F.count("*").alias("docs"),
                F.sum(F.coalesce(F.length("text"), F.lit(0))).alias("chars"),
                F.count("error").alias("errors"),
            )
            .collect()
        )
    return {r["lang"]: [r["docs"], r["chars"], r["errors"]] for r in got}


class WarcIngest:
    """The generator's docs as ``.warc.gz`` files (one per core); the op
    is ``warc_ingest_op``."""

    name = "warc_ingest"
    pass_done = True

    def __init__(self, seed: int, work: str, cores: int):
        self.seed, self.work, self.cores = seed, work, cores
        self.warc_dir = os.path.join(work, "warc")
        self.n = DOCS

    def prepare(self) -> None:
        self.rows = corpus_rows(self.n, self.seed)
        self.expect = warc_expectation(oracle_extract(warc_docs(self.rows)))
        self.in_bytes = write_warc_files(self.rows, self.warc_dir, self.cores)

    def inputs(self, spark) -> None:
        self.spark = spark

    def ingest(self):
        got = warc_ingest_op(self.spark, os.path.join(self.warc_dir, "*.warc.gz"))

        def check():
            if got != self.expect:
                return 0, f"per-lang {got} != oracle {self.expect}"
            return self.n, None

        return check

    def warmup(self):
        return self.ingest()

    def ops(self):
        while True:
            yield self.ingest


def _load_json(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def oracle_hashes(sf_dir: str, fingerprint: str, cache: str) -> dict[str, str]:
    """DuckDB value hash of each registry query's ``oracle_sql()``,
    cached per (table fingerprint, SQL text): the committed
    ``oracle_hashes.json`` first, then ``cache``, computing (slow: the
    quantizer oracles take a minute) only what neither holds."""
    sqls = Q.oracle_sql()
    keys = {
        q: hashlib.md5(f"{fingerprint}\n{sqls[q]}".encode()).hexdigest()
        for q in REGISTRY
    }
    cached = _load_json(cache)
    known = {**_load_json(ORACLE_HASHES), **cached}
    missing = [q for q in REGISTRY if keys[q] not in known]
    if missing:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for q in missing:
            cur = con.execute(sqls[q])
            cols = [d[0] for d in cur.description]
            cached[keys[q]] = known[keys[q]] = frame_hash(cols, cur.fetchall())[0]
        con.close()
        with open(cache, "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
    return {q: known[keys[q]] for q in REGISTRY}


class RegistryOlap:
    """One op builds and runs (noop sink) one registry query; a pass is
    every query of ``REGISTRY`` once, in an order drawn from the seed."""

    name = "registry_olap"

    def __init__(self, seed: int, work: str, cores: int):
        self.seed = seed
        self.sf_dir = os.path.join(work, "tables")
        # beside the run's work dir: it outlives the run
        self.cache = os.path.join(os.path.dirname(work), "oracle_cache.json")
        self.registry = Q.queries()
        self.pass_done = True

    def prepare(self) -> None:
        fingerprint = registry_tables.write_tables(self.sf_dir)
        self.expect = oracle_hashes(self.sf_dir, fingerprint, self.cache)

    def inputs(self, spark) -> None:
        self.spark = spark

    def query(self, q: str):
        df = self.registry[q](self.spark, self.sf_dir)
        df.write.mode("overwrite").format("noop").save()
        return lambda: self.check(q, df)

    def check(self, q: str, df):
        got = frame_hash(df.columns, [tuple(r) for r in df.collect()])[0]
        if got != self.expect[q]:
            return 0, f"{q}: value hash {got} != duckdb {self.expect[q]}"
        return 1, None

    def warmup(self):
        return self.query(WARMUP_QUERY)

    def ops(self):
        k = 0
        while True:
            names = list(REGISTRY)
            random.Random(f"{self.seed}:{k}").shuffle(names)
            for i, q in enumerate(names):
                self.pass_done = i == len(names) - 1
                yield lambda q=q: self.query(q)
            k += 1


WORKLOADS = {c.name: c for c in (ExtractJob, WarcIngest, RegistryOlap)}
