"""PySpark-native main-content extraction engine.

A from-scratch rebuild (NOT a port) of the query/data-processing
capabilities of ``AlexandrNerf/ocr-document-recognition-service``:
HTML boilerplate stripping, layout-aware PDF block ordering, per-script
(ru/kk/en) character-class normalization — re-expressed as idiomatic
Spark DataFrame plans + vectorized Arrow/pandas UDFs, over a
Common-Crawl-style pages table ``(url, warc_ts, html, text, lang)``.

Package layout
--------------
- ``charsets``     per-script alphabets, homoglyph map, vocab algebra (SURVEY §2.5 R3–R7)
- ``layout``       corner canonicalization, deskew, reading-order sort (SURVEY §2.4 L1–L3)
- ``html_extract`` DOM walk + boilerplate density scoring (SURVEY §2.3 D1/D3)
- ``pdf_extract``  layout-aware PDF block parse (SURVEY §2.4)
- ``extract_one``  the pure-Python single-document oracle (byte-identical truth)
- ``gen_pages``    deterministic synthetic Common-Crawl-style corpus
- ``pipeline``     the Spark pipeline: lang-routed branches, in-UDF salting
- ``lineage``      per-partition lineage/checkpoint + resume protocol
- ``operators``    dedup / similarity / text-analysis / metrics / window ops
- ``sources``      table adapters (parquet + Iceberg-emulated snapshot manifest)
"""

__version__ = "0.1.0"
