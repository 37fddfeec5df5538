"""Per-partition lineage + checkpoint/resume protocol (SURVEY §7.1 step 6).

Semantic ancestor: the reference's in-memory task-status dict
(``core/app.py:22``, states pending/processing/done/error at
``app.py:38-83``) — which is lost on restart (the code itself notes
"в продакшене лучше Redis", app.py:21).  Here it becomes a durable
checkpoint table, one row per committed partition (``CK_SCHEMA``):

    (pid, row_count, error_count, output_md5, run_id, snapshot_id,
     expected_partitions, committed_at)

- ``partition_id = pmod(xxhash64(url), P)`` — deterministic, so any
  re-run over the same snapshot assigns identical rows to identical
  partitions.
- A partition is *committed* once its output parquet AND its lineage
  row are written.  Resume = drop the committed pids of the same
  ``snapshot_id`` with an ``isin`` filter.
- Checkpoint reads are driver-side: ``snapshot_rows`` collects one
  snapshot's rows, which are bounded by pids × committing runs, never
  by documents.  The read pins ``CK_SCHEMA``, so it starts no
  footer-inference job, and files written before a column existed read
  that column as null.  ``first_committers`` is the single
  implementation of the first-committer rule that resolves duplicate
  rows left by a commit race.
- ``output_md5`` = md5 of the partition's extracted texts concatenated
  in url order; the whole-table md5 of a resumed run must equal a
  from-scratch run (asserted in tests).

Iceberg snapshots are emulated (no jars in the sandbox, SURVEY §7.5):
``snapshot_id`` is a content fingerprint of the input file listing.  On
a real cluster, swap in the table's current Iceberg snapshot id.
"""

from __future__ import annotations

import os
import re
import zlib

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Row, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .pipeline import extract_pages

SEP = "\x01"

CK_SCHEMA = StructType(
    [
        StructField("pid", IntegerType()),
        StructField("row_count", LongType()),
        StructField("error_count", LongType()),
        StructField("output_md5", StringType()),
        StructField("run_id", StringType()),
        # long: a crc32 may or may not fit int32; older int32 files
        # widen on read
        StructField("snapshot_id", LongType()),
        StructField("expected_partitions", IntegerType()),
        StructField("committed_at", TimestampType()),
    ]
)

# the pid directory of a written output file: .../pid=<n>/<file>
_PID_DIR = re.compile(r"/pid=(\d+)/[^/]+$")


def _error_classes(exc: Exception) -> set[str]:
    """Spark error classes carried by *exc*: the structured field
    (PySpark 4 ``getCondition`` / older ``getErrorClass``), stable
    across versions unlike message text.  Only the first accessor
    present is asked (the older one warns on PySpark 4); a broken one
    yields nothing, never raises."""
    for getter in ("getCondition", "getErrorClass"):
        fn = getattr(exc, getter, None)
        if callable(fn):
            try:
                got = fn()
            except Exception:
                got = None
            return {str(got)} if got else set()
    return set()


def _is_vanished_file_error(exc: Exception) -> bool:
    """True when *exc* is Spark reporting a scanned file that vanished
    mid-read — the signature of a rival's dynamic overwrite replacing
    pid files under our lazy listing.  Matches the structured
    error-class field first and falls back to the message substrings
    for exception shapes that carry no error class (e.g. a
    Py4J-wrapped executor SparkException).  The residual window this
    can't close (rival commits between our read and our append) is
    closed in production by the documented Iceberg swap (module
    docstring): atomic snapshot commits instead of append-parquet."""
    if any(c.startswith("FAILED_READ_FILE") for c in _error_classes(exc)):
        return True
    msg = str(exc)
    return "FAILED_READ_FILE" in msg or "FILE_NOT_EXIST" in msg


def _is_missing_path(exc: Exception) -> bool:
    """True when *exc* is Spark reporting that a read path does not
    exist (a checkpoint nothing has committed to, an empty write)."""
    return any(
        c.startswith("PATH_NOT_FOUND") for c in _error_classes(exc)
    ) or "PATH_NOT_FOUND" in str(exc)


def snapshot_id_of(input_path: str) -> int:
    """Emulated Iceberg snapshot id: crc32 fingerprint of the sorted
    (relative file name, size) listing of the input dataset."""
    entries = []
    if os.path.isdir(input_path):
        for root, _dirs, files in os.walk(input_path):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    entries.append(
                        f"{os.path.relpath(p, input_path)}:{os.path.getsize(p)}"
                    )
    else:
        entries.append(f"{os.path.basename(input_path)}:{os.path.getsize(input_path)}")
    return zlib.crc32("|".join(sorted(entries)).encode("utf-8"))


def snapshot_output_dir(output_path: str, snapshot_id: int) -> str:
    """Output namespace for one input snapshot (snapshot isolation)."""
    return os.path.join(output_path, f"snapshot={snapshot_id}")


def with_partition_id(pages: DataFrame, num_partitions: int) -> DataFrame:
    return pages.withColumn(
        "pid", F.pmod(F.xxhash64("url"), F.lit(num_partitions)).cast("int")
    )


def _texts_md5() -> Column:
    """Aggregate: md5 of the group's texts joined by ``SEP`` in url
    order, a null text rendered as ``"\\x00<null>"`` — the digest behind
    both ``output_md5`` and ``global_md5``."""
    return F.md5(
        F.concat_ws(
            SEP,
            F.transform(
                F.array_sort(F.collect_list(F.struct("url", "text"))),
                lambda x: F.coalesce(x["text"], F.lit("\x00<null>")),
            ),
        )
    )


def partition_lineage(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage aggregate over extracted output carrying
    ``pid``: row count + md5 of texts concatenated in url order."""
    return extracted.groupBy("pid").agg(
        F.count("*").alias("row_count"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
            "error_count"
        ),
        _texts_md5().alias("output_md5"),
    )


def read_checkpoint(
    spark: SparkSession, checkpoint_path: str
) -> DataFrame | None:
    """The checkpoint table with the pinned ``CK_SCHEMA``, or None if no
    run has committed to *checkpoint_path* yet.  The pinned schema
    starts no footer-inference job and makes files of older runs
    (missing columns, int32 snapshot ids) read like current ones."""
    try:
        return spark.read.schema(CK_SCHEMA).parquet(checkpoint_path)
    except AnalysisException as exc:
        if _is_missing_path(exc):
            return None
        raise


def snapshot_rows(
    spark: SparkSession, checkpoint_path: str, snapshot_id: int
) -> list[Row]:
    """Every checkpoint row of one snapshot, collected to the driver —
    bounded by pids × runs that committed to the snapshot, not by
    documents.  ``[]`` if the checkpoint does not exist yet."""
    ck = read_checkpoint(spark, checkpoint_path)
    if ck is None:
        return []
    return ck.filter(F.col("snapshot_id") == snapshot_id).collect()


def first_committers(rows: list[Row]) -> dict[int, Row]:
    """pid → its canonical row: the FIRST committer wins (committed_at
    asc, run_id asc tie-break — a total order, so every reader resolves
    the same winner).  Duplicate pids exist only after a commit race
    (see ``run_extraction``'s contended-commit check)."""
    won: dict[int, Row] = {}
    # .timestamp() honours the fold of a local-time datetime, so a DST
    # fall-back hour cannot reorder commits
    order = sorted(
        rows, key=lambda r: (r["committed_at"].timestamp(), r["run_id"])
    )
    for r in order:
        won.setdefault(r["pid"], r)
    return won


def snapshot_state(rows: list[Row]) -> tuple[dict[int, Row], int | None, bool]:
    """(canonical rows by pid, expected_partitions, complete) of one
    snapshot's checkpoint rows.  Rows from runs that predate
    ``expected_partitions`` carry null there and do not count."""
    won = first_committers(rows)
    expected = max(
        (
            r["expected_partitions"]
            for r in won.values()
            if r["expected_partitions"] is not None
        ),
        default=None,
    )
    return won, expected, expected is not None and len(won) >= expected


def canonical_lineage(
    spark: SparkSession, checkpoint_path: str, snapshot_id: int
) -> DataFrame:
    """One lineage row per pid for a snapshot (``first_committers`` of
    ``snapshot_rows``) as a DataFrame; consumers of the checkpoint
    table read through this view."""
    won = first_committers(snapshot_rows(spark, checkpoint_path, snapshot_id))
    return spark.createDataFrame(list(won.values()), CK_SCHEMA)


def run_extraction(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    run_id: str,
    *,
    num_partitions: int = 64,
    salt_threshold: int = 64 * 1024,
    limit_partitions: int | None = None,
    fail_before_commit: bool = False,
    race_hook=None,
) -> dict:
    """One (resumable) extraction run.

    Commit steps:

    1. Read the snapshot's checkpoint rows.  If its committed pids
       already reach the recorded ``expected_partitions``, return at
       once, without scanning the input.
    2. Extract the input rows of the uncommitted pids and write them,
       clustered by pid, under the snapshot's output namespace.
    3. Read the written output back, with the extracted schema, and
       re-read the checkpoint rows: the fresh pids are the written
       pid directories that are still uncommitted.
    4. Append one lineage row per fresh pid, aggregated from the
       read-back — a partition is committed only if its rows are
       durably on disk.
    5. Re-read the checkpoint rows and check that every fresh pid
       resolved to this run (first committer wins).

    ``limit_partitions`` processes only the first K uncommitted pids —
    used by tests to simulate a mid-run kill; ``fail_before_commit``
    raises after the data write but before the lineage commit (crash
    injection).

    Crash safety: output uses DYNAMIC partition overwrite — a pid's
    files are atomically replaced, never appended.  If a run dies
    between data write and lineage commit, the orphaned pid directories
    are simply rewritten (identical content — extraction is
    deterministic per snapshot) by the resume, which trusts only the
    lineage table, or committed by the next run's read-back.  A
    partition is committed iff its lineage row exists.

    Snapshot isolation: output lands under ``{output_path}/snapshot=N``
    so a re-run over a CHANGED input (new snapshot id) can never
    overwrite a previous snapshot's committed data — each snapshot's
    lineage rows always describe files that still exist.

    Contended commits (two drivers racing the same snapshot): parquet
    append is not transactional, so conflicts are detected at two
    points.  (a) Mid-commit: a rival's dynamic overwrite replaces pid
    files while this run's lazy lineage aggregate still holds the old
    listing — the resulting read failure is confirmed against the
    checkpoint (rival rows present?) and surfaced as a loud
    commit-race error with NO lineage rows appended.  (b) Post-append:
    the run re-reads the checkpoint rows through ``first_committers``
    (committed_at asc, run_id asc, a total order) and raises LOUDLY if
    any of its partitions resolved to another run (its rows stay,
    shadowed).  Output is exactly-once either way: extraction is
    deterministic per snapshot and the dynamic partition overwrite
    makes both racers write byte-identical pid directories.  A commit
    that appends and checks entirely inside the other's append in
    flight can still slip both checks — the real deployment swaps this
    adapter for Iceberg's atomic snapshot swap, which closes that
    window; ``race_hook`` (test-only) runs in the conflict window
    between the committed-set read and the lineage append.

    Returns {snapshot_id, partitions_processed, rows} of the
    partitions this call committed.
    """
    snap = snapshot_id_of(input_path)
    snap_dir = snapshot_output_dir(output_path, snap)
    nothing = {"snapshot_id": snap, "partitions_processed": 0, "rows": 0}
    done, _, complete = snapshot_state(
        snapshot_rows(spark, checkpoint_path, snap)
    )
    if complete:
        return nothing

    pages = with_partition_id(spark.read.parquet(input_path), num_partitions)
    input_pids = None
    if limit_partitions is not None:
        # the input's pids (at most num_partitions rows): the first K
        # uncommitted ones are this run's share
        input_pids = {
            r["pid"] for r in pages.select("pid").distinct().collect()
        }
        keep = sorted(input_pids - done.keys())[:limit_partitions]
        pages = pages.filter(F.col("pid").isin(keep))
    elif done:
        pages = pages.filter(~F.col("pid").isin(list(done)))

    extracted = extract_pages(
        pages,
        salt_threshold=salt_threshold,
        carry_cols=("warc_ts", "pid"),
    )

    # Cluster the NARROW extracted output by pid before the partitioned
    # write (shuffle-late: text is ~10× smaller than html).  Each pid
    # lands in exactly one reduce task, so every pid directory gets one
    # file; with no fixed count AQE coalesces the small reduce side.
    # Dynamic partition overwrite keeps re-writes of a pid idempotent
    # (crash between data write and lineage commit → resume rewrites
    # the orphaned pid, no duplicates).
    (
        extracted.repartition(F.col("pid"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pid")
        .parquet(snap_dir)
    )

    if fail_before_commit:
        raise RuntimeError("injected crash before lineage commit")

    try:
        written = spark.read.schema(extracted.schema).parquet(snap_dir)
    except AnalysisException as exc:
        # only the empty-write case is benign: zero uncommitted rows →
        # the partitioned write produced no files.  Any other read-back
        # failure (fs error) must fail the run, not silently commit
        # nothing.
        if not _is_missing_path(exc):
            raise
        written = spark.createDataFrame([], extracted.schema)
    written_pids = {
        int(m.group(1))
        for m in map(_PID_DIR.search, written.inputFiles())
        if m
    }
    prev = {r["pid"] for r in snapshot_rows(spark, checkpoint_path, snap)}
    fresh = sorted(written_pids - prev)
    # expected_partitions = distinct pids present in THIS snapshot's
    # input (not num_partitions: sparse inputs can leave pids empty) —
    # lets job status distinguish done from partially-committed.  A
    # full run wrote every input pid not committed before it, and every
    # pid directory of the snapshot holds rows of its input.
    expected = len(
        input_pids if input_pids is not None else written_pids | prev
    )

    if race_hook is not None:
        race_hook()  # test-only: a rival driver commits right here
    if not fresh:
        return nothing
    lineage = (
        partition_lineage(written.filter(F.col("pid").isin(fresh)))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("snapshot_id", F.lit(snap).cast("long"))
        .withColumn("expected_partitions", F.lit(expected).cast("int"))
        .withColumn("committed_at", F.current_timestamp())
        .select(*CK_SCHEMA.fieldNames())
    )
    try:
        lineage.write.mode("append").parquet(checkpoint_path)
    except Exception as exc:
        # a rival's dynamic overwrite replaces pid files while OUR
        # lazy lineage aggregate still holds the old listing — the
        # read fails loudly.  Confirm a rival actually committed and
        # surface it as the commit-race error (output is unaffected:
        # the rival wrote identical bytes); any other read failure
        # propagates untouched.
        if _is_vanished_file_error(exc):
            try:
                rivals = any(
                    r["run_id"] != run_id
                    for r in snapshot_rows(spark, checkpoint_path, snap)
                )
            except Exception:
                rivals = False
            if rivals:
                raise RuntimeError(
                    f"lineage commit race lost: a rival run overwrote "
                    f"snapshot {snap} partitions while this run was "
                    "committing (concurrent dynamic overwrite detected "
                    "mid-read) — output is unaffected (idempotent "
                    "identical writes); none of this run's lineage rows "
                    "were appended. Re-read job status before retrying."
                ) from exc
        raise

    # contended-commit check: did any of OUR pids resolve to a rival?
    rows = snapshot_rows(spark, checkpoint_path, snap)
    won = first_committers(rows)
    lost = sum(1 for pid in fresh if won[pid]["run_id"] != run_id)
    if lost:
        raise RuntimeError(
            f"lineage commit race lost: {lost} partition(s) of snapshot "
            f"{snap} were committed concurrently by another run — output "
            "is unaffected (idempotent identical writes); this run's "
            "lineage rows are shadowed by canonical_lineage. Re-read "
            "job status before retrying."
        )

    fresh_set = set(fresh)
    mine = [r for r in rows if r["run_id"] == run_id and r["pid"] in fresh_set]
    return {
        "snapshot_id": snap,
        "partitions_processed": len({r["pid"] for r in mine}),
        "rows": sum(r["row_count"] for r in mine),
    }


def global_md5(
    spark: SparkSession, output_path: str, snapshot_id: int | None = None
) -> str:
    """md5 over ALL extracted texts in url order (test-scale helper;
    at 100 TB you compare per-partition md5 sets instead).  Pass
    ``snapshot_id`` to scope to one snapshot's namespace when the
    output dir holds several."""
    if snapshot_id is not None:
        output_path = snapshot_output_dir(output_path, snapshot_id)
    return spark.read.parquet(output_path).agg(_texts_md5()).first()[0]
