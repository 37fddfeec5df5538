"""Job-tracking API over the lineage table (SURVEY §2.1 S11, §3.2).

The reference exposes an async task queue: ``POST /process`` mints a
uuid and seeds ``tasks[id] = {status: pending,…}``, a worker flips it
to done/error, clients poll ``GET /status/{id}`` / ``GET /result/{id}``
(``core/app.py:86-194``) — all in process memory, lost on restart
(the code itself suggests Redis, app.py:21).

Here the same surface is three functions over durable tables: submit =
run the extraction (its lineage rows ARE the status store), status =
read the checkpoint table, result = read the output namespace.  This
survives restarts by construction and scales with the table."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import lineage


def submit(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    run_id: str | None = None,
    **kwargs,
) -> str:
    """Run (or resume) an extraction job; returns its run id."""
    run_id = run_id or f"job-{uuid.uuid4().hex[:12]}"
    lineage.run_extraction(
        spark, input_path, output_path, checkpoint_path, run_id, **kwargs
    )
    return run_id


def _latest_snapshot(
    spark: SparkSession, checkpoint_path: str, run_id: str
) -> int | None:
    """The snapshot a run most recently committed under (a run_id may
    be resumed after the input changed; committed_at is the only
    ordering key — snapshot ids are content fingerprints, not
    monotonic).  None for an unknown run or a missing checkpoint."""
    ck = lineage.read_checkpoint(spark, checkpoint_path)
    if ck is None:
        return None
    mine = (
        ck.filter(F.col("run_id") == run_id)
        .select("snapshot_id", "committed_at")
        .collect()
    )
    if not mine:
        return None
    latest = max(
        mine, key=lambda r: (r["committed_at"].timestamp(), r["snapshot_id"])
    )
    return latest["snapshot_id"]


def status(spark: SparkSession, checkpoint_path: str, run_id: str) -> dict:
    """Poll a job (GET /status/{id} analog, app.py:125-163).

    States: ``done`` — every input partition of the run's (latest)
    snapshot is committed (by this or any resuming run); ``partial`` —
    some are not (crashed/in-flight); ``unknown`` — no lineage rows.
    Per-document extraction errors are DATA (``error_rows``), not a job
    state: an engine whose contract is "error rows, not crashes" must
    not mislabel a completed run over messy input as failed."""
    snap = _latest_snapshot(spark, checkpoint_path, run_id)
    if snap is None:
        return {"run_id": run_id, "state": "unknown", "partitions": 0}
    # canonical rows only: after a detected commit race the raw table
    # can hold a loser's shadowed duplicate rows, and raw sums would
    # double-count rows/error_rows
    won, expected, complete = lineage.snapshot_state(
        lineage.snapshot_rows(spark, checkpoint_path, snap)
    )
    return {
        "run_id": run_id,
        "state": "done" if complete else "partial",
        "snapshot_id": snap,
        "partitions": len(won),
        "expected_partitions": expected,
        "rows": sum(r["row_count"] for r in won.values()),
        "error_rows": sum(r["error_count"] or 0 for r in won.values()),
    }


def result(
    spark: SparkSession,
    output_path: str,
    checkpoint_path: str,
    run_id: str,
) -> DataFrame:
    """Fetch a job's extracted rows (GET /result/{id} analog): all
    committed partitions of the run's latest snapshot.  Raises
    ``ValueError`` for an unknown run id or missing checkpoint (the
    404 analog — one exception type for every not-found case)."""
    snap = _latest_snapshot(spark, checkpoint_path, run_id)
    if snap is None:
        raise ValueError(f"unknown run_id: {run_id}")
    # committed pids of the SNAPSHOT, not just this run's rows — a
    # resumed job's result is the union of every contributing run
    pids = sorted(
        {r["pid"] for r in lineage.snapshot_rows(spark, checkpoint_path, snap)}
    )
    out = spark.read.parquet(lineage.snapshot_output_dir(output_path, snap))
    return out.filter(F.col("pid").isin(pids)).select(
        "pid", *(c for c in out.columns if c != "pid")
    )
