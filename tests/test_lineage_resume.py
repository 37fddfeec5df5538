"""Kill-and-resume lineage tests (SURVEY §5.2 item 5, FIXTURES §4)."""

import os
import shutil

import pytest

from ocr_document_recognition_service_spark import lineage

pytestmark = pytest.mark.spark

P = 8
# Spark jobs of one jobs.submit + jobs.status at the default 64
# partitions on the 400-doc fixture (27 when every checkpoint read was
# a Spark query)
JOB_BUDGET = 9


def test_snapshot_id_stable_and_content_sensitive(pages_parquet, tmp_path):
    a = lineage.snapshot_id_of(pages_parquet)
    assert a == lineage.snapshot_id_of(pages_parquet)
    other = tmp_path / "other.parquet"
    other.write_bytes(b"x" * 10)
    assert lineage.snapshot_id_of(str(other)) != a


def test_kill_and_resume_processes_only_remainder(spark, pages_parquet, tmp_path):
    out_full = str(tmp_path / "out_full")
    ck_full = str(tmp_path / "ck_full")
    r = lineage.run_extraction(
        spark, pages_parquet, out_full, ck_full, "run-full",
        num_partitions=P, salt_threshold=16 * 1024,
    )
    assert r["partitions_processed"] == P
    assert r["rows"] == 400
    full_md5 = lineage.global_md5(spark, out_full)

    # simulated kill: first run commits only 3 of 8 partitions
    out = str(tmp_path / "out_resume")
    ck = str(tmp_path / "ck_resume")
    r1 = lineage.run_extraction(
        spark, pages_parquet, out, ck, "run-a",
        num_partitions=P, salt_threshold=16 * 1024, limit_partitions=3,
    )
    assert r1["partitions_processed"] == 3

    # resume: must process exactly the remaining 5
    r2 = lineage.run_extraction(
        spark, pages_parquet, out, ck, "run-b",
        num_partitions=P, salt_threshold=16 * 1024,
    )
    assert r2["partitions_processed"] == P - 3
    assert r1["rows"] + r2["rows"] == 400

    # byte-level equivalence with the from-scratch run
    assert lineage.global_md5(spark, out) == full_md5

    # per-partition md5s agree between the two histories
    ckdf = spark.read.parquet(ck).select("pid", "output_md5")
    fulldf = spark.read.parquet(ck_full).select("pid", "output_md5")
    assert sorted(map(tuple, ckdf.collect())) == sorted(map(tuple, fulldf.collect()))

    # idempotence: a third run over a fully-committed snapshot is a no-op
    r3 = lineage.run_extraction(
        spark, pages_parquet, out, ck, "run-c",
        num_partitions=P, salt_threshold=16 * 1024,
    )
    assert r3["partitions_processed"] == 0
    assert lineage.global_md5(spark, out) == full_md5


def test_snapshot_isolation_same_output_dir(spark, pages_parquet, tmp_path):
    """A new input snapshot writing to the SAME output dir must not
    destroy the previous snapshot's committed data (review finding:
    dynamic overwrite would have silently replaced it)."""
    from ocr_document_recognition_service_spark import gen_pages

    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    rA = lineage.run_extraction(
        spark, pages_parquet, out, ck, "run-A", num_partitions=P
    )
    md5_A = lineage.global_md5(spark, out, snapshot_id=rA["snapshot_id"])

    src_b = str(tmp_path / "pagesB.parquet")
    gen_pages.write_pages_parquet(src_b, 150, seed=7)
    rB = lineage.run_extraction(
        spark, src_b, out, ck, "run-B", num_partitions=P
    )
    assert rB["snapshot_id"] != rA["snapshot_id"]
    assert rB["rows"] == 150

    # snapshot A's data is intact and its lineage still true
    assert lineage.global_md5(spark, out, snapshot_id=rA["snapshot_id"]) == md5_A
    # resume of snapshot A remains a no-op (all partitions committed)
    rA2 = lineage.run_extraction(
        spark, pages_parquet, out, ck, "run-A2", num_partitions=P
    )
    assert rA2["partitions_processed"] == 0


def test_crash_between_write_and_commit_no_duplicates(
    spark, pages_parquet, tmp_path
):
    """Crash injection: data written but lineage never committed →
    resume rewrites the orphaned partitions; no duplicate rows, final
    output byte-equal to a clean run."""
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    r1 = lineage.run_extraction(
        spark, pages_parquet, out, ck, "run-a",
        num_partitions=P, salt_threshold=16 * 1024, limit_partitions=2,
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        lineage.run_extraction(
            spark, pages_parquet, out, ck, "run-crash",
            num_partitions=P, salt_threshold=16 * 1024,
            fail_before_commit=True,
        )
    # orphaned pid dirs exist on disk but are NOT committed
    assert spark.read.parquet(out).count() == 400  # data all present
    # resume trusts lineage only: reprocesses the 6 uncommitted pids
    r2 = lineage.run_extraction(
        spark, pages_parquet, out, ck, "run-b",
        num_partitions=P, salt_threshold=16 * 1024,
    )
    assert r2["partitions_processed"] == P - 2
    assert r1["rows"] + r2["rows"] == 400
    df = spark.read.parquet(out)
    assert df.count() == 400
    assert df.select("url").distinct().count() == 400  # no duplicates


def test_contended_commit_two_driver_race(spark, pages_parquet, tmp_path):
    """r6 (r5 verdict #7): two drivers race the same snapshot.  Driver
    A reads the committed set (empty), then — in the conflict window
    between that read and A's lineage append — driver B commits the
    whole snapshot.  Exactly-once output must hold (byte-identical to
    a single run), B's rows must win canonically, and A must fail
    LOUDLY instead of silently double-committing."""
    out = str(tmp_path / "out_race")
    ck = str(tmp_path / "ck_race")

    ref_out = str(tmp_path / "out_ref")
    lineage.run_extraction(
        spark, pages_parquet, ref_out, str(tmp_path / "ck_ref"), "ref",
        num_partitions=P, salt_threshold=16 * 1024,
    )
    want_md5 = lineage.global_md5(spark, ref_out)

    def rival():
        # driver B: full clean run committing every partition while A
        # sits between its committed-set read and its lineage append
        r = lineage.run_extraction(
            spark, pages_parquet, out, ck, "driver-b",
            num_partitions=P, salt_threshold=16 * 1024,
        )
        assert r["partitions_processed"] == P

    with pytest.raises(RuntimeError, match="commit race lost"):
        lineage.run_extraction(
            spark, pages_parquet, out, ck, "driver-a",
            num_partitions=P, salt_threshold=16 * 1024, race_hook=rival,
        )

    # exactly-once OUTPUT: both racers wrote identical pid dirs
    assert lineage.global_md5(spark, out) == want_md5

    snap = lineage.snapshot_id_of(pages_parquet)
    canon = lineage.canonical_lineage(spark, ck, snap).collect()
    # one canonical row per pid, all owned by the first committer (B);
    # the loser detected the overwritten pid files mid-commit and
    # aborted WITHOUT appending any lineage rows
    assert len(canon) == P
    assert {r["pid"] for r in canon} == set(range(P))
    assert {r["run_id"] for r in canon} == {"driver-b"}
    raw = spark.read.parquet(ck)
    assert raw.count() == P

    # a later resume sees a fully-committed snapshot: clean no-op
    r = lineage.run_extraction(
        spark, pages_parquet, out, ck, "driver-c",
        num_partitions=P, salt_threshold=16 * 1024,
    )
    assert r["partitions_processed"] == 0
    assert lineage.global_md5(spark, out) == want_md5


def test_contended_commit_rival_adopts_orphans(spark, pages_parquet, tmp_path):
    """Rival scoped to 3 partitions races into the window AFTER the
    victim's data write: per the documented crash-recovery contract
    ("a partition is committed iff its lineage row exists; lineage is
    derived from what is durably on disk"), the rival ADOPTS the
    victim's orphaned pid directories — content is deterministic and
    byte-identical, so committing them is correct — and owns the whole
    snapshot.  The victim still fails loudly, output is exactly-once,
    and resume is a clean no-op."""
    out = str(tmp_path / "out_race2")
    ck = str(tmp_path / "ck_race2")

    ref_out = str(tmp_path / "out_ref2")
    lineage.run_extraction(
        spark, pages_parquet, ref_out, str(tmp_path / "ck_ref2"), "ref",
        num_partitions=P, salt_threshold=16 * 1024,
    )
    want_md5 = lineage.global_md5(spark, ref_out)

    def rival():
        # B extracts only 3 pids itself — but A's full data write
        # already landed, so B's commit sweeps up the 5 orphans too
        r = lineage.run_extraction(
            spark, pages_parquet, out, ck, "driver-b",
            num_partitions=P, salt_threshold=16 * 1024,
            limit_partitions=3,
        )
        assert r["partitions_processed"] == P

    with pytest.raises(RuntimeError, match="commit race lost"):
        lineage.run_extraction(
            spark, pages_parquet, out, ck, "driver-a",
            num_partitions=P, salt_threshold=16 * 1024, race_hook=rival,
        )

    snap = lineage.snapshot_id_of(pages_parquet)
    owners = {
        r["pid"]: r["run_id"]
        for r in lineage.canonical_lineage(spark, ck, snap).collect()
    }
    assert len(owners) == P
    assert set(owners.values()) == {"driver-b"}

    # resume: fully committed, clean no-op, byte-identical output
    r = lineage.run_extraction(
        spark, pages_parquet, out, ck, "driver-c",
        num_partitions=P, salt_threshold=16 * 1024,
    )
    assert r["partitions_processed"] == 0
    assert lineage.global_md5(spark, out) == want_md5


def test_vanished_file_error_classifier():
    """r6 ADVICE: commit-race detection matches the STRUCTURED Spark
    error-class field (getCondition/getErrorClass) first, falling back
    to message substrings only for class-less exception shapes — a
    reworded message no longer defeats detection."""

    class WithCondition(Exception):
        def getCondition(self):
            return "FAILED_READ_FILE.FILE_NOT_EXIST"

    class WithErrorClass(Exception):
        def getErrorClass(self):
            return "FAILED_READ_FILE"

    class ClasslessMsg(Exception):
        pass

    class BrokenGetter(Exception):
        def getCondition(self):
            raise RuntimeError("jvm gone")

    assert lineage._is_vanished_file_error(WithCondition("reworded text"))
    assert lineage._is_vanished_file_error(WithErrorClass("reworded text"))
    assert lineage._is_vanished_file_error(
        ClasslessMsg("py4j: ... FILE_NOT_EXIST ...")
    )
    assert not lineage._is_vanished_file_error(ClasslessMsg("schema mismatch"))
    # a broken accessor degrades to the message fallback, never raises
    assert not lineage._is_vanished_file_error(BrokenGetter("other failure"))
    assert lineage._is_vanished_file_error(BrokenGetter("FAILED_READ_FILE"))


def test_submit_and_status_spark_job_budget(spark, pages_parquet, tmp_path):
    """A submit+status at the default 64 partitions starts a bounded
    number of Spark jobs (27 before the commit path read checkpoints
    driver-side), and a resubmit of the committed snapshot only reads
    the checkpoint."""
    from ocr_document_recognition_service_spark import jobs

    sc = spark.sparkContext
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def jobs_of(group, fn, *args):
        sc.setJobGroup(group, group)
        try:
            got = fn(*args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), got

    n_submit, rid = jobs_of(
        "budget-submit", jobs.submit, spark, pages_parquet, out, ck
    )
    n_status, st = jobs_of("budget-status", jobs.status, spark, ck, rid)
    assert st["state"] == "done" and st["rows"] == 400
    assert st["partitions"] == st["expected_partitions"] > 32
    assert n_submit + n_status <= JOB_BUDGET, (n_submit, n_status)

    n_resubmit, _ = jobs_of(
        "budget-resubmit", jobs.submit, spark, pages_parquet, out, ck, rid
    )
    assert n_resubmit <= 1


def test_mixed_schema_checkpoint(spark, pages_parquet, tmp_path):
    """Checkpoint files written before ``error_count`` and
    ``expected_partitions`` existed (and with an int32 ``snapshot_id``
    when the crc32 fits) sit next to current rows: resume skips their
    pids and status counts their rows."""
    from ocr_document_recognition_service_spark import jobs

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    snap = lineage.snapshot_id_of(pages_parquet)
    kw = dict(num_partitions=P, salt_threshold=16 * 1024)

    lineage.run_extraction(
        spark, pages_parquet, out, ck, "run-old", limit_partitions=2, **kw
    )
    current = spark.read.parquet(ck).collect()
    snap_type = "int" if snap < 2**31 else "long"
    legacy = spark.createDataFrame(
        [
            (r["pid"], r["row_count"], r["output_md5"], r["run_id"], snap,
             r["committed_at"])
            for r in current
        ],
        f"pid int, row_count long, output_md5 string, run_id string, "
        f"snapshot_id {snap_type}, committed_at timestamp",
    )
    legacy_ck = str(tmp_path / "legacy")
    legacy.coalesce(1).write.parquet(legacy_ck)
    shutil.rmtree(ck)
    os.makedirs(ck)
    for f in os.listdir(legacy_ck):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(legacy_ck, f), ck)
    legacy_pids = {r["pid"] for r in current}
    legacy_rows = sum(r["row_count"] for r in current)

    st = jobs.status(spark, ck, "run-old")
    assert st["state"] == "partial" and st["partitions"] == 2
    assert st["rows"] == legacy_rows and st["expected_partitions"] is None

    # resume skips the legacy pids, next to which it writes current rows
    r = lineage.run_extraction(
        spark, pages_parquet, out, ck, "run-mid", limit_partitions=3, **kw
    )
    assert r["partitions_processed"] == 3
    mid = {row["pid"] for row in lineage.snapshot_rows(spark, ck, snap)}
    assert len(mid) == 5 and legacy_pids < mid

    r = lineage.run_extraction(spark, pages_parquet, out, ck, "run-new", **kw)
    assert r["partitions_processed"] == P - 5
    assert legacy_rows + sum(
        row["row_count"] for row in lineage.snapshot_rows(spark, ck, snap)
        if row["run_id"] != "run-old"
    ) == 400
    for rid in ("run-old", "run-mid", "run-new"):
        st = jobs.status(spark, ck, rid)
        assert st["state"] == "done", (rid, st)
        assert st["rows"] == 400 and st["partitions"] == P
        assert st["expected_partitions"] == P
    assert jobs.result(spark, out, ck, "run-new").count() == 400
    # and a resubmit of the now complete snapshot is a no-op
    r = lineage.run_extraction(
        spark, pages_parquet, out, ck, "run-again", **kw
    )
    assert r["partitions_processed"] == 0
