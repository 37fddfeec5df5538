"""Closed-loop benchmark of the extraction job and the query registry.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 16 --trace 0

One client runs one op at a time on a fresh ``local[<cores>]`` session
(cores = the CPUs this process may use).  A run sets up (session,
inputs, oracle, two warm-up ops), then runs ops until ``--seconds`` have
passed and, for ``registry_olap``, the current pass is whole.  Each
op's output is checked against its oracle outside the timed region.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reruns the ops with Spark's event log on and
reports the per-layer metrics of ``layers.py``.  The exit code is 1 when
any output was wrong.  Everything the run writes lives under
``perfbench/.work`` and is deleted at exit, except the DuckDB oracle
hash cache.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
MIN_OPS = 2
# the op time keeps falling for the first two ops of a fresh JVM
# (JIT, Python worker pool): both run untimed, inside setup_s
WARMUP_OPS = 2


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, cores: int, event_log: str | None = None):
    """``session.build_session`` with its scratch, warehouse and, when
    traced, event log in the run's work dir, after its first job."""
    from ocr_document_recognition_service_spark.session import build_session

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.eventLog.enabled": str(event_log is not None).lower(),
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        extra.update({
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(app_name="perfbench", cores=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()  # the first job pays JVM-side start-up
    return spark


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: it lives on
    after ``spark.stop()`` until its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def _failed(exc: Exception):
    """The check of an op that raised: a failed op counts, not fatal."""
    return lambda: (0, f"{type(exc).__name__}: {exc}")


def run_ops(wl, seconds: float, wrap=None) -> dict:
    """Run ``wl``'s ops until ``seconds`` have passed (and at least
    ``MIN_OPS`` ops, ending on a whole pass); check each outside the
    timing.  ``wrap(op)`` runs each timed call (tracing uses it)."""
    walls: list[float] = []
    items = failed = 0
    errors: list[str] = []
    t_start = time.perf_counter()
    for op in wl.ops():
        t0 = time.perf_counter()
        try:
            check = op() if wrap is None else wrap(op)
        except Exception as exc:
            check = _failed(exc)
        walls.append(time.perf_counter() - t0)
        try:
            got, err = check()
        except Exception as exc:
            got, err = _failed(exc)()
        items += got
        if err is not None:
            failed += 1
            errors.append(err)
        done = time.perf_counter() - t_start >= seconds and len(walls) >= MIN_OPS
        if done and wl.pass_done:
            break
    return {"walls": walls, "items": items, "failed": failed, "errors": errors}


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests since
    boot (``/proc/stat``): a noisy-neighbour gauge for the info line."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def highest_percentile(n: int) -> str:
    """The highest of p50/p90/p99 with at least ten samples beyond it."""
    best = "none"
    for p in (50, 90, 99):
        if n * (100 - p) / 100 >= 10:
            best = f"p{p}"
    return best


def setup(wl, work: str, event_log: str | None = None):
    """Prepare inputs and oracle, start the session, write the inputs
    and run the checked warm-up ops; returns (spark, phase seconds,
    warm-up errors)."""
    phases = {}
    t0 = time.perf_counter()
    wl.prepare()
    phases["prepare"] = time.perf_counter() - t0
    spark = start_session(work, _cores(), event_log)
    phases["session"] = time.perf_counter() - t0 - sum(phases.values())
    wl.inputs(spark)
    phases["inputs"] = time.perf_counter() - t0 - sum(phases.values())
    errors = warm_up(wl, WARMUP_OPS)
    phases["warmup"] = time.perf_counter() - t0 - sum(phases.values())
    return spark, phases, errors


def warm_up(wl, n: int) -> list[str]:
    """Run ``n`` checked warm-up ops; returns their errors."""
    errors = []
    for _ in range(n):
        try:
            err = wl.warmup()()[1]
        except Exception as exc:
            err = _failed(exc)()[1]
        if err is not None:
            errors.append(f"warm-up: {err}")
    return errors


def counts(r: dict, warm_errors: list[str]) -> dict:
    """Result counts; the warm-up ops are attempted ops too."""
    return {"attempted": len(r["walls"]) + WARMUP_OPS,
            "failed": r["failed"] + len(warm_errors)}


def end_to_end(wl, args, work: str) -> tuple[dict, dict]:
    steal0 = cpu_steal_s()
    spark, phases, warm_errors = setup(wl, work)
    try:
        r = run_ops(wl, args.seconds)
    finally:
        spark.stop()
    walls = r["walls"]
    res = counts(r, warm_errors)
    res["info"] = {
        "ops": len(walls),
        "op_fail_frac": res["failed"] / res["attempted"],
        "highest_percentile_with_10_beyond": highest_percentile(len(walls)),
        "op_walls_s": [round(w, 3) for w in walls],
        "setup_phases_s": {k: round(v, 2) for k, v in phases.items()},
        "cpu_steal_s": round(cpu_steal_s() - steal0, 2),
        "errors": warm_errors + r["errors"],
    }
    metrics = {
        "setup_s": (sum(phases.values()), "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "items_per_s": (r["items"] / sum(walls), "1/s"),
    }
    return metrics, res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_ROOT)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM (the spark-submit launcher included) writes its perf-data
    # file to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    tempfile.tempdir = None  # re-read TMPDIR: pydeps zips into it
    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads  # the program's imports fail outside a checkout

        cls = workloads.WORKLOADS.get(args.workload)
        if cls is None:
            ap.error(f"unknown workload {args.workload!r}; "
                     f"one of {sorted(workloads.WORKLOADS)}")
        wl = cls(args.seed, work, _cores())
        if args.trace:
            import layers

            metrics, res = layers.traced(wl, args, work)
        else:
            metrics, res = end_to_end(wl, args, work)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print("info " + json.dumps(res.pop("info")), flush=True)
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
