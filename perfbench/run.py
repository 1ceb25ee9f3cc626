"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from the root of a checkout on local[<cpus>]: builds
the seeded inputs and their oracles in a child process (so their time
and memory are in no metric), starts the session, runs one untimed warm
pass, then times full passes until --seconds have passed and the
workload's min_passes are done, checking every pass's outputs. The last stdout line is the result JSON; the line before it
records provenance.

--trace 1 starts the session with an uncompressed event log and, after
the timed passes, runs one more pass with one job group per span and
/proc CPU readings at each span boundary; it prints the per-layer
metrics instead. trace.overhead_s is that pass's wall time minus the
median untraced pass of the same run (the event log is on for both).

Exit code: 0 when every output matched its oracle, 1 on a mismatch or
engine error, 2 when the checkout lacks the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import the benchmark as the `perfbench` package from the checkout root,
# so its module names cannot shadow the standard library
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path[0] = ROOT
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "1g"


def _preflight() -> None:
    need = ("__spark_entry__.py", "geotiff_tiler_spark/session.py", "tools/check_contract.py")
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write(f"perfbench: engine not found in {ROOT}: missing {missing}\n")
        raise SystemExit(2)


def _git_sha() -> str | None:
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _start_session(cpus: int, event_log: str | None = None):
    from geotiff_tiler_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched and every process under
    it, and wait until all have ended."""
    from pyspark import SparkContext

    from perfbench import procfs

    pids = procfs.tree()[1:]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    _preflight()

    work = os.path.join(ROOT, ".perfbench", "work", args.workload)
    cache = os.path.join(ROOT, ".perfbench", "cache")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers import the engine from the checkout whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # scratch files of the driver, its workers and DuckDB stay in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    from perfbench import procfs
    from perfbench.trace import COUNTS, Tracer, layer_metrics, read_event_log, unit_of
    from perfbench.workloads import ALL_QUERIES, WORKLOADS

    if args.workload not in WORKLOADS:
        sys.stderr.write(f"unknown workload {args.workload}; have {sorted(WORKLOADS)}\n")
        return 2
    cpus = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](ROOT, work, cache, args.seed, args.size)
    quiet = Tracer(traced=False)
    traced = Tracer(traced=True)
    attempted = failed = 0
    problems: list[str] = []

    def checked(out: dict) -> dict:
        nonlocal attempted, failed
        bad = wl.check(out)
        attempted += len(out)
        failed += len(bad)
        problems.extend(bad)
        return out

    spark = None
    try:
        t = time.time()
        subprocess.run(
            [sys.executable, "-m", "perfbench.workloads", args.workload, work, cache, str(args.seed), args.size],
            cwd=ROOT,
            check=True,
        )
        wl.oracles = wl.open_oracles()
        fixture_s = time.time() - t

        log_dir = os.path.join(work, "eventlog") if args.trace else None
        with (traced if args.trace else quiet).span("session", "session.start") as sess:
            spark = _start_session(cpus, event_log=log_dir)
        session_s = sess["end"] - sess["start"]
        t = time.time()
        checked(wl.run_pass(spark, quiet))
        setup_s = session_s + (time.time() - t)

        walls, cpus_s, rates = [], [], []
        last = None
        steal0 = procfs.steal_s()
        t_end = time.time() + args.seconds
        while len(walls) < wl.min_passes or time.time() < t_end:
            c0, t0 = procfs.cpu_total(), time.time()
            last = wl.run_pass(spark, quiet)
            wall = time.time() - t0
            cpus_s.append(procfs.cpu_total() - c0)
            walls.append(wall)
            checked(last)
            rates.append(wl.rows(last) / wall)
        peak = procfs.peak_rss_mb()
        steal = procfs.steal_s() - steal0

        if args.trace:
            traced.sc = spark.sparkContext
            with traced.span(None, "trace.pass") as tp:
                tout = checked(wl.run_pass(spark, traced))
            if wl.counts(tout) != wl.counts(last):
                failed += 1
                problems.append(f"traced counts {wl.counts(tout)} != untraced {wl.counts(last)}")
            _stop(spark)
            spark = None
            metrics = layer_metrics(traced.spans, read_event_log(log_dir))
            for q in ALL_QUERIES:
                metrics[f"query.{q}.s"] = traced.seconds(f"query.{q}")
            for k in COUNTS:
                metrics[k] = float(wl.counts(tout).get(k, 0.0))
            metrics["trace.pass_s"] = tp["end"] - tp["start"]
            metrics["trace.overhead_s"] = metrics["trace.pass_s"] - statistics.median(walls)
            result = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
        else:
            result = {
                "wall_s": {"value": statistics.median(walls), "unit": "s"},
                "output_rows_per_s": {"value": statistics.median(rates), "unit": "1/s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "cpu_s": {"value": statistics.median(cpus_s), "unit": "s"},
                "peak_rss_mb": {"value": peak, "unit": "MB"},
            }
    except Exception as exc:  # engine error: a failed call, reported below
        import traceback

        traceback.print_exc()
        failed += 1
        attempted += 1
        problems.append(f"{type(exc).__name__}: {exc}"[:500])
        result = {}
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    prov = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "trace": args.trace,
        "host": platform.node(),
        "cpus": cpus,
        "master": f"local[{cpus}]",
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": DRIVER_MEMORY,
        "git_sha": _git_sha(),
        "live": True,
        "oracle": wl.oracles and os.path.relpath(wl.oracles.path, ROOT),
        "problems": problems,
    }
    if result and not args.trace:
        prov.update(
            {
                "passes": len(walls),
                "wall_s_samples": [round(w, 4) for w in walls],
                "wall_s_max": max(walls),
                "fixture_s": fixture_s,
                "timed_steal_s": steal,
                "fail_frac": failed / attempted,
            }
        )
    print(json.dumps({"provenance": prov}))
    ok = failed == 0 and bool(result)
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": result}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
