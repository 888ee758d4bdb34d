"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 20 --trace 0

Run from the repository root.  One Python process drives one Spark session
at ``local[<cores>]``; the workload is a closed loop with a single client.
The last line of stdout is the result object (``correct``, ``attempted``,
``failed``, ``metrics``): with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics folded from a Spark event log, preceded
by one JSON line per timed operation.  A human-readable summary goes to
stderr.  Every file the run writes lives under ``perfbench/.run/`` and is
removed when the run ends.  Exit status: 0 when every operation succeeded
and every output matched its oracle, 1 otherwise, 2 when the engine is not
importable.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
DRIVER_MEMORY_BYTES = 2 * 1024**3
GENERATE_REPEATS = 3

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "setup.generate_s": "s",
    "setup.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.driver_gap_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.cpu_ratio": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.task_skew": "ratio",
    "exec.input_mb": "MB",
    "exec.failed_tasks": "count",
    "streaming.jobs_per_batch": "count",
    "snapshots.versions_live": "count",
    "snapshots.commit_conflicts": "count",
    "storage.bytes_written_per_input_byte": "ratio",
    "storage.table_files": "count",
    "storage.stored_bytes_per_user_byte": "ratio",
    "trace.ops_per_s": "1/s",
}
# per-operation fold keys averaged over the timed operations
PER_OP = [k for k in LAYER_UNITS if k.split(".")[0] in ("plans", "exec")]
# ingest phases -> the name of their wall time in the per-operation lines.
# These times are per-operation only: as run metrics they would read exactly
# 0 on every corpus_dedup run.
PHASE_WALL = {"clean": "emissions.clean_s", "stream": "streaming.batch_s", "read": "snapshots.read_s"}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(run_dir: str, workload: str, trace: bool):
    from european_emissions_data_warehouse_spark.session import get_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": (
            # a fixed-size heap, so that GC heap sizing does not move peak RSS
            f"-Xms{DRIVER_MEMORY} -Dderby.system.home={run_dir}/derby "
            f"-Djava.io.tmpdir={run_dir}/tmp"
        ),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_session(
        app_name=f"perfbench-{workload}",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits on stdin EOF)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def result_line(metrics: dict, units: dict, attempted: int, failed: int) -> dict:
    """The result object: every metric of ``units``, by name with its unit."""
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def run(args) -> tuple[dict, list[dict]]:
    import eventlog
    from workloads import WORKLOADS, Phases

    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    layers: dict[str, float] = {}
    spark = None
    try:
        import gen

        wl = WORKLOADS[args.workload](args.seed, run_dir)
        gen_times, digests = [], set()
        for i in range(GENERATE_REPEATS):
            out = os.path.join(run_dir, f"inputs{i}")
            t0 = time.perf_counter()
            inputs = wl.generate(out)
            gen_times.append(time.perf_counter() - t0)
            digests.add(gen.digest_dir(out))
        layers["setup.generate_s"] = statistics.median(gen_times)
        for rec in inputs:
            rec["fits_driver_memory"] = rec["bytes"] < DRIVER_MEMORY_BYTES
        print(json.dumps({"inputs": inputs, "driver_memory": DRIVER_MEMORY}), flush=True)
        wl.start_oracle()

        t0 = time.perf_counter()
        spark = start_session(run_dir, args.workload, args.trace)
        layers["session.start_s"] = time.perf_counter() - t0

        phases = Phases(spark)
        t0 = time.perf_counter()
        warm_failed = wl.warmup(spark, phases)
        layers["setup.warmup_s"] = time.perf_counter() - t0

        timed: list[dict] = []
        failed_ops = 0
        t_start = time.perf_counter()
        while True:
            t_cycle = time.perf_counter()
            for name, op in wl.cycle():
                rec = phases.start(len(timed), name)
                t0 = time.perf_counter()
                try:
                    rec.update(op(rec, phases))
                except Exception as exc:  # counted; the run goes on
                    failed_ops += 1
                    rec.update(latency_s=time.perf_counter() - t0, rows=0, failed=True)
                    print(f"perfbench: {name} failed: {exc!r}"[:2000], file=sys.stderr)
                timed.append(rec)
            # whole cycles only (every operation of a cycle weighs the same
            # in the medians); stop when another cycle like the last one
            # would overrun the window
            now = time.perf_counter()
            if now - t_start + (now - t_cycle) > args.seconds:
                break
        window_s = time.perf_counter() - t_start

        t0 = time.perf_counter()
        verdicts = wl.check()
        # the same seed must give the same bytes on every generation
        verdicts["inputs_deterministic"] = len(digests) == 1
        check_s = time.perf_counter() - t0
        layers.update(wl.layers())
        rss = {"python": vm_hwm_mb("self"),
               "jvm": vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())}
        stop_session(spark)
        spark = None

        ok = [r for r in timed if not r.get("failed")]
        lat = sorted(r["latency_s"] for r in ok)
        setup_s = layers["session.start_s"] + layers["setup.generate_s"] + layers["setup.warmup_s"]
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(lat) if lat else float("nan"),
            # warehouse_ingest's window also holds scheduled vacuums, which
            # an operation's freshness does not include
            "ops_per_s": len(ok) / window_s,
            "rows_per_s": sum(r["rows"] for r in ok) / window_s,
            "peak_rss_mb": rss["python"] + rss["jvm"],
        }
        n_failed = failed_ops + len(warm_failed) + sum(not v for v in verdicts.values())
        attempted = len(timed) + len(verdicts)
        summary = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "ops": len(timed), "window_s": window_s, "check_s": check_s,
            "latencies_s": [(r["name"], round(r["latency_s"], 3)) for r in timed],
            "failed_ratio": n_failed / attempted,
            "checks": verdicts, "rss_mb": rss, **e2e,
        }
        if len(lat) >= 100:
            summary["op_p90_s"] = statistics.quantiles(lat, n=10)[-1]
        print(json.dumps(summary), file=sys.stderr)

        if not args.trace:
            metrics = e2e
            ledger = []
        else:
            logs = os.listdir(os.path.join(run_dir, "eventlog"))
            events = eventlog.read_events(os.path.join(run_dir, "eventlog", logs[0]))
            ledger = eventlog.fold(events, timed)
            metrics = {**{k: 0.0 for k in LAYER_UNITS}, **layers}
            for k in PER_OP:
                metrics[k] = statistics.fmean(r[k] for r in ledger)
            stream_jobs = [r["phase.stream_jobs"] for r in ledger if "phase.stream_jobs" in r]
            metrics["streaming.jobs_per_batch"] = statistics.fmean(stream_jobs) if stream_jobs else 0.0
            raw = sum(r.get("raw_bytes", 0) for r in timed)
            if raw:
                written = sum(r["exec.output_mb"] for r in ledger) * eventlog.MB
                metrics["storage.bytes_written_per_input_byte"] = written / raw
            metrics["trace.ops_per_s"] = e2e["ops_per_s"]
            for rec, row in zip(timed, ledger):
                row["latency_s"] = rec["latency_s"]
                for p in rec["phases"]:
                    if p["phase"] in PHASE_WALL:
                        row[PHASE_WALL[p["phase"]]] = (p["t1_ms"] - p["t0_ms"]) / 1000
                if "vacuum_s" in rec:
                    row["snapshots.vacuum_s"] = rec["vacuum_s"]
        return result_line(metrics, LAYER_UNITS if args.trace else E2E_UNITS, attempted, n_failed), ledger
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:  # another run is still using it
            pass


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # the engine is imported from the checkout this file sits in
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import european_emissions_data_warehouse_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    result, ledger = run(args)
    for row in ledger:
        print(json.dumps(row))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
