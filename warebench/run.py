#!/usr/bin/env python3
"""Run one benchmark workload once and print its metrics.

    python3 warebench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``, together with the tracing overhead measured between the
traced and untraced legs of the same run). A detail record with every op, the warm-up pass times and
the noise diagnostics goes to ``warebench/.out/``. Exits 2 without a result
when the engine or the inputs are missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, ".out")
sys.path.insert(0, HERE)


def _status_kb(pid, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _steal_s() -> float:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _noise() -> dict:
    return {"steal_s": _steal_s(), "loadavg": list(os.getloadavg()),
            "time": time.time()}


def _spark_env(run_dir: str, trace: bool) -> None:
    """Keep Spark's temporary files inside the run directory and, when tracing,
    turn on the plain-JSON event log."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    confs = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f'--conf "{k}={v}"' for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    os.environ["TMPDIR"] = tmp
    # the launcher JVM of spark-submit would write its perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # IVF centroids train on a sample; keep that read inside the checkout
    os.environ["SPARK_GRAFT_IVF_SAMPLE"] = os.path.join(
        HERE, "data", "sf0.01", "embeddings.parquet")
    # Python UDF workers import the engine package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _live_jvm_bytes(jvm, settle: int = 3, rounds: int = 10) -> dict:
    """Heap and non-heap memory (metaspace, code cache) the JVM still uses
    once full collections stop freeing heap.

    One collection is not enough: objects that finalizers, cleaners, Spark's
    ContextCleaner and py4j (for Python proxies caught in reference cycles)
    release only after a collection has found them unreachable wait for a
    later one. Over runs that held the same ~92 MB of live objects, the heap
    after one or two collections read anywhere from 93 to 450 MB, and it can
    stay level for two rounds before it drops. So this collects, waits half
    a second, and repeats until ``settle`` readings in a row agree within 1%.
    """
    import gc

    gc.collect()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap: list[int] = []
    while len(heap) < rounds:
        mx.gc()
        time.sleep(0.5)
        heap.append(mx.getHeapMemoryUsage().getUsed())
        last = heap[-settle:]
        if len(last) == settle and max(last) <= 1.01 * min(last):
            break
    return {"heap": heap[-1], "non_heap": mx.getNonHeapMemoryUsage().getUsed(),
            "heap_rounds": heap}


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(run, ok: list[bool]) -> dict:
    import stats

    lat = [op["latency_s"] for op in run.ops]
    tail, pct, n = stats.tail(lat)
    window = run.ops[-1]["end"] - run.ops[0]["start"]
    run.extra["tail"] = {"percentile": pct, "n": n}
    m = {
        "setup_s": (run.ops[0]["start"] - run.t_start - run.bench_own_s, "s"),
        "latency_p50_s": (stats.median(lat), "s"),
        "latency_tail_s": (tail, "s"),
        "ops_per_s": (len(run.ops) / window, "1/s"),
        "ok_rate": (stats.ok_rate(ok), "ratio"),
        "live_mem_mb": ((run.extra["live_jvm_bytes"]["heap"]
                         + run.extra["live_jvm_bytes"]["non_heap"]) / 2**20, "MB"),
        "write_amp": (run.extra["write_amp"], "ratio"),
        "space_amp": (run.extra["space_amp"], "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run, events: dict[int, dict]) -> dict:
    """Every per-layer metric of BENCHMARK.json, from the traced legs; 0
    where this workload does not run the layer."""
    import eventlog
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer"]
    vals = dict.fromkeys((m["name"] for m in spec), 0.0)
    traced = [op for op in run.ops if op["traced"]]
    ops = [op for op in traced if op["error"] is None]
    for key in ("session.get_spark_s", "io.table_s", "bench.warmup_s",
                "sources.fact_maintenance.init_full_s", "sources.sinks.live_bytes"):
        vals[key] = float(run.extra.get(key, 0.0))
    by_name: dict[str, list] = {}
    by_module: dict[str, list] = {}
    for op in ops:
        if "build_s" in op:
            by_name.setdefault(op["name"], []).append(op)
            by_module.setdefault(workloads.module_of(op["name"]), []).append(op)
    for part in ("build_s", "exec_s"):
        for name, group in by_name.items():
            if workloads.module_of(name) == "plans.olap":
                vals[f"plans.olap.{name}.{part}"] = _mean(op[part] for op in group)
        for mod, group in by_module.items():
            vals[f"{mod}.{part}"] = _mean(op[part] for op in group)
    if run.workload == "ingest":
        tr = run.tracer
        for q in workloads.SERVED_QUERIES:
            per_op = tr.totals(f"serve.{q}.exec")
            vals[f"serve.{q}.exec_s"] = _mean(per_op[op["id"]] for op in ops)
        vals["sources.fact_maintenance.apply_s"] = _mean(op["apply_s"] for op in ops)
        vals["sources.fact_maintenance.serve_s"] = _mean(op["serve_s"] for op in ops)
        vals["sources.sinks.vacuum_s"] = _mean(op["vacuum_s"] for op in traced)
        vals["sources.sinks.bytes_written"] = _mean(op["bytes_written"] for op in ops)
        vals["sources.sinks.rows_rewritten_per_changed_row"] = (
            sum(op["rows_written"] for op in ops)
            / max(1, sum(op["changed_rows"] for op in ops)))
    ev = [events[op["id"]] for op in traced if op["id"] in events]
    if ev:
        for field in eventlog.FIELDS:
            vals[f"spark.{field}"] = _mean(e[field] for e in ev)
        rows = sum(op["rows"] for op in traced)
        vals["spark.scan_rows_per_result_row"] = (
            sum(e["scan_rows"] for e in ev) / max(1, rows))
        cores = len(os.sched_getaffinity(0))
        vals["spark.busy_frac"] = (sum(e["task_run_s"] for e in ev)
                                   / (sum(op["latency_s"] for op in traced) * cores))
    # means, not medians: both kinds of leg run the same query mix, so this
    # is the ratio of their pass times
    vals["bench.trace_overhead_frac"] = (
        _mean(op["latency_s"] for op in traced)
        / _mean(op["latency_s"] for op in run.ops if not op["traced"]) - 1)
    units = {m["name"]: m["unit"] for m in spec}
    return {k: {"value": v, "unit": units[k]} for k, v in vals.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="the nominal run length; recorded only, since each "
                         "workload makes a fixed number of ops")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import inputs

    missing = [p for p in ("datawarehouse_project_spark/__init__.py", "BENCHMARK.json")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing or not inputs.base_tables_present():
        print(f"warebench: cannot run here: missing {missing or inputs.BASE_DIR}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"warebench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    # run directories left by runs that were killed before their cleanup
    for stale in glob.glob(os.path.join(HERE, ".run", "*-*")):
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)
    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _spark_env(run_dir, trace)
    noise_start = _noise()
    run = workloads.Run(args.workload, args.seed, trace, run_dir, T_START)
    try:
        check = workloads.WORKLOADS[args.workload](run)
        jvm = run.spark.sparkContext._jvm
        run.extra["peak_rss_kb"] = (_status_kb(jvm.java.lang.ProcessHandle.current().pid(),
                                               "VmHWM") + _status_kb("self", "VmHWM"))
        run.extra["live_jvm_bytes"] = _live_jvm_bytes(jvm)
        noise_end = _noise()
        ok = check()
        _stop_spark(run.spark)
        run.spark = None
        landed = sum(op.get("landed_bytes", 0) for op in run.ops)
        written = sum(op.get("bytes_written", 0) for op in run.ops)
        if not landed:
            # nothing lands in the window: count the tables the benchmark
            # placed under the root as the landed bytes
            landed, written = run.placed_bytes, run.ledger.take()
        run.extra["write_amp"] = (landed + written) / landed
        on_disk = inputs.dir_bytes(run.table_root)
        run.extra["space_amp"] = on_disk / run.extra.get("snapshot_bytes", on_disk)
        events = {}
        if trace:
            import eventlog

            for path in glob.glob(os.path.join(run_dir, "eventlog", "*")):
                events.update(eventlog.parse_file(path))
    finally:
        if run.spark is not None:
            _stop_spark(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = per_layer(run, events) if trace else end_to_end(run, ok)
    failed = sum(1 for x in ok if not x)
    result = {"correct": failed == 0, "attempted": len(ok), "failed": failed,
              "metrics": metrics}
    os.makedirs(OUT_DIR, exist_ok=True)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "metrics": metrics,
        "noise": {"start": noise_start, "end": noise_end,
                  "steal_s": noise_end["steal_s"] - noise_start["steal_s"]},
        "warmup_pass_s": run.warmup_pass_s,
        "extra": run.extra,
        "ops": [{k: v for k, v in op.items() if k not in ("start", "end")}
                for op in run.ops],
        "ok": ok,
    }
    stem = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    with open(os.path.join(OUT_DIR, stem + ".json"), "w") as fh:
        json.dump(detail, fh, default=str)
    if trace:
        with open(os.path.join(OUT_DIR, stem + ".spans.jsonl"), "w") as fh:
            for span in run.tracer.spans:
                fh.write(json.dumps(span) + "\n")
    else:
        t = run.extra["tail"]
        print(f"latency_tail_s is p{t['percentile']:.1f} of n={t['n']} ops")
    print(f"warm-up passes (s): {[round(x, 2) for x in run.warmup_pass_s]}; "
          f"detail: {os.path.relpath(os.path.join(OUT_DIR, stem + '.json'), ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
