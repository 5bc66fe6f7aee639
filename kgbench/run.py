#!/usr/bin/env python3
"""KG construction + DQA benchmark: two seeded workloads on local[4].

    python3 kgbench/run.py --workload construct|assess|all \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. One process per
workload: it generates the inputs from ``--seed``, starts the Spark session
through ``session.get_spark`` (``main.main``'s own ``get_spark`` call then
returns that session), runs one warm-up operation, and then repeats the
workload's operation until ``--seconds`` of operations have passed and at
least the workload's ``min_ops`` ran (three constructions, two ``dqa``
calls), so that ``run_s`` never rests on one call. Before each timed
operation the driver's and the JVM's garbage is collected, outside the
timing. Every operation's output is checked (see ``workloads.py``).

With ``--trace 0`` the last line of stdout is a JSON object whose metrics
are the end-to-end ones: ``setup_s`` (session start plus the warm-up
operation), ``run_s`` (median engine time of one operation),
``triples_per_s`` and ``peak_rss_mb`` (the summed peak resident sizes,
``VmHWM``, of this process and all its descendants, the JVM and the
Python workers, read at the end of the first timed operation). With
``--trace 1`` the run also writes Spark's event log, wraps each engine
layer in a span that sets the Spark job group, and reports
per-layer counters instead (``layers.py``, ``eventlog.py``); the traced
assess run also folds its graph through ``dqa-append``. ``--workload all``
runs each workload in its own process, one after the other, and prints a
summary.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# A 1 GB JVM heap holds these inputs with room to spare, keeps the JVM's
# resident size (most of peak_rss_mb) from varying with heap growth between
# runs, and leaves memory to the other tenants of a shared machine.
DRIVER_MEM = "1g"
WORKLOADS = ("construct", "assess")
MB = 1024 * 1024

END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "triples_per_s": "triples/s",
                    "peak_rss_mb": "MB"}
LAYER_UNITS = {"wall_s": "s", "jobs": "count", "task_s": "s", "cpu_s": "s",
               "python_s": "s", "input_mb": "MB", "shuffle_mb": "MB",
               "spill_mb": "MB", "gc_s": "s", "peak_exec_mb": "MB",
               "utilization": "ratio"}
EXTRA_UNITS = {"read.scan_ratio": "ratio", "trace.unattributed_s": "s",
               "trace.overhead_s": "s", "construct.n4n_eff": "ratio",
               "append.delta_p50_s": "s"}


def _tree_hwm(root: int) -> int:
    """Summed peak resident bytes (``VmHWM``) of ``root`` and every
    descendant, from /proc.

    The kernel keeps each process's peak, so nothing has to sample while
    the operations run. A child of the JVM that still has the JVM's command
    line is a process the JVM is spawning (a shell command of the Hadoop
    file system) caught before its exec: it shares the JVM's memory, so it
    is not counted."""
    parent, hwm, cmd = {}, {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/status") as f:
                hwm[pid] = next((int(line.split()[1]) * 1024 for line in f
                                 if line.startswith("VmHWM:")), 0)
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd[pid] = f.read()
        except (OSError, IndexError, ValueError):
            continue
        parent[pid] = ppid
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        argv = cmd.get(pid, b"")
        if not (argv == cmd.get(parent.get(pid))
                and b"java" in argv.split(b"\0", 1)[0]):
            total += hwm.get(pid, 0)
        todo.extend(c for c, p in parent.items() if p == pid)
    return total


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``; give the Python
    workers the engine on their path."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def start_session(work: str, cores: int, events: str | None = None):
    from shacl_dqa_prototype_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if events:
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": events,
                     # Spark 4 compresses with zstd by default; the stdlib
                     # cannot read that
                     "spark.eventLog.compress": "false"})
    spark = get_spark("kgbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, fn):
        """Run one operation; count its engine calls and failed checks. An
        exception fails the operation and ends the timed loop."""
        try:
            res = fn()
        except Exception:
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            return None
        print("engine calls (s):", " ".join(f"{c:.2f}" for c in res.calls),
              file=sys.stderr)
        self.attempted += len(res.calls)
        self.failed += len(res.failures)
        for msg in res.failures:
            print(f"CHECK FAILED: {msg}", file=sys.stderr)
        return res


def settle(spark) -> None:
    """Collect the garbage earlier operations left in the driver and the
    JVM, outside the timed section, so that each operation starts from a
    clean heap as a fresh ``main.py`` process would."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def timed(fn, spark, seconds: float, min_ops: int, tally: Tally,
          after_first=None) -> list:
    """Repeat ``fn`` until ``seconds`` of operations have passed and at
    least ``min_ops`` ran; the time spent settling between operations does
    not count."""
    ops, spent = [], 0.0
    while True:
        settle(spark)
        t0 = time.time()
        res = tally.run(fn)
        spent += time.time() - t0
        if res is None:
            break
        ops.append(res)
        if after_first is not None and len(ops) == 1:
            after_first()
        if spent >= seconds and len(ops) >= min_ops:
            break
    return ops


def make_workload(name: str, work: str, seed: int):
    import workloads

    if name == "construct":
        return workloads.Construct(work, seed)
    return workloads.Assess(work, seed, CORES)


def end_to_end(ops: list, setup_s: float, peak_rss: int) -> dict:
    run_s = statistics.median(sum(o.calls) for o in ops) if ops else 0.0
    triples = ops[0].triples if ops else 0
    return {"setup_s": setup_s, "run_s": run_s,
            "triples_per_s": triples / run_s if run_s else 0.0,
            "peak_rss_mb": peak_rss / MB}


def per_layer(log_dir: str, window: tuple[float, float], tracer, layers: list[str],
              passes: int, engine_s: float) -> tuple[dict, float, list]:
    """Per-operation layer metrics for the jobs submitted inside ``window``,
    the engine time no span covers, and the jobs in the window."""
    import eventlog

    jobs = [j for j in eventlog.read_jobs(log_dir)
            if window[0] <= j.submit_s <= window[1]]
    totals, orphans = eventlog.rollup(jobs, tracer.spans, layers, CORES)
    for j in orphans:
        print(f"unattributed job {j.job_id} group={j.group} {j.wall_s:.3f}s",
              file=sys.stderr)
    out = {f"{layer}.{name}": value / (1 if name in ("peak_exec_mb", "utilization")
                                       else passes)
           for layer, metrics in totals.items() for name, value in metrics.items()}
    covered = sum(m["wall_s"] for m in totals.values())
    return out, max(0.0, engine_s - covered) / passes, jobs


def traced(wl, spark, work: str, seconds: float, tally: Tally) -> dict:
    """Per-layer metrics: traced operations for ``seconds``, rolled up from
    the event log, then one untraced operation as the overhead baseline.
    The assess run then folds its graph through ``dqa-append`` once, traced,
    for the apply and rescore layers."""
    import workloads
    from layers import (APPEND_ENTRY_POINTS, APPEND_LAYERS, CONSTRUCT_LAYERS,
                        DQA_ENTRY_POINTS, DQA_LAYERS, LAYERS, Tracer)

    tracer = Tracer(spark)
    if wl.name == "construct":
        def op():
            return wl.op(spark, stages=in_spans(tracer))
    else:
        def op():
            with tracer.patched(DQA_ENTRY_POINTS):
                return wl.op(spark)
    t_start = time.time()
    # one operation is enough for counters no bound gates; the local[1] and
    # append passes below already make this the longest run
    ops = timed(op, spark, seconds, 1, tally)
    window = (t_start, time.time())
    settle(spark)
    base = tally.run(lambda: wl.op(spark))
    passes = max(1, len(ops))
    t4 = statistics.median(sum(o.calls) for o in ops) if ops else 0.0
    engine_s = sum(sum(o.calls) for o in ops)
    out = {f"{layer}.{name}": 0.0 for layer in LAYERS for name in LAYER_UNITS}
    extra = {name: 0.0 for name in EXTRA_UNITS}
    if base and ops:
        extra["trace.overhead_s"] = t4 - sum(base.calls)
    events = os.path.join(work, "events")
    if wl.name == "construct":
        # the same staged operation at local[1]: N→4N = t1 / (4 · t4)
        spark.stop()  # flushes the event log
        spark1 = start_session(work, 1, os.path.join(work, "events1"))
        tally.run(lambda: wl.op(spark1))  # warm the new session's workers
        tracer1 = Tracer(spark1)
        one = tally.run(lambda: wl.op(spark1, stages=in_spans(tracer1)))
        if one and t4:
            extra["construct.n4n_eff"] = sum(one.calls) / (CORES * t4)
        spark1.stop()
        layers, unattributed, _ = per_layer(events, window, tracer,
                                            CONSTRUCT_LAYERS, passes, engine_s)
        out.update(layers)
        extra["trace.unattributed_s"] = unattributed
        print("construct local[1]/local[4] wall per stage:",
              _stage_speedups(tracer1.spans, layers))
    else:
        append = workloads.Append(os.path.join(work, "append"), wl.kg, CORES)
        tracer_a = Tracer(spark)
        t_a = time.time()
        with tracer_a.patched(APPEND_ENTRY_POINTS):
            fold = tally.run(lambda: append.op(spark))
        window_a = (t_a, time.time())
        spark.stop()  # flushes the event log
        layers, unattributed, jobs = per_layer(events, window, tracer, DQA_LAYERS,
                                               passes, engine_s)
        out.update(layers)
        extra["trace.unattributed_s"] = unattributed
        extra["read.scan_ratio"] = (sum(j.input_bytes for j in jobs) / passes
                                    / wl.input_bytes())
        if fold:
            layers, _, _ = per_layer(events, window_a, tracer_a, APPEND_LAYERS,
                                     1, sum(fold.calls))
            out.update(layers)
            extra["append.delta_p50_s"] = statistics.median(fold.calls)
    out.update(extra)
    return out


def _stage_speedups(spans1, layers4: dict) -> str:
    from layers import CONSTRUCT_LAYERS

    parts = []
    for layer in CONSTRUCT_LAYERS:
        wall1 = sum(sp.end - sp.start for sp in spans1 if sp.layer == layer)
        wall4 = layers4[f"{layer}.wall_s"]
        if wall4 > 0:
            parts.append(f"{layer} {wall1 / wall4:.2f}x")
    return ", ".join(parts)


def in_spans(tracer):
    """``stages`` callback for ``Construct.op``: each stage in its own span."""
    def run(layer: str, call) -> None:
        with tracer.span(layer):
            call()
    return run


def run_one(args) -> int:
    if not (os.path.isfile(os.path.join(ROOT, "main.py"))
            and os.path.isdir(os.path.join(ROOT, "shacl_dqa_prototype_spark"))):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    tally = Tally()
    peak = []
    try:
        wl = make_workload(args.workload, work, args.seed)
        t0 = time.time()
        spark = start_session(work, CORES,
                              os.path.join(work, "events") if args.trace else None)
        session_s = time.time() - t0
        wl.prepare(spark)
        t1 = time.time()
        tally.run(lambda: wl.op(spark))  # warm-up, counted in setup_s
        setup_s = session_s + time.time() - t1
        if args.trace:
            metrics = traced(wl, spark, work, args.seconds, tally)
            units = {**{k: LAYER_UNITS[k.split(".", 1)[1]]
                        for k in metrics if k not in EXTRA_UNITS}, **EXTRA_UNITS}
        else:
            # memory peak up to the end of the first timed operation: a
            # fixed amount of work, however many operations fit the time
            ops = timed(lambda: wl.op(spark), spark, args.seconds, wl.min_ops,
                        tally, lambda: peak.append(_tree_hwm(os.getpid())))
            metrics = end_to_end(ops, setup_s, peak[0] if peak else 0)
            units = END_TO_END_UNITS
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for name, value in metrics.items():
        print(f"{args.workload:9s} {name:28s} {value:14.4f} {units[name]}")
    frac = tally.failed / max(1, tally.attempted)
    verdict = "PASS" if tally.failed == 0 else "FAIL"
    print(f"{args.workload:9s} correctness {verdict}: attempted {tally.attempted}, "
          f"failed {tally.failed}, failed_op_frac {frac:.4f}")
    print(json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": max(1, tally.attempted),
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; one summary at the end."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            total["metrics"][f"{name}.{k}"] = v
    print(json.dumps(total))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
