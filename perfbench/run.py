#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload etl_curation --seed 1 --seconds 45 --trace 0

Run from the repository root.  One run is one fresh Python + Spark process
(``local[<cores>]``, shuffle partitions = cores, a private warehouse and
local dir under ``.perfbench/work/``, removed at exit):

1. generate the seeded inputs, or reuse them from ``.perfbench/cache/``
   (not timed: excluded from ``setup_s``);
2. set up: start the session and run the workload's ``prepare``
   ``PREPARE_RUNS`` times; ``setup_s`` is imports + session start + the
   median ``prepare`` (the index build, for the index workload);
3. run the workload's fixed sequence of operations once, timing each and
   checking its output outside the timer;
4. finish (the index workload compacts its index) and check again.

The run length is set by the workload's operation sequence, never by the
clock, so every commit does the same work; ``--seconds`` is accepted and
ignored.  The operations run cold, once per process, as a batch job or a
freshly started service meets them: the first call of each library path
pays its JIT and code generation, which is part of what its user waits for.

With ``--trace 0`` the metrics are the end-to-end ones (``end_to_end``);
the metrics of the source workloads a run covers are printed before them,
by name and unit.  With ``--trace 1`` every operation is traced (spans
around each layer call, Spark stage metrics per span) and the metrics are
the per-layer ones (``layers.py``); one extra operation then runs untraced
and traced to give the tracing overhead, and the spans go to
``.perfbench/traces/``.  Any wrong output or exception sets ``correct``
false and the exit code to 1.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, help="ignored: the workload's operation sequence sets the run length")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _tree_pids() -> list[int]:
    """This process and all its descendants (the driver JVM and its Python
    workers), from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    pids, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo += children.get(pid, [])
    return pids


def peak_rss_mb() -> float:
    """Sum of VmHWM over the process tree."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_s() -> float:
    """CPU seconds used so far by the process tree, reaped children
    included.  Unlike wall time it does not count time the host gives to
    other machines (steal), so it stays steady on a shared host."""
    ticks = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def start_spark(work: str, cores: int, ui: bool):
    from bigdata_rags_spark.session import get_session

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    spark = get_session(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            # keep the JVM's temporary files inside the run's directory
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.enabled": str(ui).lower(),  # the traced run reads stage metrics from its REST API
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "50000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — last resort, then reap
                proc.kill()
                proc.wait()


def run(args, wl_cls, paths: dict[str, str], gen_s: float, work: str) -> tuple[dict, bool]:
    from perfbench.trace import Tracer

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_spark(work, cores, ui=bool(args.trace))
    session_s = time.perf_counter() - t0
    pre_session_s = t0 - T_START - gen_s
    attempted, problems = 0, []
    try:
        tracer = Tracer(spark, enabled=False)
        wl = wl_cls(spark, tracer, paths, work)
        prepare_s = []
        for r in range(wl.PREPARE_RUNS):
            tracer.enabled = bool(args.trace) and r == wl.PREPARE_RUNS - 1
            t = time.perf_counter()
            wl.prepare()
            prepare_s.append(time.perf_counter() - t)
        setup_s = pre_session_s + session_s + statistics.median(prepare_s)

        timed: list[tuple[str, float, float]] = []  # (kind, wall s, CPU s)
        for i, (kind, op, check) in enumerate(wl.operations()):
            tracer.enabled, tracer.request = bool(args.trace), i
            c = cpu_s()
            t = time.perf_counter()
            try:
                op()
            finally:
                tracer.enabled = False
            timed.append((kind, time.perf_counter() - t, cpu_s() - c))
            attempted += 1
            problems += check()

        tracer.request = None
        tracer.enabled = bool(args.trace)
        problems += wl.finish()
        tracer.enabled = False
        attempted += 1
        rss = peak_rss_mb()
        if args.trace:
            probe_s = []
            for traced in (False, False, True):  # a warm-up, then untraced against traced
                op, check = wl.probe()
                tracer.enabled, tracer.request = traced, "probe"
                t = time.perf_counter()
                try:
                    op()
                finally:
                    tracer.enabled = False
                probe_s.append(time.perf_counter() - t)
                attempted += 1
                problems += check()
            metrics, units = _layer_report(args, wl, tracer, timed, probe_s[1:], session_s, cores)
        else:
            metrics, units = end_to_end(wl, timed, setup_s, rss, attempted, len(problems))
        print(
            f"perfbench: {wl_cls.name} seed={args.seed} "
            f"ops={[(k, round(d, 3), round(c, 3)) for k, d, c in timed]} prepare_s={[round(p, 3) for p in prepare_s]} "
            f"session_s={session_s:.3f}",
            file=sys.stderr,
        )
    except Exception:  # noqa: BLE001 — any failure is reported as a failed run
        traceback.print_exc()
        problems.append("exception")
        attempted += 1
        metrics, units = {}, {}
    finally:
        stop_spark(spark)
    for p in problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    result = {
        "correct": not problems,
        "attempted": max(attempted, 1),
        "failed": len(problems),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, not problems


def end_to_end(wl, timed, setup_s, rss, attempted, failed) -> tuple[dict, dict]:
    """The end-to-end metrics every workload reports: set-up time, the CPU
    seconds of each of its two stages (``wl.STAGES`` maps operation kinds to
    stages) and bytes stored per input byte.  Also prints, by their own
    names, the metrics of the source workloads this run covers: their wall
    latencies and rates, and peak memory.  Those are not bounded: on a
    shared host, wall time follows the neighbours' load (CPU steal) and
    peak memory follows the JVM's GC timing."""
    stage_cpu = {"stage1_cpu_s": 0.0, "stage2_cpu_s": 0.0}
    by_kind: dict[str, list[float]] = {}
    for kind, d, c in timed:
        stage_cpu[wl.STAGES[kind]] += c
        by_kind.setdefault(kind, []).append(d)
    metrics = {"setup_s": setup_s, **stage_cpu, "stored_bytes_per_input_byte": wl.stored_bytes_per_input_byte()}
    units = {"setup_s": "s", "stage1_cpu_s": "s", "stage2_cpu_s": "s", "stored_bytes_per_input_byte": "ratio"}
    named = wl.named_metrics(by_kind)
    for source, values in named.items():
        values["setup_s"] = (setup_s, "s")
        values["peak_rss_mb"] = (rss, "MB")
        values["failed_ratio"] = (failed / attempted, "ratio")
        line = ", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in values.items())
        print(f"perfbench: {source}: {line}")
    return metrics, units


def _layer_report(args, wl, tracer, timed, probe_s, session_s, cores) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run; spans and the self-time table go
    to ``.perfbench/traces/`` and stderr."""
    from perfbench import layers

    tracer.attribute()
    selfs = tracer.self_times()
    spans = [{**s, "self_s": selfs[s["id"]]} for s in tracer.spans]
    untraced, traced = probe_s
    index_bytes, index_files = getattr(wl, "index_before", (0, 0))
    run_info = {
        "cores": cores,
        "session_s": session_s,
        "ops": timed,
        "probe_s": probe_s,
        "overhead_pct": 100.0 * (traced / untraced - 1.0),
        "files_written": wl.written_files(),
        "index_bytes": index_bytes,
        "index_files": index_files,
        "recall_at_10": statistics.mean(wl.recalls) if getattr(wl, "recalls", None) else 0.0,
    }
    metrics = layers.layer_metrics(spans, tracer.counters, run_info)
    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, f"{args.workload}-{args.seed}.json"), {"run": run_info})
    print("perfbench: span self times (name, calls, wall s, self s)", file=sys.stderr)
    for name, calls, wall, self_s in layers.self_time_table(spans):
        print(f"  {name:24s} {calls:4d} {wall:9.3f} {self_s:9.3f}", file=sys.stderr)
    print(f"perfbench: tracing overhead {run_info['overhead_pct']:+.1f}% of the untraced probe", file=sys.stderr)
    return metrics, {name: unit for name, unit, _ in layers.metric_specs()}


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import bigdata_rags_spark  # noqa: F401

        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the library is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]
    t = time.perf_counter()
    paths = wl_cls.make_inputs(os.path.join(ROOT, ".perfbench", "cache"), args.seed)
    gen_s = time.perf_counter() - t
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python's and Spark's temporary files too
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    try:
        result, ok = run(args, wl_cls, paths, gen_s, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
