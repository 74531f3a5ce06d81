"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload llm_map_latency --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A line starting with ``perfbench-info`` before it holds
the run's metadata. See perfbench/NOTES.md for what each figure means.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from eventlog import find_log, reduce_log  # noqa: E402
from harness import (Tracer, closed_loop, live_heap_mb, start_session,  # noqa: E402
                     stop_session, vm_hwm_mb)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "llm_map_reduce_summarizer_spark"
LLM_ENV = ("OPENAI_API_KEY", "ANTHROPIC_API_KEY", "LLM_MAX_REQUESTS_PER_SEC",
           "LLM_MODEL")

# cold_pass_s and cpu_s_per_pass are per-layer metrics (session.warmup_s,
# the set-up's warm-up pass in the fresh JVM, and pass.cpu_s): across ten runs on a shared 4-core box their spread reached
# 0.27 and 0.36 of the median.
END_TO_END = [
    ("setup_s", "s"), ("pass_s_p50", "s"), ("items_per_s", "1/s"),
    ("live_heap_mb", "MB"),
]
# timed passes per untraced run at least, however long --seconds is
MIN_PASSES = 2


def _driver_mem() -> str:
    """A driver heap that fits the box: a fifth of RAM, 1-4 GiB."""
    with open("/proc/meminfo", encoding="ascii") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    return f"{min(4096, max(1024, total_mb // 5))}m"


def _source_digest() -> str:
    """sha256 over the program's sources, standing in for a commit when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, dirs, names in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        files += [os.path.join(base, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        if os.path.exists(path):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                         capture_output=True, text=True, check=False)
    return res.stdout.strip() or None


def _configure(work: str, event_log: str | None = None) -> None:
    """Environment for the next JVM launch: everything it writes stays
    under ``work``; the event log is on only when ``event_log`` is set."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", f"spark.eventLog.dir=file://{event_log}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


def _count(wl, results, check) -> tuple[int, int]:
    """(attempted, failed) items over the check and the passes."""
    attempted, failed = check.items, check.failed
    for res in results:
        items, bad = wl.verify(res)
        attempted += items
        failed += bad
    return attempted, failed


def _pass(wl, spark, pid) -> tuple[float, float, object]:
    return closed_loop(lambda: wl.run_pass(spark), 0, pid, min_passes=1)[0]


def _set_up(wl, info):
    """Process start to ready: session up (fresh JVM), inputs generated,
    warm-up pass done. Returns the session, the set-up's seconds and the
    warm-up pass's result."""
    session = start_session(f"perfbench-{wl.name}")
    t0 = time.perf_counter()
    info["inputs"] = wl.generate()
    info["datagen_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm = wl.warm_up(session.spark)
    info["warmup_s"] = time.perf_counter() - t0
    info["get_spark_s"] = session.get_spark_s
    return session, time.perf_counter() - PROCESS_START, warm


def run_untraced(wl, args, info) -> tuple[dict, tuple[int, int]]:
    """Set-up, the check of the warm-up pass, then passes back to back for
    ``--seconds`` and at least MIN_PASSES; their outputs are checked
    after the timing."""
    session = None
    try:
        session, setup_s, warm = _set_up(wl, info)
        spark, pid = session.spark, session.jvm_pid
        check = wl.check(spark, warm)
        del warm
        passes = closed_loop(lambda: wl.run_pass(spark), args.seconds, pid,
                             min_passes=MIN_PASSES)
        info["peak_rss_mb"] = vm_hwm_mb(pid)
        heap = live_heap_mb(spark)
    finally:
        if session is not None:
            stop_session(session)
    results = [r for _, _, r in passes]
    counts = _count(wl, results, check)
    walls = [w for w, _, _ in passes]
    p50 = statistics.median(walls)
    info.update(pass_s=walls, cpu_s=[c for _, c, _ in passes],
                problems=check.problems + [p for r in results for p in wl.problems(r)])
    metrics = {
        "setup_s": setup_s,
        "pass_s_p50": p50,
        "items_per_s": wl.items() / p50,
        "live_heap_mb": heap,
    }
    return metrics, counts


def run_traced(wl, args, work, info) -> tuple[dict, tuple[int, int]]:
    """One session with the Spark event log on: set-up and check as in an
    untraced run, then an untraced pass, the traced pass and another
    untraced pass."""
    from workloads import per_layer_spec

    log_dir = os.path.join(work, "eventlog")
    _configure(work, event_log=log_dir)
    layer = {name: 0.0 for name, _, _ in per_layer_spec()}
    session = None
    try:
        session, _setup_s, warm = _set_up(wl, info)
        spark, pid = session.spark, session.jvm_pid
        sc = spark.sparkContext
        check = wl.check(spark, warm)
        del warm
        # untraced passes on both sides of the traced one, so the JVM's
        # warming up does not count as (negative) tracing overhead
        sc.setJobDescription(f"{wl.name}:untraced")
        plain = [_pass(wl, spark, pid)]
        sc.setJobDescription(None)
        tracer = Tracer(sc, wl.name)
        layer.update(wl.traced_pass(spark, tracer))
        sc.setJobDescription(f"{wl.name}:untraced")
        plain.append(_pass(wl, spark, pid))
        sc.setJobDescription(None)
    finally:
        if session is not None:
            stop_session(session)
    results = [r for _, _, r in plain]
    counts = _count(wl, results, check)
    info["problems"] = check.problems + [p for r in results for p in wl.problems(r)]
    stats = reduce_log(find_log(log_dir))
    layer.update(wl.layer_metrics(tracer, stats))
    traced = tracer.duration("pass")
    untraced = statistics.mean(w for w, _, _ in plain)
    layer.update({
        "session.get_spark_s": info["get_spark_s"],
        "session.datagen_s": info["datagen_s"],
        "session.warmup_s": info["warmup_s"],
        "pass.cpu_s": statistics.mean(c for _, c, _ in plain),
        "trace.untraced_pass_s": untraced,
        "trace.traced_pass_s": traced,
        "trace.overhead_s": traced - untraced,
    })
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    trace_path = os.path.join(out_dir, f"trace-{wl.name}-{args.seed}.json")
    tracer.write(trace_path)
    info["trace_file"] = os.path.relpath(trace_path, ROOT)
    info["eventlog_tags"] = {t: {"jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
                                 "task_s_sum": s.task_s_sum}
                             for t, s in sorted(stats.items())}
    return layer, counts


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads  # imports the program

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = os.cpu_count() or 1
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _driver_mem())
    for var in LLM_ENV:  # the CLI path must use its keyless mock, never a live API
        os.environ.pop(var, None)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    _configure(work)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "commit": _commit(), "source_digest": _source_digest(), "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
    cwd = os.getcwd()
    os.chdir(work)  # Spark's warehouse and scratch files land under work/
    wl = None
    try:
        wl = workloads.WORKLOADS[args.workload](
            args.seed, work, int(os.environ["SPARK_GRAFT_CPUS"]))
        if args.trace:
            metrics, (attempted, failed) = run_traced(wl, args, work, info)
            units = {n: u for n, u, _ in workloads.per_layer_spec()}
        else:
            metrics, (attempted, failed) = run_untraced(wl, args, info)
            units = dict(END_TO_END)
    finally:
        if wl is not None:
            wl.close()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    info["failed_share"] = failed / attempted if attempted else 1.0
    print("perfbench-info " + json.dumps(info, default=str))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
