"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload short_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Every input is generated from ``--seed``
under ``.perfbench/run-<pid>/`` and deleted at exit. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs one untraced and one traced
pass and reports the per-layer metrics (see perfbench/README.md).
The exit code is 0 only when every output matched its check.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "mcas_question2_etl_spark"


def _env(run_dir: str, cpus: int) -> None:
    """Per-run scratch dirs and session sizing, before any Spark import."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(2, int(mem_gb // 4)))}g",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # the JVM that spark-submit runs to build the driver command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    try:
        with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    except (OSError, StopIteration, AttributeError):
        pass
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _stop(run) -> None:
    """Stop the session, end the driver JVM and wait for it and its Python
    workers to exit."""
    if run.spark is None:
        return
    proc = run.spark.sparkContext._gateway.proc
    workers = _descendants(proc.pid)
    run.spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if _running(p)]
        time.sleep(0.1)
    for p in workers:
        os.kill(p, signal.SIGKILL)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _residue_bytes(run) -> int:
    """Bytes left in the run's temp and local dirs (call after spark.stop())."""
    from workloads import tree_bytes

    total = 0
    for d in ("tmp", "local"):
        for entry in sorted(os.listdir(os.path.join(run.run_dir, d))):
            size = tree_bytes(os.path.join(run.run_dir, d, entry))
            total += size
            if run.trace:
                run.note(f"left after spark.stop(): {d}/{entry} {size} bytes")
    return total


def _measure(run, workloads):
    """Set up, time the passes, stop the session; return the metrics."""
    from tracing import StatusReader

    run_pass, fresh = workloads.WORKLOADS[run.workload](run)
    setup_s = time.perf_counter() - T_START

    def one_pass(detail: bool):
        if fresh is not None:
            fresh()
        ops = run_pass(StatusReader(run.spark, detail=detail))
        run.note(f"pass done ({'traced' if detail else 'untraced'}): "
                 + " ".join(f"{o.name}={o.wall_s:.3f}" for o in ops))
        return sum(o.wall_s for o in ops), ops

    if not run.trace:
        passes, timed = [], 0.0
        # whole passes only, as many as fit in --seconds (at least one)
        while not passes or timed * (len(passes) + 1) / len(passes) <= run.seconds:
            passes.append(one_pass(detail=False))
            timed += passes[-1][0]
        rss = _peak_rss_mb(run.spark)
        run.spark.stop()
        return workloads.end_to_end(run, passes, timed, setup_s, rss)

    untraced_s, untraced = one_pass(detail=False)
    run.tracer.enabled = True
    traced_s, traced = one_pass(detail=True)
    run.tracer.enabled = False
    run.spark.stop()
    run.tracer.attribute_jobs([s for o in traced for s, _ in o.counts["job_spans"]])
    # AQE decides some joins at run time, so identical untraced runs already
    # differ by a job or a stage now and then: report the gap, do not fail
    deltas = [
        sum(abs(u.counts[k] - t.counts[k]) for u, t in zip(untraced, traced))
        for k in ("jobs", "stages")
    ]
    for o in traced:
        print(f"# {o.name:36s} wall {o.wall_s:7.3f}s build {o.build_s:6.3f}s "
              f"jobs {o.counts['jobs']:3d} stages {o.counts['stages']:3d} "
              f"cpu {o.counts['cpu_s']:6.2f}s shuffle {o.counts['shuffle_read'] + o.counts['shuffle_write']:.0f}B",
              file=sys.stderr)
    residue = _residue_bytes(run)
    for span in run.tracer.spans:
        print("# span " + json.dumps(dataclasses.asdict(span)), file=sys.stderr)
    return workloads.per_layer(run, traced, traced_s, untraced_s, deltas, residue)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["short_mix", "graph_heavy", "etl_load"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _env(run_dir, cpus)
    import tracing
    import workloads

    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir, cpus, T_START)
    if run.trace:
        # before plans is imported, so module-level imports bind the wrappers
        run.tracer.run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracing.install(run.tracer)
    try:
        metrics = _measure(run, workloads)
    finally:
        _stop(run)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))  # only if no other run is using it
        except OSError:
            pass
    for err in run.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": len(run.errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not run.errors else 1


if __name__ == "__main__":
    sys.exit(main())
