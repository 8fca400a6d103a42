#!/usr/bin/env python3
"""Crawl-engine benchmark: seeded workloads, checked outputs, one JSON line.

    python3 crawlbench/run.py --workload replay_bulk --seed 1 --seconds 10 --trace 0
    python3 crawlbench/run.py --selfcheck

Runs from any working directory.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``.  Lines before it (prefixed ``#``) repeat the figures
under their per-workload names and, on traced runs, every layer figure.
``--selfcheck`` runs every workload, check and traced run at tiny sizes.
See crawlbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".crawlbench_work")
DEPS = ("pyspark", "pandas", "pyarrow", "numpy")

E2E = {"setup_s": "s", "op_p50_s": "s", "work_per_s": "1/s"}
# Per-layer metrics printed by every traced run.  A layer time that only
# one workload has appears here as a share of the operation's wall time
# (its absolute seconds are on the "# layers" line); a layer a workload
# never calls reads 0.
PER_LAYER = {
    "crawl.rounds": "count",
    "crawl.round_p50_s": "s",
    "crawl.tail_s": "s",
    "crawl.pre_frac": "frac",
    "crawl.rounds_frac": "frac",
    "crawl.tail_frac": "frac",
    "checkpoint.stage_frac": "frac",
    "checkpoint.commit_read_frac": "frac",
    "checkpoint.files_staged": "count",
    "checkpoint.bytes_staged": "bytes",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.jobs_per_round": "count",
    "spark.tasks_per_round": "count",
    "seen.filter_new_calls": "count",
    "seen.probe_skipped_calls": "count",
    "seen.candidate_bound_rows": "count",
    "seen.new_frac": "frac",
    "extract.emails_dropped": "count",
    "extract.phones_dropped": "count",
    "politeness.carryover_rounds": "count",
    "seeds.frac": "frac",
    "breach.frac": "frac",
    "breach.hit_frac": "frac",
    "report.frac": "frac",
    "jvm.peak_heap_mb": "MB",
    "trace.overhead_frac": "frac",
    "trace.coverage_frac": "frac",
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 4


def _heap_mb() -> int:
    """A quarter of the memory this process may use, at most 8 GiB: the
    box has no swap, other processes share it, and a cgroup or
    address-space limit may be tighter than RAM."""
    with open("/proc/meminfo") as fh:
        limit = 1024 * next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    as_limit = resource.getrlimit(resource.RLIMIT_AS)[0]
    if as_limit != resource.RLIM_INFINITY:
        limit = min(limit, as_limit)
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as fh:
                limit = min(limit, int(fh.read()))
        except (OSError, ValueError):  # absent, or "max"
            pass
    return min(8192, limit // 4 // 2**20)


def _gc_option(heap_mb: int) -> str:
    """ZGC, the engine's own collector, where a JVM with this heap starts
    with it; G1 otherwise.  ZGC reserves many times the heap in address
    space, so under an address-space limit (``ulimit -v``) it cannot
    start at all."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if java is None or not os.path.isfile(java):
        return "-XX:+UseZGC"  # let Spark find and report it
    probe = [java, "-XX:+UseZGC", f"-Xmx{heap_mb}m", "-XX:-UsePerfData", "-version"]
    ok = subprocess.run(probe, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode == 0
    return "-XX:+UseZGC" if ok else "-XX:+UseG1GC"


def start_spark(work: str, cpus: int):
    """A session on ``local[cpus]`` whose files all stay under ``work``.

    The environment is set before the JVM starts: Python workers inherit
    it, so they import the engine from this checkout and write their
    temporary files here."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # workers run this interpreter, not whichever python3 is first on PATH
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no /tmp/hsperfdata files from spark-submit's launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    from breakchecker_spark.session import get_spark

    heap = _heap_mb()
    gc = _gc_option(heap)
    print(f"# local[{cpus}], heap {heap} MiB, {gc}", flush=True)
    return get_spark(
        app_name="crawlbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            "spark.driver.extraJavaOptions": f"{gc} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # the JVM ignored EOF: kill it, still wait
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(spark, workload: str, seed: int, seconds: float, trace: bool, size: dict, work: str):
    """Set a workload up, run its operations for ``seconds`` of measured
    time, check each one; returns (result line dict, '#' lines)."""
    import spans
    import workloads

    tracer = spans.Tracer(spark) if trace else None
    wl = workloads.WORKLOADS[workload](spark, work, seed, size, tracer)
    errors: list[str] = []
    walls: list[float] = []
    items: list[float] = []
    op_spans: list = []
    attempted = failed = 0
    try:
        wl.setup()
        setup_s = time.perf_counter() - T_START
        jvm = spans.JvmStats(spark)
        if tracer is not None:
            wl.patch()
        jvm.reset()
        measured, t_loop, k = 0.0, time.perf_counter(), 0
        while measured < seconds and time.perf_counter() - t_loop < 3 * seconds + 60:
            # settle the heap so one operation's garbage is not collected
            # inside the next one's timed section
            spark.sparkContext._jvm.System.gc()
            if tracer is not None:
                tracer.begin_op(f"op{k}")
            t0 = time.perf_counter()
            try:
                out = wl.op(k)
            except Exception:  # a failed operation is counted, the run goes on
                traceback.print_exc()
                out = None
            finally:
                wall = time.perf_counter() - t0
                span = tracer.end_op() if tracer is not None else None
            measured += wall
            walls.append(wall)
            k += 1
            if out is None:
                attempted += 1
                failed += 1
                errors.append(f"op{k - 1} raised")
                continue
            try:
                errs = wl.check(k - 1, out)
            except Exception as exc:  # a check that cannot run is a failed check
                traceback.print_exc()
                errs = [f"check raised {exc!r}"]
            if span is not None:
                op_spans.append(span)  # aligned with the workload's completed ops
            n = out.get("attempted", 1)
            attempted += n
            failed += min(n, len(errs))
            errors += errs
            items.append(wl.work_items(out) / out["wall"])
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": spans.median(walls),
            "work_per_s": spans.median(items) if items else 0.0,
        }
        lines = [
            f"# {workload} seed={seed} trace={int(trace)} op_walls_s={[round(w, 3) for w in walls]}: "
            + "; ".join(f"{n}={v:.6g} {u}" for n, (v, u) in {"setup_s": (setup_s, "s"), **wl.summary()}.items())
            + f"; failed_frac={failed / max(attempted, 1):.6g} ({failed}/{attempted})"
        ]
        result_metrics = {n: {"value": metrics[n], "unit": u} for n, u in E2E.items()}
        if tracer is not None:
            layer = wl.layers(op_spans)
            layer["jvm.peak_heap_mb"] = (jvm.peak_heap_mb(), "MB")
            layer["jvm.gc_s"] = (jvm.gc_s(), "s")
            layer["trace.overhead_frac"] = (tracer.overhead_s / max(sum(walls), 1e-9), "frac")
            absent = [n for n in PER_LAYER if n not in layer]
            result_metrics = {
                n: {"value": float(layer[n][0]) if n in layer else 0.0, "unit": u} for n, u in PER_LAYER.items()
            }
            lines.append(
                "# layers: "
                + json.dumps({n: {"value": v, "unit": u} for n, (v, u) in sorted(layer.items())})
            )
            if absent:
                lines.append(f"# not called by {workload} (reported as 0): {', '.join(absent)}")
    finally:
        if tracer is not None:
            tracer.unpatch()
        wl.close()
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": result_metrics,
    }
    return result, lines


def selfcheck(work: str) -> int:
    """Every workload, output check and traced run at tiny sizes, plus the
    bulk generator's ground truth against ``oracle.simulate_crawl``."""
    import gen
    import workloads

    from breakchecker_spark import oracle

    ok = True
    web, blocks = gen.bulk_web(7, 150, 2)
    rendered = {u: gen.render(p, blocks) for u, p in web.pages.items()}
    sim = oracle.simulate_crawl(
        {u: h for u, (h, _) in rendered.items()},
        [(web.seed_host, "https")],
        web.scope,
        workloads.BULK_MAX_DEPTH,
        page_texts={u: t for u, (_, t) in rendered.items()},
    )
    visited, contacts = gen.expected_crawl(web, workloads.BULK_MAX_DEPTH)
    sim_contacts = {("email", i, s, d) for i, (d, s) in sim.emails.items()}
    sim_contacts |= {("phone", i, s, d) for i, (d, s) in sim.phones.items()}
    if sim.visited != visited or sim_contacts != contacts:
        print("selfcheck: bulk ground truth disagrees with oracle.simulate_crawl", file=sys.stderr)
        ok = False
    spark = start_spark(work, _cpus())
    try:
        for name in workloads.WORKLOADS:
            for trace in (False, True):
                sub = os.path.join(work, f"{name}-{int(trace)}")
                os.makedirs(sub)
                res, lines = measure(spark, name, 3, 1.0, trace, workloads.SIZES["tiny"], sub)
                print("\n".join(lines))
                print(json.dumps(res))
                want = set(PER_LAYER if trace else E2E)
                if not res["correct"] or set(res["metrics"]) != want:
                    print(f"selfcheck: {name} trace={int(trace)} failed", file=sys.stderr)
                    ok = False
                shutil.rmtree(sub, ignore_errors=True)
    finally:
        stop_spark(spark)
    print(f"# selfcheck {'passed' if ok else 'FAILED'}")
    return 0 if ok else 1


def _remove_stale_work() -> None:
    """Delete work directories left by runs that were killed."""
    if not os.path.isdir(WORK_ROOT):
        return
    for d in os.listdir(WORK_ROOT):
        pid = d.removeprefix("run-").split("-")[0]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_ROOT, d), ignore_errors=True)


def _python_with_pyspark() -> str | None:
    """An interpreter named by PYSPARK_PYTHON or found on PATH that can
    import the engine's dependencies, for when the one running this
    cannot (a PATH that puts another python3 first)."""
    names = [os.environ.get("PYSPARK_PYTHON", "")]
    names += [os.path.join(d, n) for d in os.environ.get("PATH", "").split(os.pathsep) for n in ("python3", "python")]
    me = os.path.realpath(sys.executable)
    for name in names:
        path = shutil.which(name) if name else None
        if path is None or os.path.realpath(path) == me:
            continue
        probe = [path, "-c", f"import {', '.join(DEPS)}"]
        if subprocess.run(probe, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode == 0:
            return path
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["replay_bulk", "scan_requests", "operator_suite"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args(argv)
    if not args.selfcheck and args.workload is None:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "breakchecker_spark", "__init__.py")):
        print(f"crawlbench: no breakchecker_spark package under {ROOT}", file=sys.stderr)
        return 2
    if any(importlib.util.find_spec(m) is None for m in DEPS):
        python = _python_with_pyspark()
        if python is None:
            print(f"crawlbench: neither {sys.executable} nor a python on PATH imports {DEPS}", file=sys.stderr)
            return 2
        os.execv(python, [python, os.path.abspath(__file__), *sys.argv[1:]])
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    from workloads import SIZES

    _remove_stale_work()
    os.makedirs(WORK_ROOT, exist_ok=True)
    # unique even when a killed run with this pid left its directory
    work = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=WORK_ROOT)
    try:
        if args.selfcheck:
            return selfcheck(work)
        spark = start_spark(work, _cpus())
        try:
            result, lines = measure(
                spark, args.workload, args.seed, args.seconds, bool(args.trace), SIZES["full"], work
            )
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still uses it
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
