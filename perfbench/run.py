"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Writes its inputs and outputs under
``.perfbench/`` in that root, prints progress to stderr and, as the last
line of stdout, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "synthetic_data_pipeline_spark")
# session starts per run: setup_s is the median of their CPU seconds
# plus those of the one-time build of the workload's per-session state
SETUPS = 3


def machine_env(work: str) -> None:
    """Size the session to this machine and keep every file it writes,
    and every Python worker's imports, inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    driver_gb = max(1, min(8, mem_kb // (1024 * 1024) // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # every JVM the session starts: temp files inside the checkout,
            # and no hsperfdata directory in the system temp dir
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def descendants() -> list[int]:
    """Pids of every process below this one (the driver JVM and the
    Python workers it forks), from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_s() -> float:
    """CPU seconds (user + system) this process and every process below
    it have used so far, including exited children they reaped."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of this process's descendants, sampled from
    /proc on a background thread."""

    def __init__(self, enabled: bool, interval_s: float = 0.2):
        self.enabled = enabled
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self.enabled:
            self._stop.set()
            self._thread.join(timeout=5)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in descendants()))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()


def count_codegen_fallbacks(log_path: str) -> int:
    """Generated-code compile failures (the stage then runs interpreted)."""
    n = 0
    with open(log_path, errors="replace") as fh:
        for line in fh:
            if "CodeGenerator: Failed to compile" in line or (
                "codegen disabled" in line.lower()
            ):
                n += 1
    return n


def redirect_stderr(path: str):
    """Send fd 2 (ours and the JVM's) to ``path``; return the original."""
    sys.stderr.flush()
    saved = os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    return saved


def restore_stderr(saved: int, log_path: str, tail: int) -> None:
    sys.stderr.flush()
    os.dup2(saved, 2)
    os.close(saved)
    if tail:
        with open(log_path, errors="replace") as fh:
            lines = fh.readlines()[-tail:]
        sys.stderr.write("".join(lines))


def stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit, so no
    process outlives the run."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def end_to_end(start_cpu, state_cpu_s, m, measure_cpu_s) -> dict[str, float]:
    # CPU seconds, not wall time: on a shared host the processors are
    # withheld from the guest in bursts (steal), which inflates wall
    # times by up to half from one run to the next
    return {
        "setup_s": statistics.median(start_cpu) + state_cpu_s,
        "op_cpu_s": measure_cpu_s / max(len(m.latencies), 1),
        "ops_ok_ratio": 1.0 - m.failed / m.attempted,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if not os.path.isfile(os.path.join(PKG_DIR, "__init__.py")):
        print(f"package not found at {PKG_DIR}", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    machine_env(work)
    log_path = os.path.join(work, "driver.log")
    saved = redirect_stderr(log_path)
    ok = False
    try:
        out = run(args, work, log_path)
        ok = True
    finally:
        try:
            restore_stderr(saved, log_path, tail=1 if ok else 60)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, attempted, failed, errors = out
    unknown = set(metrics) - {w["name"] for w in spec["per_layer"] + spec["end_to_end"]}
    if unknown:
        print(f"metrics missing from BENCHMARK.json: {sorted(unknown)}", file=sys.stderr)
        return 3
    if args.trace:
        # layers a workload never calls read zero
        metrics = {w["name"]: 0.0 for w in wanted} | metrics
    missing = [w["name"] for w in wanted if w["name"] not in metrics]
    if missing:
        print(f"metrics not produced: {missing}", file=sys.stderr)
        return 3
    for e in errors:
        print(f"FAILED {e}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    w["name"]: {"value": metrics[w["name"]], "unit": w["unit"]}
                    for w in wanted
                },
            }
        )
    )
    return 0


def run(args, work: str, log_path: str):
    from synthetic_data_pipeline_spark import session as session_mod

    from tracing import LAYERS, COUNTERS, Tracer
    from workloads import WORKLOADS

    phases = {}
    t_run = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed)
    wl.prepare()
    phases["prepare_s"] = time.perf_counter() - t_run
    tracer = Tracer(enabled=bool(args.trace))
    tracer.instrument()
    start_times, start_cpu = [], []
    spark = None
    # the sampler's /proc scans would count in op_cpu_s: traced runs only
    with RssSampler(enabled=bool(args.trace)) as rss:
        try:
            for _ in range(SETUPS):
                if spark is not None:
                    tracer.bind(None)
                    spark.stop()
                t0, c0 = time.perf_counter(), cpu_s()
                with tracer.span("session", "start"):
                    spark = session_mod.get_spark(
                        app_name=f"perfbench-{args.workload}",
                        extra_conf=spark_conf(work),
                    )
                    spark.range(1).count()
                start_times.append(time.perf_counter() - t0)
                start_cpu.append(cpu_s() - c0)
            tracer.bind(spark)
            t0, c0 = time.perf_counter(), cpu_s()
            wl.setup(spark, tracer)
            state_s, state_cpu_s = time.perf_counter() - t0, cpu_s() - c0
            t0, c0 = time.perf_counter(), cpu_s()
            m = wl.measure(spark, tracer, args.seconds)
            measure_cpu_s = cpu_s() - c0
            phases["measure_s"] = time.perf_counter() - t0
            wl.check(spark, m)
            phases["check_s"] = time.perf_counter() - t0 - phases["measure_s"]
        finally:
            tracer.restore()
            if rss.enabled:
                rss.sample()
            stop_jvm(spark)
    phases["total_s"] = time.perf_counter() - t_run
    print(
        f"{args.workload} seed={args.seed}: {len(m.latencies)} ops, "
        f"{m.attempted} attempted, {m.failed} failed; state_s={state_s:.2f} "
        f"start_cpu_s={','.join(f'{x:.2f}' for x in start_cpu)} "
        f"state_cpu_s={state_cpu_s:.2f} measure_cpu_s={measure_cpu_s:.2f} "
        + " ".join(f"{k}={v:.2f}" for k, v in phases.items())
        + " op_s=" + ",".join(
            f"{n.split('_')[0]}:{x:.3f}" if n else f"{x:.3f}"
            for n, x in itertools.zip_longest(m.names, m.latencies, fillvalue="")
        ),
        file=sys.stderr,
    )
    if not args.trace:
        out = end_to_end(start_cpu, state_cpu_s, m, measure_cpu_s)
        return out, m.attempted, m.failed, m.errors

    metrics = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in COUNTERS}
    metrics.update(tracer.layer_totals())
    metrics["session.start_s"] = statistics.median(start_times)
    metrics["session.state_s"] = state_s
    metrics["run.items_per_s"] = m.items / m.wall_s
    metrics["generation.codegen_fallbacks"] = float(count_codegen_fallbacks(log_path))
    metrics["trace.overhead_s"] = tracer.bookkeeping_s
    metrics["trace.spans"] = float(len(tracer.spans))
    metrics["process.peak_rss_mb"] = rss.peak_kb / 1024.0
    metrics.update(m.per_layer)
    spans_dir = os.path.join(ROOT, ".perfbench", "spans")
    os.makedirs(spans_dir, exist_ok=True)
    tracer.dump(
        os.path.join(spans_dir, f"{args.workload}-{args.seed}.json"),
        {"workload": args.workload, "seed": args.seed, "wall_s": m.wall_s,
         "items_per_s": m.items / m.wall_s,
         "op_cpu_s": measure_cpu_s / max(len(m.latencies), 1)},
    )
    return metrics, m.attempted, m.failed, m.errors


if __name__ == "__main__":
    sys.exit(main())
