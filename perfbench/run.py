"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload sequences --seed 1 --seconds 20 --trace 0

Run from the repository root: the library is imported from there, built
from source by nothing more than putting the root on the path. Untraced
runs (``--trace 0``) print the end-to-end metrics; traced runs
(``--trace 1``) print the per-layer split. See README.md.
"""

import time

PROCESS_START = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

import spans  # noqa: E402
import workloads  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".bench_work"

# nproc - 1 on the 4-core reference host: one core stays free for the
# driver, JVM GC and the RSS sampler
MASTER = "local[3]"
# the library default (16g) exceeds the reference host's memory. The heap
# is pinned (initial = max) so RSS does not follow GC-driven heap growth
DRIVER_MEMORY = "1g"
SETUP_REPS = 3
MIN_CYCLES = 2
RSS_INTERVAL_S = 0.2
PROBE_PROCS = 3
PROBE_ITERS = 2_000_000


_BURN = """
import math, time
t0 = time.perf_counter()
x = 0.0
for i in range({n}):
    x += math.sin(i * 0.001)
print(time.perf_counter() - t0)
"""


def _burn(procs: int) -> list[float]:
    """Walls of ``procs`` processes burning pure-CPU work at once."""
    code = _BURN.format(n=PROBE_ITERS)
    running = [
        subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
        for _ in range(procs)
    ]
    return [float(p.communicate()[0]) for p in running]


def host_inflation() -> float:
    """Per-process slowdown when PROBE_PROCS processes burn at once versus
    one at a time: about 1.0 on an idle host, higher under CPU steal or
    contention. A diagnostic only; no metric is adjusted by it."""
    serial = [_burn(1)[0] for _ in range(PROBE_PROCS)]
    return statistics.mean(_burn(PROBE_PROCS)) / statistics.mean(serial)


def process_tree() -> dict[int, str]:
    """{pid: command name} for this process and all its descendants: the
    Spark JVM, the pyspark daemon and its workers."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        pid = int(entry)
        children.setdefault(int(stat[stat.rindex(")") + 2 :].split()[1]), []).append(pid)
        names[pid] = stat[stat.index("(") + 1 : stat.rindex(")")]
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in names:
            tree[pid] = names[pid]
    return tree


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes mapping it, so forked pyspark workers do not count
    the daemon's shared pages once each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited since the listing
    return 0


class RssSampler(threading.Thread):
    """Samples the process tree's memory (PSS) at a fixed interval and
    keeps the peaks of the total, the JVM share and the Python share."""

    def __init__(self):
        super().__init__(daemon=True)
        self._stop_event = threading.Event()
        self.peak_total = self.peak_jvm = self.peak_py = 0

    def run(self):
        while True:
            jvm = py = 0
            for pid, comm in process_tree().items():
                if comm == "java":
                    jvm += pss_bytes(pid)
                else:
                    py += pss_bytes(pid)
            self.peak_total = max(self.peak_total, jvm + py)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_py = max(self.peak_py, py)
            if self._stop_event.wait(RSS_INTERVAL_S):
                return

    def stop(self):
        self._stop_event.set()
        self.join()


def start_spark(work: Path):
    from light_curve_spark.session import build_session

    return build_session(
        app_name="perfbench",
        master=MASTER,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # keep the JVM's scratch files (native libs, spill) in the checkout
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work / 'tmp'}",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and every Python worker to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(process_tree()) > 1:
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running after Spark stopped: {process_tree()}")
        time.sleep(0.1)


def run(args, work: Path) -> dict:
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")

    probe_s = 0.0
    if args.trace:
        t0 = time.perf_counter()
        inflation = [host_inflation()]
        probe_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = spans.Tracer(spark)
        wl = workloads.WORKLOADS[args.workload](spark, tracer, work, args.seed)
        generate_s = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.generate(rep)
            generate_s.append(time.perf_counter() - t0)
        wl.prepare()

        t_first = time.perf_counter()
        setup_s = (
            t_first - PROCESS_START - probe_s - sum(generate_s) + statistics.median(generate_s)
        )
        sampler = RssSampler()
        sampler.start()
        traced_s, plain_s = [], []
        i = 0
        while i < MIN_CYCLES or time.perf_counter() - t_first < args.seconds:
            # traced runs alternate traced and untraced cycles, so the
            # tracing overhead is measured in the same run
            tracer.enabled = bool(args.trace) and i % 2 == 0
            wl.before_cycle(i)
            t0 = time.perf_counter()
            wl.cycle(i)
            (traced_s if tracer.enabled else plain_s).append(time.perf_counter() - t0)
            i += 1
        tracer.enabled = False
        sampler.stop()

        problems = wl.check()
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)

        if not args.trace:
            metrics = {k: (v, workloads.E2E_UNITS[k]) for k, v in wl.end_to_end().items()}
            metrics["setup_s"] = (setup_s, "s")
            metrics["peak_rss_mb"] = (sampler.peak_total / 1e6, "MB")
        else:
            metrics = workloads.all_span_metrics(tracer.records)
            metrics.update({k: (0.0, u) for k, u in workloads.EXTRA_LAYER_METRICS.items()})
            metrics.update(wl.layer_metrics())
            metrics.update(workloads.kernel_rates())
            top = sum(r["wall_ms"] for r in tracer.records if r["top_level"]) / 1e3
            metrics.update(
                {
                    "session.start_ms": (session_s * 1e3, "ms"),
                    "sources.generate_ms": (statistics.median(generate_s) * 1e3, "ms"),
                    "plans.caching.cache_peak_mb": (tracer.cache_peak_bytes / 1e6, "MB"),
                    "trace.overhead_ratio": (
                        statistics.median(traced_s) / statistics.median(plain_s), "ratio"),
                    "trace.coverage": (top / (sum(traced_s) - tracer.overhead_s), "ratio"),
                    "host.rss_jvm_mb": (sampler.peak_jvm / 1e6, "MB"),
                    "host.rss_python_mb": (sampler.peak_py / 1e6, "MB"),
                }
            )
    finally:
        stop_spark(spark)
    if args.trace:
        inflation.append(host_inflation())
        metrics["host.inflation"] = (max(inflation), "ratio")
    return {
        "correct": not problems,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if args.seed < 0:
        parser.error("--seed must be >= 0")
    work = WORK_ROOT / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:
            pass  # another run's directory is still there
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
