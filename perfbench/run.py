"""Benchmark for the txtlogparser_spark log pipeline.

    python3 perfbench/run.py --workload batch_hot_wordlocal --seed 1 --seconds 10 --trace 0

Builds its inputs from --seed (cached under perfbench/.state), checks every
pass against the pure-Python oracle, and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, taken from a traced run. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE = os.path.join(BENCH_DIR, ".state")
SETUPS = 3
# The first pass after the set-ups still runs 10-40% slow and later passes
# vary by about 10%, so a run times at least three passes and reports their
# median; with a time floor alone the count flipped between 2 and 3.
MIN_PASSES = 3


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


# ---- process environment: everything stays inside the checkout ----


def _isolate_environment() -> str:
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")
    sys.path.insert(0, ROOT)
    return tmp


def _ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def start_spark(tmp: str):
    """local[nproc], driver heap an eighth of RAM (1-4 GB), no UI and no
    console progress bars."""
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    mem_mb = min(4096, max(1024, _ram_mb() // 8))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem_mb}m")
        # the heap is reserved and touched up front, so peak RSS does not
        # swing with G1's heap-growth timing (it moved by 35% between runs
        # of the same code); it then moves with memory outside the Java
        # heap: Python driver and workers, Arrow and JVM off-heap buffers
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem_mb}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it (its Python workers end with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ---- peak RSS of this process, its JVM and its Python workers ----


def _children() -> dict:
    """{ppid: [pid, ...]} over every process now in /proc."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    return children


def _tree_rss_bytes(root: int) -> int:
    children = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent_exe = todo.pop()
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except OSError:
            continue
        # the JVM runs helper commands (chmod, rm) through short-lived
        # clones that share its address space until they exec; counting
        # one would add the whole JVM a second time
        if exe == parent_exe and os.path.basename(exe) == "java":
            continue
        total += rss
        todo.extend((c, exe) for c in children.get(pid, []))
    return total


class PeakRss:
    def __init__(self, interval: float = 0.25) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)

    def _run(self, interval: float) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._stop.wait(interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---- child processes: none outlives the run ----

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a
    descendant whose parent exits (a Python worker of Spark's daemon, a
    helper of the pool that computes the oracle) is re-parented here instead
    of to init, so `end_descendants` still finds and waits for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _descendants(root: int) -> list:
    children = _children()
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace: float = 15.0, limit: float = 30.0) -> None:
    """SIGTERM every process below this one, SIGKILL those still there
    after `grace` seconds, and reap each until none is left."""
    t0 = time.monotonic()
    signalled: set = set()
    while True:
        _reap()
        alive = _descendants(os.getpid())
        if not alive:
            return
        elapsed = time.monotonic() - t0
        if elapsed > limit:
            raise RuntimeError(f"child processes {alive} did not end")
        sig = signal.SIGTERM if elapsed < grace else signal.SIGKILL
        for pid in alive:
            if (pid, sig) not in signalled:
                signalled.add((pid, sig))
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# ---- runs ----


class Ops:
    """Counts passes; a pass that raises or disagrees with the oracle fails."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, label: str, fn, spark, tr):
        self.attempted += 1
        try:
            res = fn(spark, tr)
        except Exception:  # one failed pass must not end the run
            self.failed += 1
            print(f"FAILED {label}:", file=sys.stderr)
            traceback.print_exc()
            return None
        if res["errors"]:
            self.failed += 1
            for e in res["errors"]:
                print(f"MISMATCH {label}: {e}", file=sys.stderr)
            return None
        return res


def _prepare(wl, seed: int):
    from workloads import expectations_for, fixture_for

    fx = fixture_for(os.path.join(STATE, "cache"), wl.spec, seed)
    return fx, expectations_for(wl, fx)


def _runner(wl, fx, expect):
    from workloads import BatchPass, SessionCycle

    if wl.kind == "batch":
        return BatchPass(wl, fx, expect, os.path.join(STATE, "out", wl.name))
    return SessionCycle(fx, expect)


class Bench:
    """One SparkSession at a time plus the operation counts of the run."""

    def __init__(self, tmp: str) -> None:
        self.tmp = tmp
        self.ops = Ops()
        self.spark = None

    def start(self) -> None:
        self.spark = start_spark(self.tmp)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark and its JVM and wait for the JVM to exit."""
        self.stop()
        shutdown_jvm()

    def run(self, label: str, fn, tr):
        return self.ops.run(label, fn, self.spark, tr)

    def measure(self, seconds: float, passes: list, min_rounds: int = 1) -> None:
        """Closed loop: each pass starts when the previous result is
        collected. Rounds of `passes` ((label, fn, tracer, results)) repeat,
        in alternating order so no kind always runs first, until `seconds`
        have passed and `min_rounds` have succeeded."""
        t0 = time.perf_counter()
        while True:
            for label, fn, tr, out in passes:
                r = self.run(label, fn, tr)
                if r is not None:
                    out.append(r)
            passes = passes[::-1]
            elapsed = time.perf_counter() - t0
            done = all(len(out) >= min_rounds for *_, out in passes)
            # a pass that keeps failing must not hold the run open
            if elapsed >= seconds and (done or elapsed >= 4 * seconds):
                return

    def result(self, metrics: dict) -> dict:
        return {
            "correct": self.ops.failed == 0,
            "attempted": self.ops.attempted,
            "failed": self.ops.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def _median(results: list, key: str) -> float:
    return statistics.median(r[key] for r in results)


def run_e2e(args, wl, bench: Bench) -> dict:
    from layers import Tracer

    t = time.perf_counter()
    fx, expect = _prepare(wl, args.seed)
    prepare_s = time.perf_counter() - t
    run_pass = _runner(wl, fx, expect)
    off = Tracer(False)
    setups: list = []
    results: list = []
    with PeakRss() as rss:
        # set-up 1 counts from process start, less the one-time input
        # generation; set-ups 2.. restart the SparkSession in this process,
        # so each warm-up pass again meets cold Python workers
        t = T_PROCESS + prepare_s
        for k in range(SETUPS):
            if k:
                bench.stop()
                t = time.perf_counter()
            bench.start()
            _prepare(wl, args.seed)  # cached: fixture paths + expectations
            bench.run(f"warm-up {k + 1}", run_pass, off)
            setups.append(time.perf_counter() - t)
        bench.measure(args.seconds, [("pass", run_pass, off, results)], MIN_PASSES)
    bench.close()
    if not results:
        raise SystemExit("no pass succeeded")
    print(
        f"{wl.name} seed={args.seed}: e2e_s per pass "
        f"{[round(r['e2e_s'], 3) for r in results]}, set-ups "
        f"{[round(s, 3) for s in setups]}, input prepare {prepare_s:.2f}s"
    )
    e2e = _median(results, "e2e_s")
    return bench.result({
        "e2e_s": (e2e, "s"),
        "throughput_seq_per_s": (wl.spec.n_rows / e2e, "1/s"),
        "first_view_s": (_median(results, "first_view_s"), "s"),
        "reroute_s": (_median(results, "reroute_s"), "s"),
        "setup_s": (statistics.median(setups), "s"),
        "peak_rss_mb": (rss.peak / 1e6, "MB"),
    })


def run_traced(args, wl, bench: Bench) -> dict:
    """Per-layer metrics. Every traced run reports every layer: a layer the
    workload's own pass does not call is taken from one traced pass of the
    other kind (batch or session) over that kind's input at the same seed."""
    import workloads as W
    from layers import Probes, Tracer, kernel_probes, sink_stats, spark_layer_probes

    other = W.WORKLOADS["session_reroute" if wl.kind == "batch" else "batch_hot_wordlocal"]
    fx, expect = _prepare(wl, args.seed)
    own = _runner(wl, fx, expect)
    cross = _runner(other, *_prepare(other, args.seed))
    off, tr = Tracer(False), Tracer(True)
    probes = Probes()

    bench.start()
    # two warm-up passes: the first pass after one is still slow, which
    # would bias the overhead estimate below
    bench.run("warm-up 1", own, off)
    bench.run("warm-up 2", own, off)
    plain: list = []
    traced: list = []
    bench.measure(
        args.seconds, [("pass", own, off, plain), ("traced pass", own, tr, traced)], 2
    )
    bench.run("cross warm-up", cross, off)
    bench.run("cross traced pass", cross, tr)

    primary = wl.oracle_workspaces().get("batch") or W.launcher_workspace()
    spark_layer_probes(bench.spark, fx, primary, W.VOCAB, probes)
    bench.close()
    sink_stats((own if wl.kind == "batch" else cross).sink_dir, probes)
    kernel_probes(
        dataclasses.replace(wl.spec, seed=args.seed),
        W.VOCAB, W.launcher_workspace(), W.generic_workspace(),
        W.session_workspaces(), probes,
    )

    own_root = "batch_pass" if wl.kind == "batch" else "session_cycle"
    layer_spans = {
        "pipeline.plan_s": ("batch_pass", "pipeline.plan", True),
        "pipeline.sink_write_s": ("batch_pass", "pipeline.write_sinks", True),
        "pipeline.display_s": ("batch_pass", "pipeline.display", True),
        "aggregate.counts_s": (own_root, "aggregate.counts", True),
        "session.parse_cache_s": ("session_cycle", "session.parse_cache", True),
        **{
            f"session.step_s.{name}": ("session_cycle", f"session.step.{name}", False)
            for name, _, _ in W.SESSION_STEPS
        },
    }
    for metric, (root, name, self_time) in layer_spans.items():
        xs = tr.per_root(root, name, self_time=self_time)
        if xs:
            probes.put(metric, statistics.median(xs), "s")
        else:
            probes.absent[metric] = f"no successful traced {root}"
    for note, unit in (("pipeline.rows_routed", "count"), ("session.cache_mb", "MB")):
        if tr.notes.get(note):
            probes.put(note, tr.notes[note][-1], unit)
        else:
            probes.absent[note] = "no successful traced pass recorded it"
    if plain and traced:
        probes.put(
            "trace.overhead_s", _median(traced, "e2e_s") - _median(plain, "e2e_s"), "s"
        )

    tr.dump(
        os.path.join(STATE, "out", f"trace-{wl.name}-seed{args.seed}.json"),
        {"absent": probes.absent},
    )
    print(
        "note: operators.enrich and operators.route run inside the JVM plan and "
        "have no call of their own to time; their cost is the remainder of "
        "pipeline.span_stage_s after sources.scan_s, token_prefilter.s and the "
        "span kernel"
    )
    for name, reason in sorted(probes.absent.items()):
        print(f"absent: {name}: {reason}")
    return bench.result(probes.metrics)


def main() -> int:
    args = parse_args()
    tmp = _isolate_environment()
    import workloads  # needs the package; fails outside a full checkout

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    adopt_orphans()
    bench = Bench(tmp)
    try:
        res = (run_traced if args.trace else run_e2e)(args, wl, bench)
    finally:
        try:
            bench.close()
        finally:
            end_descendants()
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
