"""Linkage benchmark: two-party linkage and exact near-duplicate dedup.

Usage, from the repository root::

    python3 perfbench/run.py --workload linkage --seed 1 --seconds 1 --trace 0

One process runs Spark on ``local[<cpus>]`` (cpus = the CPUs this
process may run on). Set-up starts the session, makes the seeded inputs
and runs one warm-up pass (``setup_s`` is its CPU time). An untraced run
then runs one pass from a full GC, over which it averages resident
memory (``mean_rss_mb``), and repeats checked passes until ``--seconds``
seconds have gone (at least one), reporting medians of their CPU time.
The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``. A traced run alternates untraced and traced passes, so
the tracing overhead is the difference of the two. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
SPEC = os.path.join(ROOT, "BENCHMARK.json")

# per-layer metric field -> span field it reads, where the names differ
# (per-layer metrics are named "<layer>.<field>" in BENCHMARK.json)
FIELD_SOURCE = {"write_s": "wall_s", "pairs_out": "rows_out",
                "matches_out": "rows_out", "pairs_in": "rows_in"}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def read_stat(path: str) -> tuple[str, list[str]] | None:
    """Command name and the fields after it (state first) of a /proc
    ``stat`` file."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def proc_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    stat = read_stat(f"/proc/{pid}/stat")
    return stat and stat[1]


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (stat := proc_stat(int(name))):
            children.setdefault(int(stat[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants
    (user + system, plus what they collected from children they reaped)."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        if fields := proc_stat(pid):
            total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def pss_mb(pid: int) -> float:
    """Proportional resident memory: shared pages (the Python workers are
    forked from one daemon) are split among the processes sharing them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Rss:
    """Samples the summed proportional resident memory of this process's
    descendants (the driver JVM and the Python workers): ``peak`` is the
    largest sample, ``measured`` holds the samples taken while
    ``measuring`` is set. ``seen`` maps every descendant sampled to its
    start time, so the run can wait for each of them, the ones the JVM
    orphaned included."""

    def __init__(self, interval: float = 0.25):
        self.interval, self.peak = interval, 0.0
        self.measuring = False
        self.measured: list[float] = []
        self.seen: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = descendants(me)
            for pid in pids:
                if pid not in self.seen and (stat := proc_stat(pid)):
                    self.seen[pid] = stat[19]
            total = sum(pss_mb(p) for p in pids)
            self.peak = max(self.peak, total)
            if self.measuring:
                self.measured.append(total)
            self._stop.wait(self.interval)

    def own_cpu_s(self) -> float:
        """CPU seconds the sampling thread itself used so far."""
        stat = read_stat(f"/proc/self/task/{self._thread.native_id}/stat")
        return (int(stat[1][11]) + int(stat[1][12])) / os.sysconf("SC_CLK_TCK") if stat else 0.0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def jit_cpu_s() -> float:
    """CPU seconds the JVM's JIT compiler threads used so far. The JVM
    keeps a fixed set of them (see :func:`work_environment`), so none
    exits and takes its count along."""
    ticks = 0
    for pid in descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            stat = read_stat(f"/proc/{pid}/task/{tid}/stat")
            if stat and stat[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                ticks += int(stat[1][11]) + int(stat[1][12])
    return ticks / os.sysconf("SC_CLK_TCK")


def full_gc(spark) -> None:
    """A full collection in the driver JVM. G1 then gives the heap it
    does not need back to the OS, so the pass that follows grows the heap
    from the same state, not from however far set-up happened to grow
    it."""
    spark.sparkContext._jvm.System.gc()


def alive(pid: int, start: str) -> bool:
    """Whether the process that had ``pid`` and start time ``start`` runs."""
    stat = proc_stat(pid)
    return stat is not None and stat[19] == start and stat[0] != "Z"


def reap(procs: dict[int, str], timeout: float = 30.0) -> None:
    """Wait until every process in ``procs`` (pid -> start time) has
    ended; kill stragglers."""
    deadline = time.monotonic() + timeout
    while True:
        for pid in procs:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        left = [p for p, start in procs.items() if alive(p, start)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def host_bandwidth(cpus: int) -> float:
    """Host memory-bandwidth phase, GB/s, from the repository's probe."""
    from tools.bench_boxscaling import measure

    return measure(cpus, prefault=True)


def work_environment() -> str:
    """Make a per-process work dir under the checkout and point Spark's
    local dirs, temp files and the Python workers' import path at it.
    The JVM keeps its JIT compiler threads for its whole life (HotSpot
    otherwise starts and stops them with the compile queue), so their
    CPU can be read, and left out of a pass's CPU, from /proc."""
    workdir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(workdir, exist_ok=True)
    for key, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[key] = os.path.join(workdir, sub)
        os.makedirs(os.environ[key], exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return workdir


def remove_work_dir(workdir: str) -> None:
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(workdir))  # only when no other run uses it
    except OSError:
        pass


def start_spark(cpus: int):
    from pprl_spark.session import get_spark

    return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                     shuffle_partitions=cpus)


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def median(values):
    return statistics.median(values) if values else 0.0


def layer_metrics(names: list[str], spans: list[dict], traced: dict[int, float],
                  untraced: list[float]) -> dict:
    """Medians over the traced passes of each layer's per-pass totals.

    ``names`` are the per-layer metric names of ``BENCHMARK.json``;
    ``traced`` maps pass id -> pass wall time. ``trace.wall_s`` is that
    wall minus the tracer's own bookkeeping (status-store reads and row
    counts); ``trace.overhead_s`` is the full traced wall minus the
    median untraced wall of the same run.
    """
    from perfbench.tracing import layer_table

    table = layer_table(spans)
    per_pass: dict[str, list[float]] = {}
    for pass_id, wall in traced.items():
        layers = table.get(pass_id, {})
        bookkeeping = sum(s.get("trace_s", 0.0) for s in layers.values())
        row = {
            "trace.layer_sum_s": sum(s.get("wall_s", 0.0) for s in layers.values()),
            "trace.wall_s": wall - bookkeeping,
            "trace.bookkeeping_s": bookkeeping,
            "trace.overhead_s": wall - median(untraced),
        }
        for name in names:
            layer, f = name.split(".", 1)
            if layer not in ("trace", "host"):
                row[name] = layers.get(layer, {}).get(FIELD_SOURCE.get(f, f), 0.0)
        for key, value in row.items():
            per_pass.setdefault(key, []).append(value)
    out = {key: median(values) for key, values in per_pass.items()}
    out["trace.untraced_wall_s"] = median(untraced)
    return out


def print_layer_table(workload: str, metrics: dict) -> None:
    print(f"per-layer medians over traced passes, workload {workload}:")
    layers: dict[str, list[str]] = {}
    for name, value in metrics.items():
        layer, f = name.split(".", 1)
        layers.setdefault(layer, []).append(f"{f}={value:.4g}")
    for layer, cells in layers.items():
        if layer not in ("trace", "host") and any(
                v for k, v in metrics.items() if k.startswith(layer + ".")):
            print(f"  {layer:<12} " + " ".join(cells))
    print(f"  traced wall {metrics['trace.wall_s']:.4g} s (without "
          f"{metrics['trace.bookkeeping_s']:.4g} s of trace bookkeeping): layers "
          f"sum to {metrics['trace.layer_sum_s']:.4g} s, the rest is output checks")
    print(f"  untraced wall {metrics['trace.untraced_wall_s']:.4g} s; tracing "
          f"overhead {metrics['trace.overhead_s']:+.4g} s per pass")


def checked_pass(wl):
    """One pass of ``wl``; a pass that raises is a failed operation, not
    the end of the run."""
    from perfbench.workloads import Outcome

    try:
        return wl.run_pass()
    except Exception:
        traceback.print_exc()
        return Outcome(failed=1, problems=["pass raised"])


def bench(spec: dict, workload: str, seed: int, seconds: float, trace: bool,
          toy: bool) -> dict:
    from perfbench.tracing import Tracer
    from perfbench.workloads import SIZES, TOY_SIZES, WORKLOADS

    cpus = cpu_count()
    workdir = work_environment()
    context = {"workload": workload, "seed": seed, "cpus": cpus,
               "master": f"local[{cpus}]", "toy": toy}
    if trace:
        context["host_dram_gbps"] = host_bandwidth(cpus)
    sizes = (TOY_SIZES if toy else SIZES)[workload]
    context["sizes"] = sizes
    os.chdir(workdir)  # the session's warehouse and logs stay in the work dir
    spark = None
    try:
        with Rss() as rss:
            def work_cpu_s() -> float:
                # the run's CPU without the sampler's own
                return tree_cpu_s() - rss.own_cpu_s()

            t0, c0 = time.perf_counter(), work_cpu_s()
            spark = start_spark(cpus)
            tracer = Tracer(spark, workload, enabled=False)
            wl = WORKLOADS[workload](spark, tracer, seed, sizes, workdir)
            wl.setup()
            t_answers, c_answers = time.perf_counter(), work_cpu_s()
            wl.answers()  # the checks' answer key: not part of set-up
            answers_s = time.perf_counter() - t_answers
            answers_cpu_s = work_cpu_s() - c_answers
            warm = checked_pass(wl)  # warm-up: JIT, codegen, workers
            setup_cpu_s = work_cpu_s() - c0 - answers_cpu_s
            context["setup_wall_s"] = time.perf_counter() - t0 - answers_s
            problems = list(warm.problems)
            results = {False: [], True: []}  # traced? -> [(pass id, wall, outcome)]
            deadline = time.perf_counter() + seconds
            checked = [warm]
            if not trace:
                # memory is measured on a pass of its own: one that starts
                # from a full GC spends CPU regrowing the heap, which the
                # passes timed for CPU should not vary with
                full_gc(spark)
                rss.measuring = True
                checked.append(checked_pass(wl))
                rss.measuring = False
                problems += checked[-1].problems
            n = 0
            while True:
                traced = trace and n % 2 == 1
                tracer.enabled, tracer.pass_id = traced, n
                tp, cp, jp = time.perf_counter(), work_cpu_s(), jit_cpu_s()
                out = checked_pass(wl)
                out.jit_cpu_s = jit_cpu_s() - jp
                out.cpu_s = work_cpu_s() - cp - out.jit_cpu_s
                results[traced].append((n, time.perf_counter() - tp, out))
                problems += out.problems
                n += 1
                done_modes = all(results[m] for m in ((False, True) if trace else (False,)))
                if time.perf_counter() >= deadline and done_modes:
                    break
        context.update(wl.context())
        context.update(tracer.context)
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        remove_work_dir(workdir)
    reap({**rss.seen, **{p: st[19] for p in descendants(os.getpid())
                         if (st := proc_stat(p))}})

    outcomes = checked + [o for runs in results.values() for _, _, o in runs]
    attempted = len(outcomes)
    failed = sum(o.failed for o in outcomes)
    context["problems"] = problems[:20]
    plain = [o for _, _, o in results[False]]
    walls = [w for _, w, _ in results[False]]
    if trace:
        metrics = layer_metrics([m["name"] for m in spec["per_layer"]], tracer.spans,
                                {n: w for n, w, _ in results[True]}, walls)
        metrics["host.dram_gbps"] = context["host_dram_gbps"]
        print_layer_table(workload, metrics)
    else:
        cpu_s = median([o.cpu_s for o in plain])
        metrics = {
            "setup_s": setup_cpu_s,
            "cpu_s": cpu_s,
            "docs_per_cpu_s": wl.docs / cpu_s,
            "f1": median([o.f1 for o in plain]),
            "mean_rss_mb": statistics.fmean(rss.measured) if rss.measured else rss.peak,
        }
        # wall-clock times are reported, not gated: between runs they move
        # with the host's CPU steal far more than CPU time does
        context["wall_s"] = median(walls)
        context["jit_cpu_s"] = median([o.jit_cpu_s for o in plain])
        context["peak_rss_mb"] = rss.peak
        context["docs_per_s"] = wl.docs / context["wall_s"]
    context["pass_walls_s"] = {"untraced": walls, "traced": [w for _, w, _ in results[True]]}
    context["pass_cpu_s"] = [o.cpu_s for o in plain]
    print(json.dumps({"context": context}))
    return {"correct": failed == 0 and not problems, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="toy input sizes (the self-test)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pprl_spark")):
        print(f"perfbench: no pprl_spark package under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    with open(SPEC) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    result = bench(spec, args.workload, args.seed, args.seconds, bool(args.trace), args.toy)
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    result["metrics"] = {name: {"value": result["metrics"][name], "unit": unit}
                         for name, unit in units.items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
