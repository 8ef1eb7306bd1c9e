"""Benchmark of the public ``sifts_spark.Collection`` API.

    python3 perfbench/run.py --workload serve_query_mix --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. One process, one ``local[nproc]``
Spark session and one closed-loop client. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` measures half its cycles untraced and
half traced, prints the per-layer metrics plus the tracing overhead, and
writes the spans to ``.perfbench_out/``. The last line of standard output
is the JSON result; the lines before it are a readable report. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from typing import NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
DRIVER_MEMORY = "1g"


def percentile_tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it →
    (value, percentile, samples). With ten samples or fewer no percentile
    qualifies and the maximum is returned with percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the Spark JVM."""
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def start_spark(work: str, trace: bool):
    from sifts_spark import get_spark

    cpus = os.cpu_count() or 1
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only: a run lasts about a minute, and with C2 the JIT would
        # still be compiling while the measured calls run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1",
    }
    if not trace:  # the UI and its REST API serve only the traced run
        conf["spark.ui.enabled"] = "false"
    else:  # keep every traced job and stage in the UI store
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tree_cpu_s(root_pid: int | None) -> float:
    """CPU seconds used so far by this process, ``root_pid`` and every
    descendant of it (the Spark JVM and its Python workers), reaped
    children included. CPU time leaves out the time the host does not run
    the process, so on a shared host it varies far less than wall time."""
    t = time.process_time()
    if root_pid is None:
        return t
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while /proc was read
                continue
            # fields[1] is the parent pid; [11:15] utime stime cutime cstime
            stats[int(pid)] = (int(fields[1]), sum(map(int, fields[11:15])))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    todo, ticks = [root_pid], 0
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += stats[pid][1]
            todo.extend(kids.get(pid, ()))
    return t + ticks / tick


class Sample(NamedTuple):
    kind: str
    cat: str
    seconds: float
    ok: bool
    docs: int
    cpu: float = 0.0  # CPU seconds of the process tree during the call


class Loop:
    """The closed-loop client: runs whole cycles of the workload's
    operations, timing each call and checking it untimed."""

    def __init__(self, wl, tracer=None, counters=None, pid=None):
        self.wl, self.tracer, self.counters, self.pid = wl, tracer, counters, pid
        self.samples: list[Sample] = []
        self.wall = 0.0
        self.errors: list[str] = []

    def run(self, cycles: int) -> "Loop":
        t0 = time.perf_counter()
        for _ in range(cycles):
            for op in self.wl.cycle():
                self.one(op)
        self.wall = time.perf_counter() - t0
        return self

    def warm_up(self) -> "Loop":
        """One cycle that runs only the first operation of each kind. A
        kind that repeats within a cycle is a read, so skipping it leaves
        the collection and the model in step."""
        t0 = time.perf_counter()
        seen = set()
        for op in self.wl.cycle():
            if op.kind not in seen:
                seen.add(op.kind)
                self.one(op)
        self.wall = time.perf_counter() - t0
        return self

    def one(self, op) -> None:
        n = len(self.samples)
        if self.counters:
            self.counters.begin(n, op.kind)
        if self.tracer:
            self.tracer.op_id = n
        span = self.tracer.span(f"op.{op.kind}") if self.tracer else nullcontext()
        ok, docs, raised = False, 0, False
        cpu = tree_cpu_s(self.pid)
        t = time.perf_counter()
        try:
            with span:
                result = op.fn()
        except Exception:
            self.errors.append(traceback.format_exc())
            raised = True
        dt = time.perf_counter() - t
        cpu = tree_cpu_s(self.pid) - cpu
        if self.tracer:
            self.tracer.op_id = None
        if self.counters:
            self.counters.end()
        if self.tracer and not raised:
            self.tracer.count_pairs()
        if not raised:
            try:
                ok = bool(op.check(result))
            except Exception:
                self.errors.append(traceback.format_exc())
            else:
                if not ok:
                    self.errors.append(f"wrong answer from {op.kind}")
                docs = op.docs
        self.samples.append(Sample(op.kind, op.cat, dt, ok, docs, cpu))

    def lat(self, cat: str) -> list[float]:
        return [x.seconds for x in self.samples if x.cat == cat]


def gmean_of_medians(samples, cat: str) -> float:
    """Geometric mean, over the operation kinds of category ``cat``, of
    each kind's median latency: every kind weighs the same, and a median
    that would fall between two kinds' latencies cannot flip with noise."""
    by_kind: dict[str, list[float]] = {}
    for x in samples:
        if x.cat == cat:
            by_kind.setdefault(x.kind, []).append(x.seconds)
    meds = [statistics.median(xs) for xs in by_kind.values()]
    return math.exp(sum(math.log(x) for x in meds) / len(meds))


def end_to_end(wl, loop: Loop, setup: list[float], rss: float) -> dict:
    """The bounded metrics. Per-call costs are CPU seconds: on a shared
    host the wall time of one run varied up to 2x within an hour, so wall
    latencies go to the readable report and the per-layer metrics."""
    prim = [x.cpu for x in loop.samples if x.cat == wl.primary]
    reads = [x.cpu for x in loop.samples if x.cat == "read"]
    return {
        "setup_s": (statistics.median(setup), "s"),
        "cpu_s_per_op": (statistics.mean(prim), "s"),
        "read_cpu_s": (statistics.mean(reads), "s"),
        "docs_per_cpu_s": (sum(x.docs for x in loop.samples)
                           / sum(x.cpu for x in loop.samples), "1/s"),
        "space_amp": (wl.space_amp(), "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }


def per_layer(wl, loop: Loop, plain: Loop, tracer, counters) -> dict:
    """Per-operation layer numbers from the traced half of the run. Every
    workload reports every metric; a layer it does not reach reads 0."""
    from perfbench.trace import LAYERS
    from perfbench.workloads import WORKLOADS

    ops = len(loop.samples)
    selfs, calls = tracer.layer_totals()
    print("layer calls per op: " + ", ".join(
        f"{k} {v / ops:.2f}" for k, v in sorted(calls.items())))
    out = {f"{name}_s": (selfs.get(name, 0.0) / ops, "s/op")
           for name in dict.fromkeys(n for *_, n in LAYERS)}
    # time inside the measured calls that no traced layer covers: mostly
    # the Spark actions the calls run
    out["op.other_s"] = (sum(v for k, v in selfs.items() if k.startswith("op.")) / ops, "s/op")
    for cls in WORKLOADS.values():
        for k in dict.fromkeys(cls.kinds):
            xs = [x.seconds for x in loop.samples if x.kind == k and cls is type(wl)]
            out[f"{cls.tag}.{k}.p50_s"] = (statistics.median(xs) if xs else 0.0, "s")
    ex = counters.executor_totals()
    out.update({
        "spark.jobs_per_op": (counters.jobs / ops, "count"),
        "spark.stages_per_op": (counters.stages / ops, "count"),
        "spark.tasks_per_op": (counters.tasks / ops, "count"),
        "spark.executor_run_s": (ex["executor_run_s"] / ops, "s/op"),
        "spark.gc_s": (ex["gc_s"] / ops, "s/op"),
        "spark.input_bytes": (ex["input_bytes"] / ops, "B/op"),
        "spark.shuffle_bytes": (ex["shuffle_bytes"] / ops, "B/op"),
        "caching.persisted_after_op": (statistics.mean(counters.persisted), "count"),
    })
    extra = wl.extra()
    for k, unit in [("store.write_amp", "ratio"), ("store.live_batches", "count"),
                    ("dedup.recall", "ratio"), ("dedup.removed", "count")]:
        out[k] = (extra.get(k, 0.0), unit)
    found = tracer.pairs_found
    out["dedup.pairs_found"] = (statistics.mean(found) if found else 0.0, "count")
    out["error_rate"] = (sum(not x.ok for x in loop.samples) / ops, "ratio")
    out["trace.overhead_s"] = (
        gmean_of_medians(loop.samples, wl.primary)
        - gmean_of_medians(plain.samples, wl.primary), "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sifts_spark", "__init__.py")):
        print(f"perfbench: no sifts_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        setup = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(rep)
            setup.append(time.perf_counter() - t)
        wl.after_setup()
        # untimed: the first calls of a fresh JVM run 2-3x slower. The
        # measured cycles continue on the same collection and model.
        pid = jvm.pid if jvm is not None else None
        warm_loop = Loop(wl, pid=pid).warm_up()
        # the measured work is fixed by --seconds, so that every seed and
        # every commit runs the same operations through the same warm-up
        cycles = max(1, int(args.seconds // wl.nominal_cycle_s))
        if not args.trace:
            loop = plain = Loop(wl, pid=pid).run(cycles)
        else:
            from perfbench.trace import SparkCounters, Tracer

            plain = Loop(wl, pid=pid).run(max(1, cycles // 2))
            tracer, counters = Tracer(), SparkCounters(spark)
            tracer.install()
            try:
                loop = Loop(wl, tracer, counters, pid).run(max(1, cycles // 2))
            finally:
                tracer.uninstall()
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
        rss = peak_rss_mb(pid)
        if args.trace:
            metrics = per_layer(wl, loop, plain, tracer, counters)
        else:
            metrics = end_to_end(wl, loop, setup, rss)
        loops = [warm_loop, plain] + ([loop] if args.trace else [])
        samples = [x for lp in loops for x in lp.samples]
        errors = [e for lp in loops for e in lp.errors]
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in errors[:3]:
        print(e, file=sys.stderr)
    attempted = len(samples)
    failed = sum(not x.ok for x in samples)
    report(args, wl, warm_loop, loop, setup, session_s, rss, attempted, failed)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def report(args, wl, warm_loop, loop, setup, session_s, rss, attempted, failed) -> None:
    """Readable report, in the workload's own terms."""
    prim = loop.lat(wl.primary)
    tail, pct, n = percentile_tail(prim)
    name = {"read": "query", "write": "write"}[wl.primary]
    lines = [
        f"workload {args.workload} seed {args.seed} trace {args.trace}",
        f"session_start_s {session_s:.3f} s",
        f"setup_s {statistics.median(setup):.3f} s (median of {len(setup)}: "
        + ", ".join(f"{x:.3f}" for x in setup) + ")",
        f"warmup_s {warm_loop.wall:.3f} s (untimed: "
        + ", ".join(f"{x.kind} {x.seconds:.2f}" for x in warm_loop.samples) + ")",
        f"{name}_p50_s {statistics.median(prim):.4f} s",
        f"{name}_tail_s {tail:.4f} s (p{pct:.0f} of {n} samples)",
        f"wall_s {loop.wall:.3f} s, cpu_s {sum(x.cpu for x in loop.samples):.3f} s, "
        f"ops {len(loop.samples)}",
        f"peak_rss_mb {rss:.1f} MB",
        f"error_rate {failed / attempted:.4f} ({failed} of {attempted})",
    ]
    for k, v in wl.extra().items():
        lines.append(f"{k} {v:.4f}")
    for k in dict.fromkeys(x.kind for x in loop.samples):
        xs = [x.seconds for x in loop.samples if x.kind == k]
        cpus = [x.cpu for x in loop.samples if x.kind == k]
        lines.append(f"  {k}: n={len(xs)} p50={statistics.median(xs):.4f} s  ["
                     + " ".join(f"{x:.3f}" for x in xs) + "]  cpu ["
                     + " ".join(f"{x:.2f}" for x in cpus) + "]")
    print("\n".join(lines))


if __name__ == "__main__":
    sys.exit(main())
