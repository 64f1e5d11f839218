"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout; everything the run reads or writes stays
inside it (``.perfbench_cache`` for generated inputs, ``.perfbench_work``
for Spark's scratch space, ``.perfbench_out`` for span dumps). Human-readable
lines come first; the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-up cycles per run; setup_s is their median
SETUP_CYCLES = 3
#: driver JVM heap, committed up front (-Xms = -Xmx) so that peak RSS does
#: not depend on when the garbage collector chose to grow the heap
DRIVER_MEMORY = "1g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_environment(work: str, nproc: int) -> None:
    """Keep Spark's scratch files inside the checkout and size Spark to the
    machine, before the JVM starts. ``-XX:-UsePerfData`` stops the JVM from
    writing its perf-data file to the system temp directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:-UsePerfData"',
        f"--conf spark.local.dir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


#: prctl option: orphaned processes below this one are re-parented to it
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt every orphan below this process, so a process started by a
    child (Spark's launcher, started by the JVM) can still be waited for
    once its parent has ended."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from the parent links in ``/proc``."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # "pid (comm) state ppid ...": comm may hold spaces and parentheses
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, IndexError, ValueError):
            continue  # ended while listed
        if state != "Z":
            children[int(ppid)].append(int(entry))
    out, todo = [], [pid]
    while todo:
        below = children[todo.pop()]
        out += below
        todo += below
    return out


def reap() -> bool:
    """Reap every child that has ended; False once no child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def end_descendants(grace_s: float) -> None:
    """Wait until no process below this one is left, reaping each: after
    ``grace_s`` seconds terminate the ones still running, then kill them."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pid in descendants(os.getpid()) if sig else ():
            try:
                os.kill(pid, sig)
            except OSError:
                pass  # ended meanwhile
        deadline = time.monotonic() + wait_s
        while reap():
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        else:
            return


def stop_jvm() -> None:
    """Stop the session and the gateway JVM, if one was started, and wait
    for the JVM and every process it started to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        if SparkSession._instantiatedSession is not None:
            SparkSession._instantiatedSession.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Exception as e:  # noqa: BLE001 - the JVM is stopped below either way
        print(f"perfbench: stopping the session failed: {e}", file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if gateway.proc is not None:
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    end_descendants(grace_s=60.0)


def main(argv=None) -> int:
    """Run one workload; on every way out, stop every process it started."""
    args = parse_args(argv)
    become_subreaper()
    # a terminating signal unwinds the stack, so the clean-up below runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        end_descendants(grace_s=1.0)


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "hbase_taggregator_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    configure_environment(work, nproc)
    sys.path.insert(0, ROOT)

    # imported once the environment is set: the engine, pyspark and tempfile
    # read it
    import workloads as W
    from datagen import DataCache
    from tracing import NullTracer, Tracer

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    tracer = Tracer() if args.trace else NullTracer()
    ctx = W.Ctx(spark=None, work=work, cache=DataCache(os.path.join(ROOT, ".perfbench_cache")),
                seed=args.seed)
    wl = W.WORKLOADS[args.workload](ctx)
    phases = {"start": time.perf_counter()}
    wl.prepare()
    phases["prepare"] = time.perf_counter()

    return measure(args, ctx, wl, tracer, nproc, work, phases)


def measure(args, ctx, wl, tracer, nproc: int, work: str, phases: dict) -> int:
    """Set up, burn in, time, check and report one run."""
    import metrics
    import oracle
    import workloads as W
    from tracing import NullTracer, job_counts, make_progress_listener

    # -- set-up: a fresh session serving its first operation, several times
    setup_s = []
    get_spark_s = []
    for _ in range(SETUP_CYCLES):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = W.new_session(nproc)
        get_spark_s.append(time.perf_counter() - t0)
        wl.warm_up()
        setup_s.append(time.perf_counter() - t0)
    ctx.listener = make_progress_listener(ctx.spark)
    phases["setup"] = time.perf_counter()

    # -- burn-in: untimed operations until the JIT compiler has warmed up
    burn_ops = wl.run(time.perf_counter() + wl.burn_in_s)
    phases["burn-in"] = time.perf_counter()

    # -- timed section: untraced, or half untraced and half traced
    def timed(seconds: float):
        t0 = time.perf_counter()
        ops = wl.run(t0 + seconds)
        return ops, time.perf_counter() - t0

    probe_ops, plain_ops, rates = [], [], {}
    if args.trace:
        # quarters in the order traced, untraced, untraced, traced, so a
        # steady JIT or machine trend shifts both halves alike
        ops, wall = [], 0.0
        for traced in (True, False, False, True):
            ctx.tracer = tracer if traced else NullTracer()
            got, took = timed(args.seconds / 4)
            if traced:
                ops += got
                wall += took
            else:
                plain_ops += got
        probe_ops, rates = W.layer_probes(ctx)
    else:
        ops, wall = timed(args.seconds)
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    rss = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid)}
    peak_rss_mb = sum(rss.values())
    counts = [job_counts(ctx.spark.sparkContext, op.job_group)
              for op in ops + probe_ops if op.job_group and op.kind in W.QUERY_KINDS]
    phases["timed"] = time.perf_counter()
    stop_jvm()
    ctx.spark = None
    phases["stop"] = time.perf_counter()

    # -- correctness, outside the timed section
    checked = burn_ops + plain_ops + ops + probe_ops
    con = oracle.connect(os.path.join(work, "tmp"))
    memo: dict = {}
    failures = []
    for op in checked:
        why = W.verify(con, op, memo)
        if why:
            failures.append(f"{op.kind}: {why}")
    con.close()
    phases["verify"] = time.perf_counter()
    marks = list(phases.items())
    print("phases: " + ", ".join(f"{k} {t - marks[i][1]:.2f} s"
                                 for i, (k, t) in enumerate(marks[1:])))
    for f in failures[:10]:
        print("FAILED", f)

    units = W.unit_latencies_ms(args.workload, ops)
    e2e = {
        "setup_s": metrics.median(setup_s),
        "op_p50_ms": metrics.median(units),
        "ops_per_s": len(units) / wall,
        "rows_per_s": sum(op.rows for op in ops) / wall,
        "peak_rss_mb": peak_rss_mb,
    }
    print(f"workload {args.workload} seed {args.seed}: {len(units)} operations in "
          f"{wall:.2f} s, {len(ops)} timed calls")
    for kind in sorted({op.kind for op in ops}):
        lat = [op.latency_s * 1e3 for op in ops if op.kind == kind]
        print(f"  {kind}: {len(lat)} calls, median {metrics.median(lat):.1f} ms")
    tail = metrics.tail_percentile(units)
    if tail:
        print(f"op_p{tail[0]:g}_ms {tail[1]:.3f} ms ({len(units)} samples)")
    print("peak RSS " + ", ".join(f"{k} {v:.0f} MB" for k, v in rss.items()))
    print(f"cold setup (JVM start) {setup_s[0]:.3f} s; setup cycles "
          + ", ".join(f"{s:.3f}" for s in setup_s))
    attempted, failed = len(checked), len(failures)
    print(f"error_rate {failed / attempted:.6f} ({failed} of {attempted})")

    spec = metrics.END_TO_END
    values = e2e
    if args.trace:
        values = layer_metrics(metrics, tracer, ops, plain_ops, probe_ops, rates, counts,
                               get_spark_s)
        spec = metrics.PER_LAYER
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        dump = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(dump, {"metrics": values, "end_to_end": e2e})
        print(f"spans written to {dump}")
        for name, ms in sorted(tracer.self_times_ms().items(), key=lambda kv: -kv[1]):
            print(f"self {name} {ms:.1f} ms")
    for k, (unit, *_rest) in spec.items():
        print(f"{k} {values[k]:.6g} {unit}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(metrics.result_line(not failures, attempted, failed, values, spec)))
    return 0


def layer_metrics(metrics, tracer, ops, plain_ops, probe_ops, rates, counts,
                  get_spark_s) -> dict:
    """Per-layer values from the traced half, the probes and the listener."""
    med = metrics.median
    traced_batches = [b for op in ops + probe_ops for b in op.batches]
    dur = [b["duration_ms"] for b in traced_batches]

    def overhead_pct() -> float:
        kinds = {op.kind for op in ops} & {op.kind for op in plain_ops}
        traced = sum(med([o.latency_s for o in ops if o.kind == k]) for k in kinds)
        plain = sum(med([o.latency_s for o in plain_ops if o.kind == k]) for k in kinds)
        return (traced / plain - 1) * 100

    return {
        "session.get_spark_s": med(get_spark_s),
        "sources.parquet.load_table_ms": med(tracer.durations_ms("sources.parquet.load_table")),
        **rates,
        "operators.timeseries.plan_ms": med(tracer.durations_ms("operators.timeseries.plan")),
        "operators.timeseries.execute_ms": med(
            tracer.durations_ms("operators.timeseries.execute")),
        "operators.timeseries.jobs_per_query": med([c[0] for c in counts]),
        "operators.timeseries.stages_per_query": med([c[1] for c in counts]),
        "operators.timeseries.tasks_per_query": med([c[2] for c in counts]),
        "operators.timeseries.continuous_rollup_ms": med(
            tracer.durations_ms("operators.timeseries.continuous_rollup")),
        "operators.timeseries.merge_rollups_ms": med(
            tracer.durations_ms("operators.timeseries.merge_rollups")),
        "sources.sinks.write_parquet_ms": med(tracer.durations_ms("sources.sinks.write_parquet")),
        "streaming.trigger_ms": med([d["triggerExecution"] for d in dur]),
        "streaming.add_batch_ms": med([d.get("addBatch", 0) for d in dur]),
        "streaming.commit_ms": med([d.get("walCommit", 0) + d.get("commitOffsets", 0)
                                    for d in dur]),
        "streaming.state_rows": med([b["state_rows"] for b in traced_batches]),
        "streaming.state_commit_ms": med([b["state_commit_ms"] for b in traced_batches]),
        "trace.overhead_pct": overhead_pct(),
    }


if __name__ == "__main__":
    sys.exit(main())
