"""Seeded benchmark of the sketch, index and dedup layers.

Usage (from the repository root):

    python3 perfbench/run.py --workload sketch_store --seed 1 --seconds 8 --trace 0

Workloads: sketch_store, index_churn, corpus_dedup (see
``workloads.py``).  Each run starts one ``local[nproc]`` Spark session,
sets its workload up twice (set-up time takes the median repeat), warms
it, then runs a closed loop with one client for ``--seconds`` seconds,
checks every output, and prints one JSON object as its last stdout line:
the end-to-end metrics with ``--trace 0`` (CPU seconds of the process
tree: set-up, median op, items per op CPU-second), the per-layer metrics
(spans attributed through the Spark event log, kernel microbenchmarks,
set-up phases, wall times, checks' ratios) with ``--trace 1``.  The line
before it is a record of the run: parallelism, versions, input sizes,
every op's wall and CPU time, phase times.

All scratch state lives under ``.perfbench_work/`` in the working
directory and is removed at exit; spans and the run record are written
to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

#: set-up repeats per run; ``setup_s`` takes their median
SETUP_REPEATS = 2

#: End-to-end metrics count CPU seconds of the process tree, not wall
#: time: on a shared 4-core host the wall time of one op swung up to 2x
#: with other guests' load (steal time), its CPU time about a quarter as
#: much.  Wall times are reported per layer (``op.wall_p50_s``,
#: ``setup.wall_s``).
END_TO_END_UNITS = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "items_per_cpu_s": "1/s",
}


def _tree() -> list[tuple[int, list[str]]]:
    """(pid, /proc stat fields after the command name) of this process
    and every descendant: the JVM and the Python workers it forks."""
    parent, stat = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        parent[int(pid)] = int(fields[1])
        stat[int(pid)] = fields
    root, out = os.getpid(), []
    for pid, fields in stat.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            out.append((pid, fields))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads in process ``pid``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if "Compiler" in head.split("(", 1)[1]:
            fields = rest.split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s() -> float:
    """CPU seconds the process tree has used so far, without the JVM's
    JIT compiler threads.  A process's own user+system time plus its
    reaped children's, summed over the live tree, counts every tick
    once, also of Python workers that exited.  JIT compilation is left
    out because it is warm-up: it keeps running for several ops after
    the warm-up op and drifts from run to run."""
    ticks = 0
    for pid, f in _tree():
        ticks += sum(int(f[i]) for i in (11, 12, 13, 14)) - _jit_ticks(pid)
    return ticks / _TICK


class MemorySampler(threading.Thread):
    """Peak memory of the process tree, sampled from /proc.  Each process
    counts its proportional set size, so pages the forked Python workers
    share with their daemon are counted once."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, sum(self._pss(pid) for pid, _ in _tree()))
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


class Phases:
    """Wall and CPU seconds of named phases; a phase may run repeatedly."""

    def __init__(self):
        self.spent: dict[str, list[tuple[float, float]]] = {}

    @contextlib.contextmanager
    def __call__(self, name: str):
        w0, c0 = time.perf_counter(), tree_cpu_s()
        try:
            yield
        finally:
            self.spent.setdefault(name, []).append(
                (time.perf_counter() - w0, tree_cpu_s() - c0)
            )

    def once(self, name: str, k: int) -> float:
        return self.spent[name][0][k]

    def median(self, name: str, k: int) -> float:
        return statistics.median(x[k] for x in self.spent[name])


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    from spans import SPAN_FIELDS

    names = [
        ("functions.pyxxh.xxh64_longs.ns_per_value", "ns", "lower"),
        ("functions.sketch_codec.coupons_for_longs.ns_per_value", "ns", "lower"),
        ("functions.sketch_codec.serialize_coupons.us_per_sketch", "us", "lower"),
        ("functions.sketch_codec.union_images.us_per_image", "us", "lower"),
        ("functions.agkn.ds_to_agkn.ms_per_sketch", "ms", "lower"),
        ("functions.agkn.agkn_cardinality.us_per_sketch", "us", "lower"),
        ("functions.strm.ds_to_strm.ms_per_sketch", "ms", "lower"),
    ]
    units = {
        "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
        "task_s": "s", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
        "python_s": "s",
    }
    for span in SPANS:
        for f in SPAN_FIELDS:
            names.append((f"{span}.{f}", units[f], "lower"))
    names += [
        ("setup.session_s", "s", "lower"),
        ("setup.generate_s", "s", "lower"),
        ("setup.warm_s", "s", "lower"),
        ("setup.standing_s", "s", "lower"),
        ("setup.wall_s", "s", "lower"),
        ("op.wall_p50_s", "s", "lower"),
        ("op.items_per_wall_s", "1/s", "higher"),
        # JVM heap growth makes the peak swing 10-30% between runs of one
        # workload: too wide for an end-to-end bound, so it is reported here
        ("peak_mem_mb", "MB", "lower"),
        ("build.store_bytes", "bytes", "lower"),
        ("query.max_rel_error", "ratio", "lower"),
        ("churn.recall_at_10", "ratio", "higher"),
        ("churn.rebalances", "count", "lower"),
        ("dedup.pair_recall", "ratio", "higher"),
        ("dedup.pair_precision", "ratio", "higher"),
        ("spark.failed_tasks", "count", "lower"),
        ("trace.overhead_frac", "ratio", "lower"),
    ]
    return names


SPANS = [
    "build.construct",
    "build.write",
    "query.coarse_merge",
    "query.row_merge",
    "query.intersect",
    "query.sql_merge",
    "query.export_agkn",
    "churn.drain",
    "churn.maintainer_batch",
    "churn.topk",
    "dedup.lsh_pairs",
    "dedup.components",
    "dedup.sink",
]


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the JVM exits
    when its stdin closes, and takes the Python workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    cwd = os.getcwd()
    work = os.path.join(
        cwd, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    out_dir = os.path.join(cwd, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temp file (Python, Spark local dirs, the JVM's, Derby's)
    # inside the working directory
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, REPO)
    try:
        return _run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work))


def _run(args, work: str, out_dir: str) -> int:
    try:
        import pyarrow
        import pyspark

        import kernels
        from spans import Tracer, read_event_log, span_metrics, span_records
        from workloads import WORKLOADS

        from spark_alchemy_spark.session import build_session
    except ImportError as e:
        print(f"perfbench: cannot import the library: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    mem = MemorySampler()
    mem.start()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    evt_dir = os.path.join(work, "events")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        # compiler threads that the JVM retires would take their CPU
        # time out of the JIT share that tree_cpu_s() subtracts
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp "
            "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if args.trace:
        os.makedirs(evt_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evt_dir,
                "spark.eventLog.compress": "false",
            }
        )
    phase = Phases()
    with phase("session"):
        spark = build_session(
            "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }

    tracer = Tracer(spark, enabled=False)
    wl = WORKLOADS[args.workload](spark, args.seed, tracer)
    failed_ops = 0
    try:
        for rep in range(SETUP_REPEATS):
            root = os.path.join(work, f"setup{rep}")
            with phase("generate"):
                wl.generate(root)
            with phase("standing"):
                wl.standing(root)
        with phase("warm"):
            wl.warm()

        # closed loop, one client; with --trace 1 every other op is
        # traced so the untraced ones price the tracing itself
        ops: list[tuple[float, float, bool]] = []  # (wall, cpu, traced)
        items = 0
        i = 0
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline:
            wl.prepare(i)
            traced = bool(args.trace) and i % 2 == 0
            tracer.enabled = traced
            w0, c0 = time.perf_counter(), tree_cpu_s()
            try:
                n = wl.op(i)
            except Exception:
                traceback.print_exc()
                failed_ops += 1
                n = 0
            ops.append((time.perf_counter() - w0, tree_cpu_s() - c0, traced))
            tracer.enabled = False
            items += n
            if n:
                wl.after_op(i)
            i += 1
        with phase("check"):
            wl.check()
    finally:
        # wall time only: the JVM's CPU leaves the tree as it exits
        t = time.perf_counter()
        _stop(spark)
        stop_wall = time.perf_counter() - t
        peak_mem = mem.stop()

    attempted = len(ops) + wl.checks.n
    failed = failed_ops + wl.checks.failed
    for note in wl.checks.notes:
        print(f"perfbench: check failed: {note}", file=sys.stderr)

    # set-up: the session once, the median repeat, the warm-up once
    setup_wall, setup_cpu = (
        phase.once("session", k)
        + phase.median("generate", k)
        + phase.median("standing", k)
        + phase.once("warm", k)
        for k in (0, 1)
    )
    op_wall = sum(o[0] for o in ops)
    op_cpu = sum(o[1] for o in ops)
    if args.trace:
        log = read_event_log(evt_dir)
        records = span_records(tracer.spans, log)
        on = [o[1] for o in ops if o[2]]
        off = [o[1] for o in ops if not o[2]]
        overhead = (
            statistics.median(on) / statistics.median(off) - 1.0
            if on and off
            else 0.0
        )
        values = kernels.run(args.seed)
        values.update(span_metrics(records, SPANS))
        values.update(
            {
                "setup.session_s": phase.once("session", 1),
                "setup.generate_s": phase.median("generate", 1),
                "setup.standing_s": phase.median("standing", 1),
                "setup.warm_s": phase.once("warm", 1),
                "setup.wall_s": setup_wall,
                "op.wall_p50_s": statistics.median(o[0] for o in ops),
                "op.items_per_wall_s": items / op_wall if op_wall > 0 else 0.0,
                "peak_mem_mb": peak_mem / 2**20,
                "spark.failed_tasks": log["failed_tasks"],
                "trace.overhead_frac": overhead,
            }
        )
        values.update(wl.extra)
        metrics = {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit, _ in per_layer_names()
        }
    else:
        values = {
            "setup_s": setup_cpu,
            "op_cpu_s": statistics.median(o[1] for o in ops),
            "items_per_cpu_s": items / op_cpu if op_cpu > 0 else 0.0,
        }
        metrics = {
            k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()
        }

    record.update(
        {
            "items": wl.items,
            "ops": len(ops),
            "op_wall_s": [o[0] for o in ops],
            "op_cpu_s": [o[1] for o in ops],
            "setup_wall_s": setup_wall,
            "peak_mem_mb": peak_mem / 2**20,
            "checks": wl.checks.n,
            "inputs": wl.sizes,
            "setup_repeats": SETUP_REPEATS,
            "phases_wall_cpu_s": phase.spent,
            "stop_wall_s": stop_wall,
        }
    )
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
        with open(
            os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w"
        ) as f:
            json.dump({"record": record, "spans": records}, f, indent=1)
    print(json.dumps({"perfbench_record": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
