"""Steady-state benchmark of the lakehouse engine.

    python3 perfbench/run.py --workload image_table --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. One Spark session per run:

1. set-up (reported as ``setup_s``): start the JVM, generate the
   workload's inputs from the seed, then run a fixed number of warm-up
   passes (after which the CPU per pass has stopped falling);
2. measured passes until ``--seconds`` of passes have run;
3. print one JSON line with the end-to-end metrics (``--trace 0``) or
   the per-layer metrics (``--trace 1``).

With ``--trace 1`` the measured passes run traced and untraced (T U U T),
so the tracing overhead is measured inside the same run. Spans are written to
``.perfbench_out/`` when the run ends. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from types import SimpleNamespace

T_START = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "medalforge_lakehouse_data_spark"

# Warm-up passes per workload. The CPU per pass of a fresh JVM keeps
# falling for longer than a run may last (see NOTES.md), so the count is
# fixed: every run measures the same point of the warm-up curve.
WARMUP = {"image_table": 1, "medallion_incremental": 1}
MIN_MEASURED = {"image_table": 1, "medallion_incremental": 2}

OPS = [
    "format.append", "format.scan",
    "maintenance.compact", "maintenance.cluster",
    "maintenance.compact_deletes", "maintenance.rewrite_manifests",
    "maintenance.expire",
    "operators.merge.cow", "operators.merge.mor",
    "pipeline.bronze", "pipeline.silver",
]
MEASURES = ["wall_s", "cpu_s", "task_cpu_s", "pyworker_cpu_s", "jobs",
            "shuffle_mb"]
# measures that are zero by construction: appends shuffle nothing; the
# manifest rewrite and snapshot expiry run no Spark job and finish within
# one 10 ms CPU tick
SPARKLESS = {"cpu_s", "task_cpu_s", "pyworker_cpu_s", "jobs", "shuffle_mb"}
NOT_REPORTED = {"format.append": {"shuffle_mb"},
                "maintenance.rewrite_manifests": SPARKLESS,
                "maintenance.expire": SPARKLESS}
LAYERS = ["format", "maintenance", "operators", "pipeline"]


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T_START:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test inputs, one warm-up pass")
    return ap.parse_args()


def environment(work: str) -> int:
    """Pin resources before the JVM starts; returns the task slots."""
    nproc = len(os.sched_getaffinity(0))
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS", nproc)), nproc)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
              "NUMEXPR_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return cpus


def start_spark(work: str, cpus: int):
    from medalforge_lakehouse_data_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # The whole heap is committed and touched up front, so peak
            # RSS does not follow one run's heap-sizing decisions. The JIT
            # compiler threads live as long as the JVM, so their CPU is
            # read per thread without loss (see meter.ProcTree).
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
                f" -Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch"
                " -XX:-UseDynamicNumberOfCompilerThreads",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def instrument(rec) -> None:
    """Spans around engine calls made *inside* another engine call (the
    appends and merges a pipeline makes), so layer self time can be
    computed. Active only while the recorder is traced."""
    from medalforge_lakehouse_data_spark.format.table import Table
    from medalforge_lakehouse_data_spark.operators import merge

    def wrap(fn, name_of):
        def wrapper(*args, **kwargs):
            cur = rec.current()
            name = name_of(kwargs)
            if not rec.traced or cur is None or cur.name == name:
                return fn(*args, **kwargs)
            with rec.span(name):
                return fn(*args, **kwargs)
        return wrapper

    Table.append = wrap(Table.append, lambda kw: "format.append")
    orig = merge.merge_into
    patched = wrap(orig, lambda kw: "operators.merge.mor"
                   if kw.get("strategy") == "merge-on-read"
                   else "operators.merge.cow")
    for name, mod in list(sys.modules.items()):
        if name.startswith(PACKAGE) and getattr(mod, "merge_into", None) is orig:
            mod.merge_into = patched


def median(xs):
    return statistics.median(xs) if xs else None


def quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def pass_descendants(rec, root) -> list:
    return [s for s in rec.spans[root.id + 1:] if s.end <= root.end]


def end_to_end(passes, rec, setup_s) -> dict:
    """Every workload reports every metric: each runs writes and scans."""
    def per_pass(fn):
        vals = []
        for p in passes:
            try:
                vals.append(fn(p))
            except (KeyError, ZeroDivisionError):  # a pass that failed early
                continue
        return median(vals)

    def ops_sum(p, key, prefixes=("",)):
        return sum(s.values[key] for s in p.ops
                   if s.name.startswith(prefixes))

    lat = [s.values["wall_s"] * 1000 for p in passes for s in p.ops
           if s.name == "format.scan"]
    m = {
        "setup_s": (setup_s, "s"),
        "cpu_s": (per_pass(lambda p: ops_sum(p, "cpu_s")), "s"),
        "wall_s": (per_pass(lambda p: ops_sum(p, "wall_s")), "s"),
        "write_cpu_s": (per_pass(lambda p: ops_sum(
            p, "cpu_s", ("format.append", "operators.merge", "pipeline."))), "s"),
        "scan_p50_ms": (median(lat), "ms"),
        "scan_p90_ms": (quantile(lat, 0.9), "ms"),
        "read_bytes_per_row": (per_pass(lambda p: sum(p.stats["read_bytes"])
                                        / max(1, sum(p.stats["read_rows"]))), "B"),
        "write_amp": (per_pass(lambda p: sum(p.stats["write_bytes"])
                               / sum(p.stats["user_bytes"])), "ratio"),
        "live_bytes_per_row": (per_pass(lambda p: sum(p.stats["live_bytes"])
                                        / sum(p.stats["live_rows"])), "B"),
        "peak_rss_mb": (rec.proc.peak_rss_bytes() / 1e6, "MB"),
    }
    samples = {"passes": len(passes), "scans": len(lat)}
    attempted = sum(len(p.ops) for p in passes)
    ok = attempted - sum(len(p.failed) for p in passes)
    m["ok_op_share"] = (ok / max(1, attempted), "ratio")
    log(f"samples: {samples}")
    return m


def per_layer(rec, traced, untraced) -> dict:
    """Every workload reports every name; an op a workload does not run
    reports 0."""
    m = {}
    spans_of = {p: pass_descendants(rec, p.root) for p in traced}

    def per_pass(fn):
        vals = [fn(p) for p in traced]
        return median([v for v in vals if v is not None])

    for op in OPS:
        for k in MEASURES:
            if k in NOT_REPORTED.get(op, ()):
                continue
            m[f"{op}.{k}"] = (per_pass(lambda p: sum(
                s.values[k] for s in spans_of[p] if s.name == op)),
                "count" if k == "jobs" else "MB" if k == "shuffle_mb" else "s")
    extra = {
        "format.scan.plan_ms": ("plan_ms", "ms", median),
        "format.scan.files_kept_ratio": ("files_kept_ratio", "ratio",
                                         statistics.fmean),
        "maintenance.compact.bytes_out_per_in": ("bytes_out_per_in", "ratio",
                                                 statistics.fmean),
        "operators.merge.cow.affected_files_ratio": ("affected_files_ratio",
                                                     "ratio", statistics.fmean),
    }
    for name, (key, unit, agg) in extra.items():
        op = name.rsplit(".", 1)[0]

        def of_pass(p):
            vals = [s.values[key] for s in p.ops
                    if s.name == op and key in s.values]
            return agg(vals) if vals else None

        m[name] = (per_pass(of_pass) or 0.0, unit)
    m["jvm.jit_ms"] = (per_pass(lambda p: sum(s.values["jit_ms"] for s in p.ops)), "ms")
    m["jvm.jit_cpu_s"] = (per_pass(lambda p: sum(
        s.values["jit_cpu_s"] for s in p.ops)), "s")
    m["jvm.gc_ms"] = (per_pass(lambda p: sum(s.values["gc_ms"] for s in p.ops)), "ms")
    m["spark.nontask_cpu_s"] = (per_pass(lambda p: sum(
        s.values["jvm_cpu_s"] - s.values["task_cpu_s"] for s in p.ops)), "s")
    for layer in LAYERS:
        m[f"{layer}.self_s"] = (per_pass(lambda p: sum(
            rec.self_time(s) for s in spans_of[p]
            if s.name.startswith(layer + "."))), "s")
    for k in ("wall_s", "cpu_s"):
        t = median([sum(s.values[k] for s in p.ops) for p in traced])
        u = median([sum(s.values[k] for s in p.ops) for p in untraced])
        m[f"trace.overhead_{k}"] = (t - u, "s")
    return m


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark, rec) -> None:
    """Stop Spark, then wait until the JVM and every process below it
    has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    below = rec.proc.workers() if rec is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in below:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)
            while _alive(pid) and time.monotonic() < deadline + 10:
                time.sleep(0.1)


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import meter, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    cpus = environment(work)
    spark = rec = None
    try:
        spark = start_spark(work, cpus)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rec = meter.Recorder(spark, jvm_pid, run_id)
        log(f"JVM up (pid {jvm_pid}, local[{cpus}])")
        ctx = SimpleNamespace(
            spark=spark, cpus=cpus, seed=args.seed, clock=time.monotonic,
            size=workloads.SIZES[args.workload][args.size],
            inputs=os.path.join(work, "inputs"))
        wl = workloads.WORKLOADS[args.workload]()
        wl.setup(ctx)
        log("inputs ready")
        instrument(rec)

        n_pass = 0

        def one_pass(traced: bool, checking: bool = True):
            nonlocal n_pass
            pdir = os.path.join(work, f"pass{n_pass}")
            n_pass += 1
            os.makedirs(pdir)
            rec.traced = traced
            p = workloads.Pass(rec, checking)
            jit0 = rec.jvm.jit_ms()
            with rec.span("pass") as root:
                p.root = root
                try:
                    wl.run(ctx, pdir, p)
                except Exception as e:  # counted against ok_op_share
                    log(f"pass failed: {type(e).__name__}: {e}")
                    p.failed.update(s.id for s in p.ops)
            rec.traced = False
            cpu = sum(s.values["cpu_s"] for s in p.ops)
            wall = sum(s.values["wall_s"] for s in p.ops)
            parts = " ".join(
                f"{k} {sum(s.values[k + '_cpu_s'] for s in p.ops):.2f}s"
                for k in ("driver", "jvm", "pyworker", "jit"))
            log(f"pass {n_pass - 1} ({'traced' if traced else 'untraced'}): "
                f"cpu {cpu:.2f}s wall {wall:.2f}s "
                f"jit {rec.jvm.jit_ms() - jit0:.0f}ms ops {len(p.ops)} "
                f"failed {len(p.failed)} [{parts}]")
            shutil.rmtree(pdir, ignore_errors=True)
            return p, cpu

        wl.begin(ctx, os.path.join(work, "series"))
        # warm-up passes skip the checks; the measured passes run them
        warm = [one_pass(bool(args.trace) and i % 2 == 0, checking=False)[1]
                for i in range(1 if args.size == "tiny" else WARMUP[args.workload])]
        setup_s = time.monotonic() - T_START
        log(f"set-up {setup_s:.1f}s, warm-up cpu per pass "
            f"{[round(c, 2) for c in warm]}")

        measured = []
        t_measure = time.monotonic()
        # traced runs measure traced and untraced passes in the order
        # T U U T, so a trend along the run cancels out of the overhead
        min_passes = 4 if args.trace else MIN_MEASURED[args.workload]
        while wl.windows_left() > 0 and (
                len(measured) < min_passes
                or time.monotonic() - t_measure < args.seconds):
            traced = bool(args.trace) and len(measured) % 4 in (0, 3)
            measured.append((one_pass(traced)[0], traced))
        passes = [p for p, _ in measured]
        wl.end(ctx, passes)

        if args.trace:
            metrics = per_layer(rec, [p for p, t in measured if t],
                                [p for p, t in measured if not t])
            out_dir = os.path.join(ROOT, ".perfbench_out")
            rec.dump(os.path.join(out_dir, f"trace-{run_id}.jsonl"))
        else:
            metrics = end_to_end(passes, rec, setup_s)
        attempted = sum(len(p.ops) for p in passes)
        failed = sum(len(p.failed) for p in passes)
    finally:
        if spark is not None:
            shutdown(spark, rec)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
