"""Benchmark entry point: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload tile_ingest --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench/`` in the current directory; the engine (``cog3pio_spark``)
is imported from the current directory. One client runs one pass at a
time on ``local[N]`` (N = min(4, nproc)) until ``--seconds`` have passed;
every pass's output is checked. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. Human-readable
progress goes to stderr; a run record (context, every pass time, spans)
goes to ``.perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

from layers import as_metrics, declared_metrics, per_layer_metrics, per_layer_names
from tracing import Tracer, cpu_ticks, other_spark_jvms, parse_event_log, peak_rss_mb, \
    process_tree, reset_peak_rss
from workloads import WORKLOADS, CheckFailed, probe_all_layers

ROOT = os.getcwd()
WARMUP_PASSES = 1  # untimed, checked; part of setup_s
MIN_PASSES = 3  # untraced runs: the median must be able to reject one slow pass
E2E_NAMES = {"pass_s", "throughput", "setup_s", "peak_rss_mb", "recall"}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class RssSampler:
    """Background sampler of VmHWM over the JVM's process tree, so the
    peaks of Python workers that exit before the end still count."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        reset_peak_rss(process_tree(root_pid))
        self.peak: dict[int, float] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self) -> None:
        while True:
            for pid in process_tree(self.root):
                self.peak[pid] = max(self.peak.get(pid, 0.0), peak_rss_mb([pid]))
            if self._stop.wait(0.2):
                return

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        return sum(self.peak.values())

    def by_process(self) -> dict[str, float]:
        return {f"{pid}:{_comm(pid)}": mb for pid, mb in sorted(self.peak.items())}


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "exited"


def start_spark(work: str, trace: bool):
    from cog3pio_spark.session import get_spark

    n = min(4, os.cpu_count() or 1)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",  # default zstd: no Python reader here
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
        })
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=4 * n,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then wait for the JVM and every process it
    started (the Python daemon and workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    children = process_tree(proc.pid)[1:] if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any wait failure: make sure it dies
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while (alive := [p for p in children if _running(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    """True unless the process is gone or a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in "ZX"
    except (OSError, IndexError):
        return False


def control_job(spark) -> float:
    """bench.py's control job shape (sum of xxhash64 over spark.range),
    sized for a few cores and run once. Context only, never gated."""
    from pyspark.sql import functions as F

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")  # the sum wraps by design
    try:
        t0 = time.perf_counter()
        spark.range(20_000_000, numPartitions=16).select(
            F.sum(F.xxhash64(F.col("id"), F.col("id") * 3, F.col("id") + 7))
        ).collect()
        return time.perf_counter() - t0
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def jvm_gc_s(sc) -> float:
    """GC time so far of the one local-mode JVM (driver and executors)."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def high_percentile(xs: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it (median when
    there are fewer than twenty samples), and its value."""
    if len(xs) < 20:
        return 0.5, statistics.median(xs)
    q = 1.0 - 10.0 / len(xs)
    return q, sorted(xs)[math.ceil(q * len(xs)) - 1]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the engine comes from the checkout, never from an installed copy
    if not os.path.isdir(os.path.join(ROOT, "cog3pio_spark")):
        log("perfbench: no cog3pio_spark package in the current directory; "
            "run from the repository root")
        return 2
    sys.path.insert(1, ROOT)
    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    declared = declared_metrics(ROOT)
    for kind, names in (("end_to_end", E2E_NAMES), ("per_layer", per_layer_names())):
        if names != declared[kind].keys():
            log(f"perfbench: {kind} metrics differ from BENCHMARK.json: "
                f"undeclared {sorted(names - declared[kind].keys())}, "
                f"not measured {sorted(declared[kind].keys() - names)}")
            return 2

    base = os.path.join(ROOT, ".perfbench")
    # no pid in the name: the media_ref paths inside the inputs are then
    # the same on every run of a seed
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}")
    results = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    # Python workers import the engine from the checkout and keep their
    # temp files inside it
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    others = other_spark_jvms({os.getpid()})
    if others:
        log(f"perfbench: WARNING other Spark JVMs running {others}: numbers are suspect")

    try:
        return run(args, work, results, others, declared)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, results: str, others: list[int], declared: dict) -> int:
    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = start_spark(work, trace)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm_pid = getattr(sc._gateway, "proc", None)
    jvm_pid = jvm_pid.pid if jvm_pid is not None else os.getpid()
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "nproc": os.cpu_count(), "master": sc.master,
              "other_spark_jvms": others}
    try:
        w = WORKLOADS[args.workload](spark, args.seed)
        t = time.perf_counter()
        w.generate(os.path.join(work, "in"))  # never cached: every run generates
        gen_s = time.perf_counter() - t

        off = Tracer(sc, on=False)
        tr = Tracer(sc, on=True) if trace else off
        attempted = failed = 0
        plain_s, traced_s, recalls = [], [], []

        def one_pass(t, pass_id):
            nonlocal attempted, failed
            attempted += 1
            start = time.perf_counter()
            try:
                with t.run_pass(pass_id):
                    out = w.run(t, pass_id)
                dt = time.perf_counter() - start
                if t.on:
                    w.after_traced_pass(out)
                recalls.append(w.check(out))
            except Exception as exc:  # noqa: BLE001 - a failed pass is data
                dt = time.perf_counter() - start
                failed += 1
                log(f"pass {pass_id} FAILED: {exc}")
                if not isinstance(exc, CheckFailed):
                    log(traceback.format_exc())
            log(f"pass {pass_id}: {dt:.3f}s")
            return dt

        t = time.perf_counter()
        # absorb JIT, codegen and worker spawn; a traced run (which reports
        # no setup_s) warms once more so traced and untraced passes compare
        for i in range(WARMUP_PASSES + trace):
            one_pass(off, f"warmup{i}")
        warm_s = time.perf_counter() - t
        setup_s = session_s + gen_s + warm_s

        sampler = RssSampler(jvm_pid)
        gc0 = jvm_gc_s(sc)
        steal0, ticks0 = cpu_ticks()
        t_end = time.perf_counter() + args.seconds
        k = 0

        def done() -> bool:
            if time.perf_counter() < t_end:
                return False
            if trace:  # per-layer values need one pass of each kind
                return bool(plain_s and traced_s)
            return len(plain_s) >= MIN_PASSES

        while not done():
            if trace and k % 2:
                traced_s.append(one_pass(tr, f"p{k}"))
            else:
                plain_s.append(one_pass(off, f"p{k}"))
            k += 1
        peak_mb = sampler.stop()
        steal1, ticks1 = cpu_ticks()
        record["host_steal_share"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
        gc_per_pass = (jvm_gc_s(sc) - gc0) / k
        record["peak_rss_by_process_mb"] = sampler.by_process()

        record["control_s"] = control_job(spark)
        cross_ok = True
        if trace:  # independent paths and layer probes: traced runs only
            try:
                w.cross_check()
                probe_all_layers(w, tr)
            except Exception as exc:  # noqa: BLE001 - reported as correct: false
                log(f"cross-check FAILED: {exc}")
                log(traceback.format_exc())
                cross_ok = False
    finally:
        stop_spark(spark)

    p_q, p_v = high_percentile(plain_s)
    e2e = as_metrics({
        "pass_s": statistics.median(plain_s),
        "throughput": w.units_per_pass / statistics.median(plain_s),
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "recall": statistics.median(recalls) if recalls else 0.0,
    }, declared["end_to_end"])
    record.update({
        "pass_times_s": plain_s, "traced_pass_times_s": traced_s,
        "pass_s_percentile": {"q": p_q, "value": p_v, "n": len(plain_s)},
        "setup_parts_s": {"session": session_s, "generate": gen_s, "warmup": warm_s},
        "error_rate": failed / attempted, "attempted": attempted, "failed": failed,
        "cross_check_ok": cross_ok,
        "end_to_end": e2e,
    })
    log(f"{args.workload} seed={args.seed}: nproc={os.cpu_count()} {sc.master} "
        f"control={record['control_s']:.3f}s steal={record['host_steal_share']:.3f}; "
        f"a throughput unit is one {w.unit}")
    for name, m in e2e.items():
        log(f"  {name} = {m['value']:.6g} {m['unit']}")
    log(f"  pass_s p{round(100 * p_q)} = {p_v:.6g} s (n={len(plain_s)})")
    log(f"  error_rate = {failed / attempted:.6g} fraction ({failed}/{attempted})")

    if trace:
        metrics = as_metrics(
            per_layer_metrics(tr, parse_event_log(os.path.join(work, "eventlog")),
                              w.layer, plain_s, traced_s, gc_per_pass),
            declared["per_layer"])
        tr.dump(os.path.join(results, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        record["per_layer"] = metrics
    else:
        metrics = e2e
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=float)
    print(json.dumps({"correct": failed == 0 and cross_ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
