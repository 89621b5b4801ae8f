"""Benchmark of cve_manager_spark, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload nvd_warehouse --seed 1 --seconds 8 --trace 0

``--workload`` is one of ``perfbench.workloads.WORKLOADS``; BENCHMARK.json
names the ones the benchmark runs. The harness starts a ``local[N]``
session (N = ``$SPARK_GRAFT_CPUS`` or the cores this process may use)
through ``cve_manager_spark.session``, generates the workload's inputs from
the seed, warms up, runs whole passes of operations one at a time for
``--seconds``, checks every output, and prints one JSON object as the last
line of standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` alternates traced and untraced operations and reports the
per-layer metrics, the tracing overhead and how much of the untraced wall
time the spans cover. The exit code is 0 only when every check passed.
Details, spans and host state go to ``.perfbench_out/c<N>/<workload>/``,
so runs at different core widths never overwrite each other. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "3g"  # driver heap ceiling: local[N] runs all executor threads in this JVM
YOUNG = "512m"  # fixed young generation of that heap
OP_TIMEOUT_S = 60.0
LAYERS = (
    "sources.nvd", "operators.flatten", "sources.cwe_csv", "sink.parquet",
    "sources.parquet", "plans.cve_queries", "action.collect", "plans",
    "action.noop", "streaming.windows", "streaming.sinks",
)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _cpu_width() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(env) if env.isdigit() else len(os.sched_getaffinity(0))


def _host() -> dict:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"steal_ticks": int(cpu[8]), "loadavg": list(os.getloadavg()), "time": time.time()}


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Context:
    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.op_timeout_s = OP_TIMEOUT_S
        self.phases: dict[str, float] = {}  # set-up seconds by phase

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0


def run_op(ctx, op, index: int) -> tuple[bool, float, object]:
    """Time one operation. An exception or a timeout fails it without
    ending the run; the timeout cancels the operation's jobs by tag."""
    sc = ctx.spark.sparkContext
    tag = f"perfbench-op-{index}"
    sc.addJobTag(tag)
    timer = threading.Timer(ctx.op_timeout_s, sc.cancelJobsWithTag, (tag,))
    timer.start()
    t0 = time.perf_counter()
    try:
        result, ok = op.run(), True
    except Exception:
        traceback.print_exc()
        result, ok = None, False
    seconds = time.perf_counter() - t0
    timer.cancel()
    sc.removeJobTag(tag)
    return ok, seconds, result


def _start_session(work: str, width: int):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # The heap is a ceiling only (no -Xms), and the young generation is
    # fixed: eden is filled before every minor GC, so with adaptive young
    # sizing peak RSS would follow GC timing. What then varies is the old
    # generation, metaspace, code cache and the Python process, which grow
    # with what the program retains and the classes it generates. Scratch
    # files of the JVM, Spark, Python and the engine's artifact cache stay
    # in the run's work directory. defaultJavaOptions leaves the engine's
    # extraJavaOptions be.
    java_opts = f"-Xmn{YOUNG} -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-memory {HEAP}",
        "--conf", shlex.quote(f"spark.driver.defaultJavaOptions={java_opts}"),
        "--conf", shlex.quote(f"spark.local.dir={work}/spark-local"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/spark-warehouse"),
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    os.environ["TMPDIR"] = tmp
    os.environ["CVE_SPARK_ARTIFACT_DIR"] = os.path.join(work, "artifacts")
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    from cve_manager_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session("perfbench", master=f"local[{width}]")
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to end:
    it exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile of ``values`` (0 < q <= 1)."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _latency_metrics(wl, records: list[dict]) -> dict[str, float]:
    """Median and tail of the latency samples of the workload's
    ``latency_kinds``, and the geometric mean of every kind's median. A
    sample is an operation's own finer sample (a micro-batch of a stream
    replay) or else its wall time. A workload with ``best_per_kind`` keeps
    only each kind's fastest sample."""
    by_kind: dict[str, list[float]] = {}
    for r in records:
        if r["ok"]:
            by_kind.setdefault(r["kind"], []).extend(r["op"].samples or [r["seconds"]])
    if getattr(wl, "best_per_kind", False):
        by_kind = {k: [min(v)] for k, v in by_kind.items()}
    lat = [s for k in getattr(wl, "latency_kinds", wl.kinds) for s in by_kind.get(k, ())]
    if not lat:
        raise RuntimeError("no operation succeeded")
    return {
        "op_p50_ms": statistics.median(lat) * 1000,
        "op_tail_ms": _percentile(lat, wl.tail_q) * 1000,
        "geomean_ms": statistics.geometric_mean([statistics.median(v) for v in by_kind.values()]) * 1000,
        "n_samples": len(lat),
    }


def _throughput(wl, records: list[dict]) -> float:
    """Units of work per second of operation time, over the successful
    operations of the workload's ``rate_kinds``."""
    rated = [r for r in records if r["ok"] and r["kind"] in getattr(wl, "rate_kinds", wl.kinds)]
    if not rated:
        raise RuntimeError("no operation of the rated kinds succeeded")
    return sum(r["items"] for r in rated) / sum(r["seconds"] for r in rated)


def layer_metrics(wl, tracer, records: list[dict], session_s: float) -> dict[str, float]:
    """Per-layer metrics: counters and self times from the traced
    operations, latencies by kind from the untraced ones."""
    from perfbench.workloads import median_or_zero

    traced = [r for r in records if r["traced"] and r["ok"]]
    untraced = [r for r in records if not r["traced"] and r["ok"]]
    spans = tracer.spans
    by_op: dict[int, list] = {}
    for s in spans:
        by_op.setdefault(s.op, []).append(s)
    n_ops = max(1, len(traced))
    m: dict[str, float] = {"session.start_s": session_s}
    m["executor.cpu_s"] = tracer.total("cpu_ns") / 1e9 / n_ops
    m["executor.gc_s"] = tracer.total("gc_ms") / 1e3 / n_ops
    m["shuffle.write_bytes"] = tracer.total("shuffle_write_bytes") / n_ops
    m["spill.bytes"] = (tracer.total("spill_memory_bytes") + tracer.total("spill_disk_bytes")) / n_ops

    # overhead: traced vs untraced wall of the same kind; coverage: root
    # spans of a traced op against the untraced wall of its kind
    base = {}
    for r in untraced:
        base.setdefault(r["kind"], []).append(r["seconds"])
    ratios, cover = [], []
    for r in traced:
        if r["kind"] in base:
            ref = statistics.median(base[r["kind"]])
            ratios.append(r["seconds"] / ref)
            roots = sum(s.seconds for s in by_op.get(r["index"], []) if s.parent is None)
            cover.append(roots / ref)
    m["trace.overhead_frac"] = median_or_zero(ratios) - 1 if ratios else 0.0
    m["trace.coverage_frac"] = median_or_zero(cover)
    self_s = tracer.self_seconds()
    for layer in LAYERS:
        if layer == "plans":
            v = sum(t for k, t in self_s.items() if k.startswith("plans.") and k != "plans.cve_queries")
        else:
            v = self_s.get(layer, 0.0)
        m[f"self_ms.{layer}"] = v * 1000 / n_ops
    m.update(wl.layer_metrics(tracer, traced, untraced))
    return m


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import cve_manager_spark  # the program under test, from this checkout
    except ImportError as e:
        print(f"perfbench: the checkout holds no importable cve_manager_spark ({e})", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(cve_manager_spark.__file__))) != ROOT:
        print(f"perfbench: cve_manager_spark comes from {cve_manager_spark.__file__}, not this checkout",
              file=sys.stderr)
        return 2
    from perfbench.check import CheckFailed
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    spec = _spec()
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    width = _cpu_width()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host_before = _host()
    spark = None
    errors: list[str] = []
    try:
        spark, session_s = _start_session(work, width)
        tracer = Tracer(spark, trace=bool(args.trace))
        ctx = Context(spark, work, args.seed, tracer)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - T_START

        records: list[dict] = []
        deadline = time.perf_counter() + args.seconds
        i = 0
        # whole passes over the workload's mix, so every run weighs the
        # operation kinds alike; a traced run goes on (for two passes at
        # most) until every kind has traced and untraced operations
        n_kinds = len(wl.kinds)
        seen: dict[bool, set[str]] = {True: set(), False: set()}

        def uncovered() -> bool:
            return bool(args.trace) and i < 2 * wl.pass_len and not (seen[True] & seen[False]) >= set(wl.kinds)

        while i < wl.pass_len or i % wl.pass_len or time.perf_counter() < deadline or uncovered():
            op = wl.next_op(i)
            # traced runs alternate operations; with an even number of kinds
            # the pattern flips every cycle, so each kind gets both
            flip = (i // n_kinds) % 2 if n_kinds % 2 == 0 else 0
            traced = bool(args.trace) and (i + flip) % 2 == 0
            tracer.enabled, tracer.op = traced, i
            ok, seconds, result = run_op(ctx, op, i)
            tracer.enabled = False
            if ok:
                seen[traced].add(op.kind)
            records.append({"index": i, "kind": op.kind, "ok": ok, "seconds": seconds,
                            "items": op.items, "traced": traced, "op": op})
            if ok:
                try:
                    op.check(result)
                except CheckFailed as e:
                    errors.append(str(e))
            i += 1
        try:
            wl.finish()
        except CheckFailed as e:
            errors.append(str(e))

        attempted = len(records)
        failed = sum(not r["ok"] for r in records)
        if args.trace:
            metrics = layer_metrics(wl, tracer, records, session_s)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            for name in set(units) - set(metrics):
                metrics[name] = 0.0  # a layer this workload does not call
        else:
            metrics = {
                "setup_s": setup_s,
                "peak_rss_mb": _hwm_mb("self") + _hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid()),
                "ops_ok_frac": (attempted - failed) / attempted,
                "throughput_per_s": _throughput(wl, records),
                **_latency_metrics(wl, records),
            }
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        host_after = _host()
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "master": f"local[{width}]", "nproc": os.cpu_count(), "heap": HEAP, "young": YOUNG,
            "versions": {"spark": spark.version, "python": platform.python_version(),
                         "java": spark._jvm.java.lang.System.getProperty("java.version")},
            "host_before": host_before, "host_after": host_after,
            "setup_phases": {"session": session_s, **ctx.phases},
            "attempted": attempted, "failed": failed, "errors": errors, "metrics": metrics,
            "ops": [{**{k: v for k, v in r.items() if k != "op"}, "samples": r["op"].samples} for r in records],
            "spans": tracer.dump() if args.trace else [],
        }
        out_dir = os.path.join(ROOT, ".perfbench_out", f"c{width}", args.workload)
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(detail, f, indent=1, default=str)
        for e in errors:
            print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
        print(json.dumps({
            "correct": not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
        return 0 if not errors else 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
