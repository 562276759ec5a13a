#!/usr/bin/env python3
"""The repository benchmark: one workload, one process, ``local[nproc]``.

    python3 perfbench/run.py --workload corpus_audit --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run sets up once (session, inputs
generated from the seed, warm-up), timed from process start, then
measures operations for ``--seconds`` of timed work (and at least the
workload's minimum operation count), checking every output against
DuckDB outside the timed region. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run. A ``# perfbench`` line before it
carries the run metadata. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_OPS = 4000

END_TO_END = [
    ("setup_s", "s"),
    ("docs_per_s", "docs/s"),
    ("req_p50_ms", "ms"),
    ("req_p75_ms", "ms"),
]
PER_LAYER = [
    ("sources.scan_s", "s"), ("sources.input_bytes", "bytes"), ("sources.scan_tasks", "count"),
    ("engine.rollup_s", "s"), ("engine.rows_in", "count"), ("engine.violation_rows", "count"),
    ("engine.violations_s", "s"), ("sink.write_s", "s"), ("sink.bytes_written", "bytes"),
    ("sink.files_written", "count"), ("sink.write_amp", "ratio"),
    ("uniq.s", "s"), ("refcheck.s", "s"), ("stats.histogram_s", "s"),
    ("plans.compile_ms", "ms"), ("plans.cache_hit_frac", "ratio"), ("plans.rules", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("catalyst.plan_nodes", "count"), ("catalyst.exchanges", "count"),
    ("codegen.classes", "count"), ("codegen.compile_ms", "ms"),
    ("dedup.pairs_s", "s"), ("dedup.clusters_s", "s"), ("dedup.candidate_pairs", "count"),
    ("dedup.pair_yield", "ratio"),
    ("pyworker.rows_sent", "count"), ("pyworker.bytes_sent", "bytes"), ("pyworker.bytes_received", "bytes"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"), ("exec.run_s", "s"),
    ("exec.cpu_s", "s"), ("exec.gc_s", "s"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.spill_bytes", "bytes"), ("exec.slot_idle_frac", "ratio"),
    ("mem.peak_rss_mb", "MB"),
    ("traced.req_p50_ms", "ms"), ("traced.docs_per_s", "docs/s"),
]
# span name -> (per-layer metric, scale)
SPAN_METRICS = {
    "engine.rollup": ("engine.rollup_s", 1.0),
    "engine.violations": ("engine.violations_s", 1.0),
    "sink.write_routed": ("sink.write_s", 1.0),
    "uniq.duplicate_keys": ("uniq.s", 1.0),
    "refcheck.dangling_span_refs": ("refcheck.s", 1.0),
    "stats.length_histogram": ("stats.histogram_s", 1.0),
    "plans.compile": ("plans.compile_ms", 1e3),
    "dedup.minhash_dedup_pairs": ("dedup.pairs_s", 1.0),
    "dedup.dedup_clusters": ("dedup.clusters_s", 1.0),
}


def _process_t0() -> float:
    """``perf_counter`` value at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_T0 = _process_t0()


def make_session(work: str, cores: int, trace: bool):
    from validate_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    return get_spark(app="perfbench", cores=cores, extra_conf=conf)


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for every process of the
    JVM's tree (launcher, JVM, Python workers) to end."""
    from sysinfo import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        left = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not left:
            return
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between samples (never outside
    their range)."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def layer_metrics(wl, tracer, ops: list[dict], cores: int, app_id: str, work: str) -> dict:
    from tracing import EventLog

    log = EventLog(f"{work}/eventlog", app_id)
    per_op: list[dict] = []
    for o in ops:
        sid = o["span"]
        spans = [s for s in tracer.spans.values() if s["op"] == sid]
        m = {name: 0.0 for name, _ in PER_LAYER}
        for s in spans:
            if s["name"] in SPAN_METRICS:
                name, scale = SPAN_METRICS[s["name"]]
                m[name] += (s["end"] - s["start"]) * scale
        ex = log.total(s["id"] for s in spans)
        for key in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            m["exec." + key] = ex.get(key, 0.0)
        m["exec.slot_idle_frac"] = 1.0 - ex.get("run_s", 0.0) / (o["wall"] * cores)
        for key in ("rows_sent", "bytes_sent", "bytes_received"):
            m["pyworker." + key] = ex.get("py_" + key, 0.0)
        for key, v in wl.probes.get(sid, {}).items():
            m["catalyst." + key] = v
        m["codegen.classes"], m["codegen.compile_ms"] = o["codegen"]
        m.update(o.get("layer", {}))
        comp = getattr(wl, "compiles", {}).get(sid)
        if comp:
            m["plans.rules"] = comp["rules"]
        per_op.append(m)
    out = {name: statistics.median(m[name] for m in per_op) for name, _ in PER_LAYER}
    comps = getattr(wl, "compiles", {})
    if comps:
        out["plans.cache_hit_frac"] = sum(c["hit"] for c in comps.values()) / len(comps)
    scans = [s for s in tracer.spans.values() if s["name"] == "sources.scan"]
    if scans:
        out["sources.scan_s"] = statistics.median(s["end"] - s["start"] for s in scans)
        # Spark's task input metric misses this scan's column-chunk reads
        # (it shows a few KB per file), so the scanned bytes are the
        # files' size on disk
        out["sources.input_bytes"] = wl.input_sizes()["parquet_bytes"]
        out["sources.scan_tasks"] = statistics.median(log.total([s["id"]]).get("tasks", 0.0) for s in scans)
    cands = [s for s in tracer.spans.values() if s["name"] == "dedup.candidates"]
    if cands:
        out["dedup.candidate_pairs"] = cands[0]["count"]
        pairs = statistics.median(o["layer"]["n_pairs"] for o in ops)
        out["dedup.pair_yield"] = pairs / cands[0]["count"] if cands[0]["count"] else 0.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--trace-out", help="write the traced run's spans to this JSON file")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "validate_spark", "__init__.py")):
        print(f"perfbench: no validate_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    import sysinfo
    from oracle import OracleProcess
    from tracing import Tracer, codegen_counters
    from workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    trace = args.trace == 1
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"), SIZES[args.size], cores)
    tracer = Tracer(False)
    oracle = OracleProcess(os.path.join(work, "tmp"))
    other_jvms = sysinfo.other_spark_jvms()
    steal0, ticks0 = sysinfo.cpu_ticks()
    spark = None
    # Memory is sampled in the traced run only: reading a multi-GB JVM's
    # smaps_rollup every 100 ms walks its page tables, work that must
    # stay out of the untraced run's timings.
    rss = sysinfo.RssSampler(exclude=[oracle.proc.pid])

    try:
        with rss if trace else contextlib.nullcontext():
            spark = make_session(work, cores, trace)
            tracer.sc = spark.sparkContext
            wl.generate(spark)
            for k in wl.warm_ops:
                wl.op(spark, k, tracer)
                wl.after_op(spark)
            setup_s = time.perf_counter() - PROCESS_T0
            wl.expect(oracle)
            for k in wl.burn_ops:
                wl.op(spark, k, tracer)
                wl.after_op(spark)

            tracer.enabled = trace
            ops, spent, failed = [], 0.0, 0
            while (spent < args.seconds or len(ops) < wl.min_ops) and len(ops) < MAX_OPS:
                k = len(ops)
                cg0 = codegen_counters(spark) if trace else (0, 0.0)
                t0 = time.perf_counter()
                try:
                    out = wl.op(spark, k, tracer)
                except Exception:
                    traceback.print_exc()
                    out = None
                wall = time.perf_counter() - t0
                spent += wall
                rec = {"wall": wall}
                try:
                    good = out is not None and bool(wl.check(out, oracle))
                except Exception:
                    traceback.print_exc()
                    good = False
                failed += not good
                if trace:
                    cg1 = codegen_counters(spark)
                    rec["span"] = tracer.roots[-1]
                    tracer.spans[rec["span"]]["wall"] = wall
                    rec["codegen"] = (cg1[0] - cg0[0], cg1[1] - cg0[1])
                    rec["layer"] = wl.layer_values(out) if out is not None else {}
                ops.append(rec)
                wl.after_op(spark)
            if trace:
                wl.traced_extras(spark, tracer)
            app_id = spark.sparkContext.applicationId
            meta = sysinfo.metadata(spark, ROOT)
            shutdown(spark)
            spark = None
    finally:
        if spark is not None:
            shutdown(spark)
        oracle.close()
    steal1, ticks1 = sysinfo.cpu_ticks()

    lat = [o["wall"] for o in ops]
    e2e = {
        "setup_s": setup_s,
        "docs_per_s": wl.docs_per_op * len(lat) / spent,
        "req_p50_ms": statistics.median(lat) * 1e3,
        "req_p75_ms": quantile(lat, 75) * 1e3,
    }
    if trace:
        values = layer_metrics(wl, tracer, ops, cores, app_id, work)
        values["traced.req_p50_ms"] = e2e["req_p50_ms"]
        values["traced.docs_per_s"] = e2e["docs_per_s"]
        values["mem.peak_rss_mb"] = rss.peak / 2**20
        meta["peak_rss_by_name_mb"] = {k: round(v / 2**20, 1) for k, v in rss.peak_by_name.items()}
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}
        if args.trace_out:
            tracer.dump(args.trace_out)
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}

    meta.update({
        "workload": wl.name,
        "seed": args.seed,
        "size": args.size,
        "inputs": wl.input_sizes(),
        "ops": len(ops),
        "op_s": [round(x, 4) for x in lat],
        "failed_ops_frac": failed / len(ops),
        "timed_s": spent,
        "steal_frac": (steal1 - steal0) / max(1, ticks1 - ticks0),
        "other_spark_jvms": other_jvms,
        "end_to_end": e2e,
    })
    print("# perfbench " + json.dumps(meta, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
