"""Benchmark entry point.

    python3 chainbench/run.py --workload chain_analytics --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the workload's inputs from
``--seed`` alone, starts one ``local[nproc]`` session, sets the workload
up, measures for ``--seconds`` seconds and prints one metric per line,
then a single JSON object as the last line of stdout. With ``--trace 1``
the run traces half of its operations, prints the per-layer split
instead of the end-to-end metrics, and writes the spans to
``.chainbench/results/``. See ``chainbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("corpus_ops", "chain_sync", "chain_analytics")

# per-layer metrics and their units, in report order
LAYER_UNITS = {
    "plans.build_ms": "ms", "plans.build_self_ms": "ms", "plans.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.job_wall_ms": "ms",
    "exec.driver_gap_ms": "ms", "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms", "exec.jvm_gc_ms": "ms",
    "exec.input_bytes": "B", "exec.output_bytes": "B",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "collect.tail_ms": "ms", "collect.rows": "count", "collect.result_bytes": "B",
    "sync.blocks_ms": "ms", "sync.traces_ms": "ms", "sync.events_ms": "ms",
    "sync.contracts_ms": "ms", "sync.tokens_ms": "ms", "sync.derived_ms": "ms",
    "sync.blocks_per_s": "1/s", "sync.freshness_p50_ms": "ms",
    "catalog.compact_ms": "ms", "catalog.read_ms": "ms", "catalog.files": "count",
    "catalog.bytes": "B", "catalog.uncompacted_batches": "count",
    "serving.sql_ms": "ms",
    "self.plans_ms": "ms", "self.catalyst_ms": "ms", "self.exec_ms": "ms",
    "self.collect_ms": "ms", "self.sync_ms": "ms", "self.catalog_ms": "ms",
    "self.serving_ms": "ms", "trace.residual_ms": "ms", "trace.overhead_pct": "%",
}
# On chain_sync the metrics of these layers are means per traced read
# request; the others are per sync pass, from the pass and its
# compaction.
READ_LAYERS = ("catalyst", "collect", "serving")


def _layer(metric: str) -> str:
    """``catalyst.analysis_ms`` -> catalyst, ``self.exec_ms`` -> exec."""
    head, rest = metric.split(".", 1)
    return rest.rsplit("_", 1)[0] if head == "self" else head


class Context:
    """What a workload needs: the session, seed and work dir."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None

    def note(self, msg: str) -> None:
        print(f"# {msg}", flush=True)


def _parse(argv):
    p = argparse.ArgumentParser(description="spark-chain-analytics benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _hygiene(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)


def _start_session(work: str, trace: bool):
    from ethereum_analytical_db_spark.session import get_spark

    # The JIT stops at C1: a run lasts about a minute, and with C2 the
    # measured part still falls inside C2's warm-up, whose timing moved
    # whole runs by ±20 % (over five seeds, the interquartile spread of
    # chain_sync's read median was 0.18 with C2 and 0.11 with C1). C1
    # alone gets a 48 MB code cache, which a run fills, disabling the
    # compiler mid-run; 240 MB is the tiered default. The fixed heap
    # keeps peak RSS off the JVM's heap-growth heuristics.
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
            f" -Dderby.system.home={work}/derby"
            f" -Djava.io.tmpdir={work}/tmp"
        ),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="chainbench", cpus=_nproc(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stamp(args) -> dict:
    """Facts that tell a contaminated run from a regression."""
    sha = None
    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    # the checkout may not be a git repository: also fingerprint the source
    digest = hashlib.sha1()
    pkg = os.path.join(ROOT, "ethereum_analytical_db_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(f.encode() + fh.read())
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": _nproc(), "loadavg_start": os.getloadavg(),
        "pyspark": pyspark.__version__, "git_sha": sha,
        "source_sha1": digest.hexdigest(),
    }


def _catalog_size(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, filenames in os.walk(root):
        for f in filenames:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


def end_to_end(log, kind: str, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """End-to-end metrics and their sample counts. Throughput is
    operations answered per second of operation wall time; on chain_sync
    the sync pass is reported by ``blocks_per_s`` instead, since one pass
    per run is too few to bound."""
    from chainbench.measure import percentile

    lat = log.latencies(kind)
    busy_s = lat.sum() / 1000.0
    metrics = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "queries_per_s": (len(lat) / busy_s if busy_s else 0.0, "1/s"),
        "query_p50_ms": (percentile(lat, 50), "ms"),
        "query_p90_ms": (percentile(lat, 90), "ms"),
    }
    samples = {"query_p50_ms": len(lat), "query_p90_ms": len(lat), "queries_per_s": len(lat)}
    return metrics, samples


def layer_report(log, wl, kind: str, jobs, totals) -> tuple[dict, list]:
    """Per-layer metrics (means per operation, or per sync pass on
    chain_sync) and the per-op span records."""
    from chainbench.measure import op_layers, percentile

    jobs_by_group = defaultdict(list)
    for j in jobs.values():
        if j.group is not None:
            jobs_by_group[j.group].append(j)
    sums = {"read": defaultdict(float), "other": defaultdict(float)}
    counts = defaultdict(int)
    records = []
    traced = [o for o in log.ops if o.traced]
    for o in traced:
        layers = op_layers(o, jobs_by_group, totals)
        cls = "read" if o.kind == "read" else "other"
        for k, v in layers.items():
            sums[cls][k] += v
        counts[o.kind] += 1
        records.append({
            "op": o.id, "name": o.name, "kind": o.kind, "start": o.start,
            "end": o.end, "spans": [
                {"name": n, "start": s, "end": e, "parent": o.id} for n, s, e in o.spans
            ] + [
                {"name": "exec.job", "start": j.start, "end": j.end, "parent": g}
                for g, js in jobs_by_group.items() if g.split("/")[0] == o.id for j in js
            ],
            "layers": dict(layers),
        })
    out = {}
    for name in LAYER_UNITS:
        if kind != "read":
            cls, n = "other", counts[kind]
        elif _layer(name) in READ_LAYERS:
            cls, n = "read", counts["read"]
        else:
            cls, n = "other", counts["pass"]
        out[name] = sums[cls].get(name, 0.0) / n if n else 0.0
    out["trace.overhead_pct"] = _overhead_pct(log, kind)
    if kind == "read":
        out["sync.blocks_per_s"] = wl.blocks_per_s
        out["sync.freshness_p50_ms"] = percentile(wl.freshness, 50)
        files, size = _catalog_size(wl.wh.root)
        out["catalog.files"], out["catalog.bytes"] = float(files), float(size)
    return out, records


def _overhead_pct(log, kind: str) -> float:
    """Tracing overhead: the median over operation names of a traced
    sample's latency over the same name's untraced latency, minus one.
    Traced and untraced operations alternate, so warming during the run
    falls on both sides."""
    import numpy as np

    on, off = defaultdict(list), defaultdict(list)
    for o in log.ops:
        if o.kind == kind:
            (on if o.traced else off)[o.name].append(o.ms)
    ratios = [np.median(on[n]) / np.median(off[n]) for n in on if n in off]
    return (float(np.median(ratios)) - 1.0) * 100.0 if ratios else float("nan")


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    results = os.path.join(ROOT, ".chainbench", "results")
    work = os.path.join(ROOT, ".chainbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    _hygiene(work)
    try:
        return _run(args, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, results: str) -> int:
    from chainbench.measure import OpLog
    from chainbench.tracing import find_event_log, read_event_log

    stamp = _stamp(args)
    print("# stamp " + json.dumps(stamp), flush=True)
    ctx = Context(args, work)
    log = OpLog(ctx.note)
    t_setup = time.perf_counter()
    # the package comes from the checkout: a bare copy of the benchmark
    # fails here, before any result is printed
    ctx.spark = _start_session(work, ctx.trace)
    try:
        ctx.note(f"session up in {time.perf_counter() - t_setup:.2f} s")
        if args.workload == "chain_sync":
            from chainbench.chain_sync import ChainSyncWorkload

            wl, kind = ChainSyncWorkload(ctx), "read"
        else:
            from chainbench.registry_ops import RegistryWorkload

            wl, kind = RegistryWorkload(ctx, args.workload), "query"
        wl.setup(log)
        setup_s = time.perf_counter() - t_setup
        wl.check(log)
        wl.run(log, args.seconds, ctx.trace)
        jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb, py_kb = _vm_hwm_kb(jvm_pid), _vm_hwm_kb("self")
        rss_mb = (jvm_kb + py_kb) / 1024.0
        ctx.note(f"peak RSS: driver JVM {jvm_kb / 1024:.0f} MB, benchmark process {py_kb / 1024:.0f} MB")
    finally:
        _stop_session(ctx.spark)
    stamp["loadavg_end"] = os.getloadavg()

    e2e, samples = end_to_end(log, kind, setup_s, rss_mb)
    error_rate = log.failed / log.attempted if log.attempted else 1.0
    print(f"error_rate {error_rate:.6f} failed/attempted ({log.failed}/{log.attempted})")
    for name, (v, unit) in e2e.items():
        n = samples.get(name)
        print(f"{name} {v:.6g} {unit}" + (f" (n={n})" if n else ""))
    if kind == "read":
        from chainbench.measure import percentile

        print(f"blocks_per_s {wl.blocks_per_s:.6g} blocks/s (n={wl.passes} passes)")
        print(f"freshness_p50_ms {percentile(wl.freshness, 50):.6g} ms (n={len(wl.freshness)})")
    record = {"stamp": stamp, "error_rate": error_rate, "samples": samples,
              "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "ops_ms": [(o.kind, o.name, round(o.ms, 1)) for o in log.ops]}
    if ctx.trace:
        jobs, totals = read_event_log(find_event_log(os.path.join(work, "eventlog")))
        layers, spans = layer_report(log, wl, kind, jobs, totals)
        for name, v in layers.items():
            print(f"{name} {v:.6g} {LAYER_UNITS[name]}")
        record["per_layer"] = layers
        tag = f"{args.workload}-seed{args.seed}"
        with open(os.path.join(results, f"{tag}-spans.json"), "w") as fh:
            json.dump(spans, fh)
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({
        "correct": log.failed == 0, "attempted": log.attempted,
        "failed": log.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
