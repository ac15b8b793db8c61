"""Steady-state benchmark of the extraction engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract_spans --seed 1 \\
        --seconds 8 --trace 0

One process runs one workload on a pinned local Spark session:

1. set-up (reported as ``setup_s``): session start, the workload's
   seeded inputs written three times (the median counts), and the
   warm-up passes that let the JIT and the Python workers settle;
2. the timed window: closed-loop passes until ``--seconds`` have
   passed, each followed by its output check (outside the timer);
3. the result: human-readable lines, then one JSON object as the last
   line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, attaches the Spark SQL executions each call
triggered to the call's span, writes the spans to
``.perfbench/traces/`` and reports the per-layer metrics, plus the
tracing overhead (traced against untraced pass wall).

Every file the run writes stays under ``.perfbench/`` in the checkout.
The program exits non-zero, without a result line, when the engine is
not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

DEFAULT_SEED = 1
SETUP_REPEATS = 3
CORES = 4
DRIVER_HEAP = "3g"
ARROW_BATCH = 2048
# stop measuring early so a run ends within 180 s, set-up included
MAX_RUN_S = 150.0


def session_conf(work: str) -> dict:
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH),
        # the heap is committed and touched at start, so the tree's RSS
        # moves with off-heap and Python-worker memory, not with when
        # the collector happened to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        # keep every execution, stage and task of the run in the
        # status stores (the traced run reads them after the window)
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
    }


def start_session(work: str):
    from blackedge_ocr_spark.session import build_session

    cores = min(CORES, os.cpu_count() or 1)
    return build_session(
        master=f"local[{cores}]",
        app_name="perfbench",
        shuffle_partitions=cores,
        arrow_max_records=ARROW_BATCH,
        extra_conf=session_conf(work),
    )


def stop_session(spark) -> None:
    """Stop Spark, close the JVM's stdin (it exits on EOF) and wait."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def median(xs):
    return statistics.median(xs) if xs else 0.0


@dataclass
class Pass:
    wall: float  # seconds, perf_counter
    cpu: float  # process-tree CPU seconds
    docs: int
    traced: bool
    e0: float  # epoch start / end, to match status-store executions
    e1: float
    layers: dict


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "blackedge_ocr_spark", "__init__.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    # the engine and the benchmark must import in Spark's Python workers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH_DIR] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    # scale-up knob of the engine's corpus readers: inputs must be
    # exactly what the seed generates
    os.environ.pop("SPARK_GRAFT_REPLICATE", None)
    sys.path.insert(0, ROOT)
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        result = run(spark, args, work, state, session_s, t_start)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in result["lines"]:
        print(line)
    print(json.dumps(result["json"]))
    return 0


def run(spark, args, work, state, session_s, t_start) -> dict:
    import proctree
    import statusstore
    import workloads
    from spans import NullTracer, Tracer

    null, tracer = NullTracer(), Tracer()
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, null)

    # ---- set-up: inputs written SETUP_REPEATS times, then warm-up
    mat = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.materialize(wl.data_dir)
        mat.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    errors: list[str] = []
    checksums: set[str] = set()
    attempted = failed = 0

    def one_pass(traced: bool) -> Pass | None:
        nonlocal attempted, failed
        wl.tracer = tracer if traced else null
        attempted += 1
        before = _pass_context(spark, statusstore, proctree) if traced else {}
        cpu0, e0 = sampler.cpu(), time.time()
        t0 = time.perf_counter()
        try:
            handle = wl.run_pass()
            wall = time.perf_counter() - t0
            e1, cpu = time.time(), sampler.cpu() - cpu0
            after = _pass_context(spark, statusstore, proctree) if traced else {}
            checked = wl.check(handle)
        except Exception as e:  # a failed pass is counted, not fatal
            traceback.print_exc()
            failed += 1
            errors.append(f"pass {attempted}: {type(e).__name__}: {e}")
            return None
        finally:
            # cache hygiene: count what the pass left persisted, then
            # clear it so the next pass measures work, not cache hits
            frames_left = statusstore.cache_entries(spark)
            spark.catalog.clearCache()
        if checked.errors:
            failed += 1
            errors.extend(f"pass {attempted}: {m}" for m in checked.errors)
        checksums.add(checked.checksum)
        layers = dict(checked.layers, **_delta(before, after))
        layers["cache.frames_left"] = float(frames_left)
        return Pass(wall, cpu, checked.docs, traced, e0, e1, layers)

    sampler = proctree.TreeSampler()
    t0 = time.perf_counter()
    for _ in range(wl.warmup_passes):
        one_pass(False)
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + median(mat) + prepare_s + warmup_s

    # ---- timed window
    passes: list[Pass] = []
    sampler.start()
    t_window = time.perf_counter()
    need = 2 if args.trace else 1  # the traced run alternates
    i = 0
    while True:
        p = one_pass(traced=bool(args.trace) and i % 2 == 1)
        if p is not None:
            passes.append(p)
        i += 1
        if i >= need and (time.perf_counter() - t_window >= args.seconds
                          or time.perf_counter() - t_start > MAX_RUN_S):
            break
    peak_rss = sampler.stop()

    stored = _stored_checksum(args.workload)
    if len(checksums) > 1:
        failed += 1
        errors.append(f"passes disagree on the output checksum: {sorted(checksums)}")
    if args.seed == DEFAULT_SEED and stored is not None and checksums != {stored}:
        failed += 1
        errors.append(f"checksum {sorted(checksums)} != stored {stored}")
    failed = min(failed, attempted)

    untraced = [p for p in passes if not p.traced]
    lines = [
        f"workload {args.workload} seed {args.seed} on local[{min(CORES, os.cpu_count() or 1)}],"
        f" driver heap {DRIVER_HEAP}, arrow batch {ARROW_BATCH}",
        f"setup: session {session_s:.2f} s + inputs {median(mat):.2f} s"
        f" (median of {len(mat)}) + prepare {prepare_s:.2f} s + warm-up {warmup_s:.2f} s"
        f" ({wl.warmup_passes} passes) = {setup_s:.2f} s",
        f"checksum {sorted(checksums)} (stored for seed {DEFAULT_SEED}: {stored})",
    ] + [f"FAILED {e}" for e in errors]

    if not args.trace:
        rates = [p.docs / p.wall for p in untraced]
        cores = [p.cpu / (p.docs / 1000.0) for p in untraced]
        metrics = {
            "docs_per_s": (median(rates), f"{wl.item}/s"),
            "core_s_per_kdoc": (median(cores), "s"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
            "setup_s": (setup_s, "s"),
        }
        n = len(untraced)
        samples = {"docs_per_s": n, "core_s_per_kdoc": n, "peak_rss_mb": 1, "setup_s": 1}
    else:
        metrics = _layer_metrics(spark, statusstore, tracer, passes)
        samples = {k: sum(p.traced for p in passes) for k in metrics}
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        path = os.path.join(state, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write(path)
        lines.append(f"spans written to {os.path.relpath(path, ROOT)}")
        calls: dict[str, list] = {}
        for sp in tracer.spans:
            if sp.parent is None:
                key = sp.name + "".join(f" {k}={v}" for k, v in sp.attrs.items())
                calls.setdefault(key, []).append(sp)
        for key, sps in calls.items():
            counted = [sp for sp in sps if sp.counters]
            extra = "".join(
                f", {k} {median([sp.counters[k] for sp in counted]):g}"
                for k in (counted[0].counters if counted else {})
            )
            lines.append(
                f"span {key}: wall {median([sp.duration for sp in sps]):.3f} s,"
                f" self {median([tracer.self_time(sp) for sp in sps]):.3f} s"
                f"{extra} (median of {len(sps)})"
            )

    labels = {"docs_per_s": wl.rate_metric, "core_s_per_kdoc": wl.cost_metric}
    for name, (value, unit) in metrics.items():
        label = labels.get(name, name)
        alias = f" (as {name})" if label != name else ""
        lines.append(f"{label}: {value:.6g} {unit} (median of {samples[name]}){alias}")
    lines.append(f"operations: {failed} failed of {attempted} attempted")
    return {
        "lines": lines,
        "json": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def _stored_checksum(workload: str):
    with open(os.path.join(BENCH_DIR, "checksums.json")) as f:
        return json.load(f).get(workload)


def _pass_context(spark, statusstore, proctree) -> dict:
    """Counters read around a traced pass: process CPU split by JVM and
    Python workers, JVM GC time."""
    me = os.getpid()
    pids = proctree.descendants(me)
    java = [p for p in pids if proctree.comm(p) == "java"]
    py = []
    for j in java:
        py += [p for p in proctree.descendants(j) if proctree.comm(p).startswith("python")]
    return {
        "jvm.cpu_s": sum(proctree.own_cpu_seconds(p) for p in java),
        "py.cpu_s": proctree.cpu_seconds(py),
        "jvm.gc_s": statusstore.jvm_gc_seconds(spark),
    }


def _delta(before: dict, after: dict) -> dict:
    return {k: after[k] - before[k] for k in before}


PER_LAYER_UNITS = {
    "scan.rows": "count", "scan.mb": "MB", "scan.s": "s",
    "segmentation.docs_parsed": "count", "segmentation.parse_per_commit": "ratio",
    "segmentation.arrow_in_mb": "MB", "segmentation.arrow_out_mb": "MB",
    "segmentation.py_init_s": "s", "segmentation.py_run_s": "s",
    "ocr.rows": "count", "ocr.arrow_in_mb": "MB", "ocr.arrow_out_mb": "MB",
    "ocr.py_start_s": "s", "ocr.py_init_s": "s", "ocr.py_run_s": "s",
    "pipeline.jvm_cpu_s": "s", "pipeline.gc_s": "s",
    "pipeline.task_max_over_median": "ratio",
    "exchange.shuffle_write_mb": "MB", "exchange.shuffle_records": "count",
    "spill.mem_mb": "MB", "spill.disk_mb": "MB",
    "driver.s": "s", "driver.jobs": "count",
    "lineage.batches": "count", "lineage.batch_s_p50": "s",
    "lineage.ack_s": "s", "lineage.resume_s": "s",
    "sink.out_mb": "MB", "sink.files": "count",
    "cache.frames_left": "count",
    "py.cpu_s": "s", "py.start_s": "s", "py.init_s": "s",
    "jvm.cpu_s": "s", "jvm.gc_s": "s",
    "trace.overhead_pct": "%", "trace.spans": "count",
}
_MB = 2**20
# plan nodes that run Python workers (ArrowEvalPython also prefixes
# ArrowEvalPythonUDTF)
_PY_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
             "FlatMapCoGroupsInPandas")
# the span whose executions make up each Python-boundary layer
_PY_LAYERS = {
    "ocr": ("ArrowEvalPython", ("extract_documents", "run_with_checkpoint")),
    "segmentation": ("MapInPandas", ("run_with_checkpoint",)),
}


def _layer_metrics(spark, statusstore, tracer, passes) -> dict:
    """Per-layer metrics: the median over traced passes of each pass's
    value (layers a workload does not exercise read 0)."""
    store = statusstore.StatusStore(spark)
    store.drain()
    # spans use perf_counter; executions carry epoch times
    clock = time.time() - time.perf_counter()
    per_pass = []
    for p in passes:
        if not p.traced:
            continue
        e0, e1 = p.e0, p.e1
        execs = store.executions(e0, e1)
        calls = [s for s in tracer.spans
                 if s.parent is None and e0 <= s.start + clock <= e1]
        by_call = {c.id: [] for c in calls}
        for ex in execs:
            for c in calls:
                if c.start + clock - 0.002 <= ex.start <= c.end + clock + 0.002:
                    tracer.add_child(c, f"sql:{ex.id}", ex.start - clock,
                                     ex.end - clock, jobs=ex.jobs)
                    by_call[c.id].append(ex)
                    break
        for c in calls:
            mine = by_call[c.id]
            c.counters = {
                "sql": len(mine),
                "jobs": sum(ex.jobs for ex in mine),
                "files_read": statusstore.node_sum(
                    mine, "Scan parquet", {"number of files read": "n"})["n"],
                "py_run_s": sum(
                    statusstore.node_sum(mine, node, statusstore.PY_METRICS)["py_run_s"]
                    for node in _PY_NODES),
            }
        v = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        scan = statusstore.node_sum(execs, "Scan parquet", statusstore.SCAN_METRICS)
        v["scan.rows"], v["scan.mb"], v["scan.s"] = (
            scan["rows"], scan["bytes"] / _MB, scan["s"])
        for layer, (node, call_names) in _PY_LAYERS.items():
            ex_l = [ex for c in calls if c.name in call_names for ex in by_call[c.id]]
            py = statusstore.node_sum(ex_l, node, statusstore.PY_METRICS)
            v[f"{layer}.arrow_in_mb"] = py["arrow_in_bytes"] / _MB
            v[f"{layer}.arrow_out_mb"] = py["arrow_out_bytes"] / _MB
            v[f"{layer}.py_init_s"] = py["py_init_s"]
            v[f"{layer}.py_run_s"] = py["py_run_s"]
            if layer == "ocr":
                v["ocr.rows"] = py["rows"]
                v["ocr.py_start_s"] = py["py_start_s"]
            else:
                v["segmentation.docs_parsed"] = py["rows"]
        if p.docs:
            v["segmentation.parse_per_commit"] = v["segmentation.docs_parsed"] / p.docs
        for node in _PY_NODES:
            py = statusstore.node_sum(execs, node, statusstore.PY_METRICS)
            v["py.start_s"] += py["py_start_s"]
            v["py.init_s"] += py["py_init_s"]
        stages = sorted({s for ex in execs for s in ex.stages})
        tot = store.stage_totals(stages)
        v["exchange.shuffle_write_mb"] = tot["shuffle_write_bytes"] / _MB
        v["exchange.shuffle_records"] = tot["shuffle_records"]
        v["spill.mem_mb"] = tot["spill_mem_bytes"] / _MB
        v["spill.disk_mb"] = tot["spill_disk_bytes"] / _MB
        extract = [ex for c in calls if c.name == "extract_documents" for ex in by_call[c.id]]
        if extract:
            ex_stages = sorted({s for ex in extract for s in ex.stages})
            ptot = store.stage_totals(ex_stages)
            v["pipeline.jvm_cpu_s"], v["pipeline.gc_s"] = ptot["cpu_s"], ptot["gc_s"]
            ratios = []
            for s in ex_stages:
                d = store.task_durations(s)
                if len(d) > 1 and statistics.median(d) > 0:
                    ratios.append(max(d) / statistics.median(d))
            v["pipeline.task_max_over_median"] = max(ratios, default=0.0)
        v["driver.s"] = sum(tracer.self_time(c) for c in calls)
        v["driver.jobs"] = float(sum(ex.jobs for ex in execs))
        sink = statusstore.node_sum(execs, "Execute InsertIntoHadoopFsRelationCommand",
                                    statusstore.SINK_METRICS)
        v["sink.out_mb"], v["sink.files"] = sink["bytes"] / _MB, sink["files"]
        v.update(p.layers)
        v["trace.spans"] = float(len(calls) + sum(len(x) for x in by_call.values()))
        per_pass.append(v)

    out = {k: median([v[k] for v in per_pass]) for k in PER_LAYER_UNITS}
    traced = median([p.wall for p in passes if p.traced])
    untraced = median([p.wall for p in passes if not p.traced])
    if traced and untraced:  # both 0 only when every pass of a kind failed
        out["trace.overhead_pct"] = 100.0 * (traced / untraced - 1.0)
    return {k: (out[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}


if __name__ == "__main__":
    sys.exit(main())
