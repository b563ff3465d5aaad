"""Benchmark of the DXF spatial engine on ``local[4]``.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 4 --trace 0

Workloads (see ``workloads.py`` and ``BENCHMARK.json``): ``ingest`` and
``read``. The seed picks the generated inputs
(``inputs.py``). A run sets up (session, stored table for the read-only
workloads, one warm-up pass), then runs timed passes until their walls
add up to ``--seconds``; every timed pass's output is checked.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs with a
plain-JSON event log from the start of the session: the same set-up and
warm-up, then timed passes with every action tagged by its span's job
group, then the workload's layer probes once (noop-sink prefixes of its
plans; for ``read`` also both kNN queries), and prints the per-layer
metrics. The tracing overhead is ``trace.pass_s`` against the ``pass_s``
of untraced runs. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = 4
DEFAULT_SEED = 1
# A pass during which processes outside this tree (other tenants of the
# host) kept more than this many cores busy is flagged as contended: on a
# shared 4-core VM, read passes took 10.2-10.6 s at 0.03-0.06 foreign
# cores and up to 1.5x that at 0.5.
CONTENDED_CORES = 0.1
# how long processes left after the JVM has exited get to end by themselves
STOP_GRACE_S = 30.0

E2E = {  # name: (unit, better)
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "stored_bytes_per_input_byte": ("B/B", "lower"),
}

# spans whose job groups carry event-log figures, and the figures kept
SPANS = ("sources.snapshot_store.append", "plans.lineage.run_stage",
         "operators.spatial_join", "operators.knn", "operators.knn_bulk",
         "operators.area_selection", "operators.tiles", "sources.dxf_export",
         "operators.insert_expand")
SPAN_FIGURES = {"jobs": "count", "task_s": "s", "cpu_s": "s", "gc_s": "s",
                "shuffle_write_bytes": "B", "spill_bytes": "B",
                "python_bytes_sent": "B", "task_skew": "ratio"}
LAYER = {  # name: (unit, better)
    "sources.snapshot_store.append_s": ("s", "lower"),
    "plans.lineage.run_stage_s": ("s", "lower"),
    "plans.lineage.write_s": ("s", "lower"),
    "sources.entity_store.files_written": ("count", "lower"),
    "sources.entity_store.bytes_written": ("B", "lower"),
    "spark.scan_s": ("s", "lower"),
    "spark.arrow_identity_s": ("s", "lower"),
    "functions.decode.s": ("s", "lower"),
    "functions.decode.python_s": ("s", "lower"),
    "functions.decode.rows_out": ("count", "higher"),
    "functions.decode.error_rows": ("count", "lower"),
    "operators.spatial_join.s": ("s", "lower"),
    "operators.spatial_join.refine_ratio": ("ratio", "higher"),
    "operators.knn.s": ("s", "lower"),
    "operators.knn_bulk.s": ("s", "lower"),
    "operators.area_selection.s": ("s", "lower"),
    "operators.area_selection.selectivity": ("ratio", "higher"),
    "operators.tiles.s": ("s", "lower"),
    "operators.reconstruct.s": ("s", "lower"),
    "operators.reconstruct.rebuild_s": ("s", "lower"),
    "sources.dxf_export.s": ("s", "lower"),
    "sources.dxf_export.wall_s": ("s", "lower"),
    "sources.dxf_export.bytes_out": ("B", "lower"),
    "sources.dxf_export.skipped": ("count", "lower"),
    "operators.insert_expand.s": ("s", "lower"),
    "operators.insert_expand.error_rows": ("count", "lower"),
    "spark.task_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.input_records": ("count", "lower"),
    "spark.python_bytes_received": ("B", "lower"),
    # the traced passes' median wall; the tracing overhead is this minus
    # the pass_s of untraced runs of the same commit
    "trace.pass_s": ("s", "lower"),
    "trace.unattributed_s": ("s", "lower"),
    "run.contended_passes": ("count", "lower"),
    "run.foreign_cores": ("cores", "lower"),
    "run.load1": ("load", "lower"),
    # 200 / pass_s; kept out of the gated metrics, where it would be a
    # second reading of pass_s with a wider spread (the reciprocal of a
    # time that contention only ever lengthens)
    "run.docs_per_s": ("1/s", "higher"),
    "run.pass_cpu_s": ("s", "lower"),
    # per layer, not end to end: the JVM heap grows with GC timing, and
    # peak RSS spread by 16-30% across seeds of one commit
    "run.peak_rss_mib": ("MiB", "lower"),
    "inputs.generation_s": ("s", "lower"),
}
for _span in SPANS:
    for _fig, _unit in SPAN_FIGURES.items():
        LAYER[f"{_span}.{_fig}"] = (_unit, "lower")


def _since_process_start() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat", "rb") as f:
        s = f.read().decode("latin1")
    start = int(s[s.rindex(")") + 2:].split()[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        return float(f.readline().split()[0]) - start


def _environment() -> None:
    """Keep every file the run writes inside the checkout, and size the
    session for this benchmark's four cores. Must run before pyspark
    starts the JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def _session(event_log: str | None = None):
    from dxf_postgis_converter_spark.session import get_spark

    extra = None
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + event_log,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    spark = get_spark(master=f"local[{CPUS}]", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Stop any active session, then the gateway JVM it ran in, and wait
    until the JVM has exited."""
    from pyspark import SparkContext

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            SparkContext._gateway = SparkContext._jvm = None
            try:
                gateway.shutdown()
            finally:
                gateway.proc.stdin.close()  # the JVM exits when its stdin closes
                gateway.proc.wait(timeout=60)


def _ended(grace: float) -> bool:
    """Reap children as they end until no descendant is left (True) or
    ``grace`` seconds have passed (False)."""
    from procstat import descendants, reap

    deadline = time.monotonic() + grace
    while True:
        reap()
        if not descendants():
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)


def _stop_processes() -> None:
    """Stop the JVM if one was started, then wait until every process this
    run started has ended. The JVM's Python workers exit once their
    daemon's stdin closes; whatever is still running after a grace period
    gets SIGTERM, then SIGKILL."""
    from procstat import descendants

    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, signal.SIG_IGN)
    try:
        if "pyspark" in sys.modules:
            _stop_jvm()
    finally:
        if not _ended(STOP_GRACE_S):
            for sig in (signal.SIGTERM, signal.SIGKILL):
                for pid in descendants():
                    print(f"process {pid} still running; sending {sig.name}",
                          file=sys.stderr)
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                if _ended(10.0):
                    break


def _exit_on_signal(signum, _frame) -> None:
    """Turn SIGTERM and SIGHUP into an exit that runs the clean-up."""
    raise SystemExit(128 + signum)


def _timed_passes(wl, ctx, seconds: float) -> list[dict]:
    """Closed loop: passes back to back until their walls reach
    ``seconds``. Checks run between passes, outside the timing."""
    from procstat import cpu_sample, foreign_cores, tree_cpu_s

    passes = []
    while not passes or sum(p["wall"] for p in passes) < seconds:
        ctx.pass_no += 1
        first_span = len(ctx.spans)
        load1 = os.getloadavg()[0]
        a = cpu_sample()
        t0 = time.perf_counter()
        wl.run_pass(ctx)
        wall = time.perf_counter() - t0
        b = cpu_sample()
        spans = ctx.spans[first_span:]
        foreign = foreign_cores(a, b)
        passes.append({"pass": ctx.pass_no, "wall": wall, "load1": load1,
                       "cpu_s": tree_cpu_s(a, b), "foreign_cores": foreign,
                       "contended": foreign > CONTENDED_CORES,
                       "unattributed_s": wall - sum(s.wall for s in spans),
                       "spans": {s.name: s.wall for s in spans}})
        wl.check_pass(ctx)
    return passes


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _end_to_end(ctx, passes, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "pass_s": _med(p["wall"] for p in passes),
        "stored_bytes_per_input_byte": ctx.facts["stored_bytes_per_input_byte"],
    }


def _per_layer(wl, ctx, traced, folded, extra, generation_s, peak_rss) -> dict:
    out = {name: 0.0 for name in LAYER}
    span_s = {name: _med(p["spans"][name] for p in traced if name in p["spans"])
              for name in {n for p in traced for n in p["spans"]}}
    for s in ctx.spans:  # decompositions run once, after the traced passes
        if s.pass_no < 0:
            span_s[s.name] = s.wall
    for name in SPANS:
        groups = ([folded[s.group] for s in ctx.spans
                   if s.name == name and s.pass_no > 0 and s.group in folded]
                  or [folded[s.group] for s in ctx.spans
                      if s.name == name and s.pass_no < 0 and s.group in folded])
        for fig in SPAN_FIGURES:
            out[f"{name}.{fig}"] = _med(g[fig] for g in groups)
    per_pass = {}
    for s in ctx.spans:
        if s.pass_no > 0 and s.group in folded:
            row = per_pass.setdefault(s.pass_no, {})
            for fig, v in folded[s.group].items():
                row[fig] = row.get(fig, 0.0) + v
    for fig in ("task_s", "gc_s", "spill_bytes", "shuffle_read_bytes",
                "input_records", "python_bytes_received"):
        out[f"spark.{fig}"] = _med(r.get(fig, 0.0) for r in per_pass.values())

    def sec(name):
        return span_s.get(name, 0.0)

    out["sources.snapshot_store.append_s"] = sec("sources.snapshot_store.append")
    out["plans.lineage.run_stage_s"] = sec("plans.lineage.run_stage")
    out["spark.scan_s"] = sec("spark.scan")
    out["spark.arrow_identity_s"] = sec("spark.arrow_identity")
    out["functions.decode.s"] = sec("functions.decode")
    if "functions.decode" in span_s:
        out["plans.lineage.write_s"] = sec("plans.lineage.run_stage") - sec("functions.decode")
        out["functions.decode.python_s"] = sec("functions.decode") - sec("spark.arrow_identity")
    for op in ("spatial_join", "knn", "knn_bulk", "area_selection", "tiles", "insert_expand"):
        out[f"operators.{op}.s"] = sec(f"operators.{op}")
    out["operators.reconstruct.s"] = sec("operators.reconstruct")
    out["operators.reconstruct.rebuild_s"] = sec("operators.reconstruct.rebuild")
    out["sources.dxf_export.wall_s"] = sec("sources.dxf_export")
    if "operators.reconstruct" in span_s:
        out["sources.dxf_export.s"] = sec("sources.dxf_export") - sec("operators.reconstruct")
    facts = ctx.facts
    out["sources.entity_store.files_written"] = facts["files_written"]
    out["sources.entity_store.bytes_written"] = facts["bytes_written"]
    out["functions.decode.rows_out"] = facts["rows_out"]
    out["functions.decode.error_rows"] = facts["error_rows"]
    out["sources.dxf_export.bytes_out"] = facts.get("bytes_out", 0)
    out["sources.dxf_export.skipped"] = facts.get("skipped", 0)
    out["operators.insert_expand.error_rows"] = facts.get("expand_error_rows", 0)
    area = [folded[s.group]["input_records"] for s in ctx.spans
            if s.name == "operators.area_selection" and s.pass_no > 0 and s.group in folded]
    records = _med(area)
    if records and facts.get("hits"):
        selected = sum(len(h) for h in facts["hits"].values())
        out["operators.area_selection.selectivity"] = selected / records
    out.update(extra)
    out["trace.pass_s"] = _med(p["wall"] for p in traced)
    out["trace.unattributed_s"] = _med(p["unattributed_s"] for p in traced)
    out["run.contended_passes"] = sum(p["contended"] for p in traced)
    out["run.foreign_cores"] = _med(p["foreign_cores"] for p in traced)
    out["run.load1"] = _med(p["load1"] for p in traced)
    walls = [p["wall"] for p in traced]
    out["run.docs_per_s"] = wl.n_docs * len(walls) / sum(walls)
    out["run.pass_cpu_s"] = _med(p["cpu_s"] for p in traced)
    out["inputs.generation_s"] = generation_s
    out["run.peak_rss_mib"] = peak_rss / 2**20
    return out


def _recorded_digests(workload: str) -> dict:
    with open(os.path.join(HERE, "benchmark_notes.json"), encoding="utf-8") as f:
        return json.load(f)["digests"][f"seed{DEFAULT_SEED}"].get(workload, {})


def _report(passes, label: str) -> None:
    for p in passes:
        flag = "  CONTENDED" if p["contended"] else ""
        print(f"{label} pass {p['pass']}: wall {p['wall']:.3f} s, cpu {p['cpu_s']:.2f} s, unattributed "
              f"{p['unattributed_s']:.3f} s, load1 {p['load1']:.2f}, foreign "
              f"{p['foreign_cores']:.2f} cores{flag}; spans "
              + ", ".join(f"{k} {v:.3f}" for k, v in p["spans"].items()))


def run(args) -> dict:
    import inputs
    import workloads
    from procstat import PeakRss

    rss = PeakRss()
    wl = workloads.WORKLOADS[args.workload]()
    inp = inputs.ensure_inputs(WORK, args.seed, wl.n_docs)
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    t0 = _since_process_start() - inp.generation_s
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    ctx = workloads.Context(spark=_session(event_dir), inputs=inp, work=work)
    app_id = ctx.spark.sparkContext.applicationId
    t1 = _since_process_start() - inp.generation_s
    wl.setup(ctx)
    t2 = _since_process_start() - inp.generation_s
    for _ in range(wl.warmup_passes):
        wl.run_pass(ctx)
    setup_s = _since_process_start() - inp.generation_s
    print(f"set-up: process and imports {t0:.3f} s, session {t1 - t0:.3f} s, "
          f"workload set-up {t2 - t1:.3f} s, warm-up {setup_s - t2:.3f} s")
    ctx.traced = bool(args.trace)
    passes = _timed_passes(wl, ctx, args.seconds)
    _report(passes, "traced" if args.trace else "untraced")
    if args.trace:
        ctx.pass_no = -1
        extra = wl.layers(ctx)
    wl.check_run(ctx)
    if args.seed == DEFAULT_SEED:
        recorded = _recorded_digests(args.workload)
        for what, value in ctx.facts.get("digests", {}).items():
            ctx.check(f"recorded digest {what}", lambda: None if recorded.get(what) in
                      (None, value) else f"{value} != recorded {recorded.get(what)}")
    print("digests: " + json.dumps(ctx.facts.get("digests", {}), sort_keys=True))
    ctx.spark.stop()
    peak = rss.close()
    if args.trace:
        from eventlog import fold_file

        log = os.path.join(event_dir, app_id)
        folded = fold_file(log if os.path.exists(log) else log + ".inprogress")
        metrics = _per_layer(wl, ctx, passes, folded, extra, inp.generation_s, peak)
        units = LAYER
    else:
        metrics = _end_to_end(ctx, passes, setup_s)
        units = E2E
    print(f"generation_s {inp.generation_s:.3f} (not in setup_s); failed_frac "
          f"{ctx.failed / max(ctx.attempted, 1):.4f} ({ctx.failed}/{ctx.attempted})")
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name][0]}")
    return {"correct": ctx.failed == 0, "attempted": ctx.attempted, "failed": ctx.failed,
            "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "read"))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _environment()
    from procstat import become_subreaper

    become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    try:
        result = run(args)
    finally:
        _stop_processes()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
