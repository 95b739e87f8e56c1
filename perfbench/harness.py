"""Runs one workload for one seed and returns the result object.

``--trace 0`` gives the end-to-end metrics, measured with tracing off.
``--trace 1`` gives the per-layer metrics: the workload runs in a session
that writes Spark's event log, with one job group per operation and the
Catalyst tracker phases of each executed plan.

Metric names and units come from BENCHMARK.json, so the file and the output
cannot drift apart."""

from __future__ import annotations

import json
import os
import shutil
import statistics

from perfbench import checks, eventlog, sparkenv
from perfbench import workloads as W
from perfbench.paths import ROOT, WORK

SETUPS = 3


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _median(xs) -> float:
    return float(statistics.median(list(xs)))


def _setups(n_cores: int, event_log: str | None = None):
    """Set up SETUPS times; the last session stays open for the workload and
    writes ``event_log`` when one is given."""
    phases = []
    for i in range(SETUPS):
        spark, ph = sparkenv.start("perfbench", n_cores,
                                   event_log if i == SETUPS - 1 else None)
        phases.append(ph)
        if i < SETUPS - 1:
            spark.stop()
    return spark, phases


def _result(spec_metrics: list[dict], values: dict, checked: list) -> dict:
    missing = {m["name"] for m in spec_metrics} - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    failed = sum(1 for op in checked if not op.ok)
    return {"correct": failed == 0, "attempted": len(checked), "failed": failed,
            "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                        for m in spec_metrics}}


def _pipeline(spark, con, seed: int, seconds: float, run_dir: str,
              phases: sparkenv.PhaseListener | None = None):
    """The pipeline's timed runs, then its checked run.
    Returns (timed ops, every checked op)."""
    off = W.doc_offset(seed)
    ops = W.pipeline_reps(spark, off, W.PIPE_DOCS, seconds, "pipeline", phases=phases)
    return ops, ops + [W.pipeline_check(spark, con, off, run_dir)]


def _gate_rounds(n_cores: int, names: list[str], seconds: float, run_dir: str):
    """Round 0 starts the JVM's first session and runs the pass there
    WARM_PASSES times, untimed: in its first pass every query is a first
    execution in the JVM, and most of the CPU goes to compiling (the JIT).
    Each later round starts a fresh session and runs the pass once more,
    until ``seconds`` of timed passes and at least MIN_ROUNDS.
    Returns (set-up phases, [(out_dir, ops)] of every pass, the
    WARM_PASSES untimed ones first)."""
    spark, ph = sparkenv.start("perfbench", n_cores)
    setups, passes, spent = [ph], [], 0.0
    for i in range(W.WARM_PASSES):
        out = os.path.join(run_dir, f"warm{i}")
        passes.append((out, W.query_pass(spark, names, out, tag=f"warm{i}.")))
    spark.stop()
    while len(passes) < W.WARM_PASSES + W.MIN_ROUNDS or spent < seconds:
        spark, ph = sparkenv.start("perfbench", n_cores)
        setups.append(ph)
        out = os.path.join(run_dir, f"round{len(passes)}")
        ops = W.query_pass(spark, names, out)
        spark.stop()
        spent += sum(op.s for op in ops)
        passes.append((out, ops))
    return setups, passes


def end_to_end(workload: str, seed: int, seconds: float, n_cores: int, run_dir: str) -> dict:
    """Each distinct operation's cost is the median CPU seconds of its timed
    runs; ``op_cpu_s`` is the geometric mean of those medians."""
    con = checks.connect()
    if workload == "pipeline":
        spark, setups = _setups(n_cores)
        ops, checked = _pipeline(spark, con, seed, seconds, run_dir)
        spark.stop()
        medians = [_median(op.cpu for op in ops)]
    else:
        names = W.gate_order(seed)
        setups, passes = _gate_rounds(n_cores, names, seconds, run_dir)
        W.check_passes(con, names, passes)
        checked = [op for _, ops in passes for op in ops]
        medians = [_median(ops[i].cpu for _, ops in passes[W.WARM_PASSES:])
                   for i in range(len(names))]
    values = {
        "setup_s": _median(sum(p.values()) for p in setups),
        "op_cpu_s": statistics.geometric_mean(medians),
    }
    return _result(_spec()["end_to_end"], values, checked)


def _layers(ops: list, groups: dict, n_cores: int) -> dict:
    """Driver, scheduler, executor, shuffle and Python-worker numbers summed
    over the traced timed operations."""
    m = dict.fromkeys((
        "driver.build_s", "driver.analysis_ms", "driver.optimize_ms", "driver.planning_ms",
        "driver.idle_s", "exec.busy_s", "sched.jobs", "sched.stages", "sched.tasks",
        "exec.run_s", "exec.cpu_s", "exec.gc_s", "shuffle.write_mb", "shuffle.read_mb",
        "shuffle.fetch_wait_s", "spill.mb", "py.run_s", "py.init_s", "py.mb_sent"), 0.0)
    mb = 1024.0 * 1024.0
    for op in ops:
        m["driver.analysis_ms"] += op.phases_ms.get("analysis", 0.0)
        m["driver.optimize_ms"] += op.phases_ms.get("optimization", 0.0)
        m["driver.planning_ms"] += op.phases_ms.get("planning", 0.0)
        g = groups.get(op.name)
        lo, hi = op.t0 * 1000.0, op.t1 * 1000.0
        busy = eventlog.busy_ms(g.intervals, lo, hi) / 1000.0 if g else 0.0
        m["driver.build_s"] += (min(g.first_submit_ms, hi) - lo) / 1000.0 if g else op.s
        m["driver.idle_s"] += op.s - busy
        m["exec.busy_s"] += busy
        if g is None:
            continue
        m["sched.jobs"] += g.jobs
        m["sched.stages"] += len(g.stages)
        m["sched.tasks"] += g.tasks
        m["exec.run_s"] += g.run_ms / 1000.0
        m["exec.cpu_s"] += g.cpu_ns / 1e9
        m["exec.gc_s"] += g.gc_ms / 1000.0
        m["shuffle.write_mb"] += g.shuffle_write_b / mb
        m["shuffle.read_mb"] += g.shuffle_read_b / mb
        m["shuffle.fetch_wait_s"] += g.fetch_wait_ms / 1000.0
        m["spill.mb"] += g.spill_b / mb
        m["py.run_s"] += g.py_run_ms / 1000.0
        m["py.init_s"] += g.py_start_ms / 1000.0
        m["py.mb_sent"] += g.py_sent_b / mb
    wall = sum(op.s for op in ops)
    m["trace.wall_s"] = wall
    m["exec.util"] = m["exec.run_s"] / (wall * n_cores)
    return m


def per_layer(workload: str, seed: int, seconds: float, n_cores: int, run_dir: str) -> dict:
    """The workload runs traced in a session whose JVM has already run it
    (or, for the pipeline, its warm-up runs), the same place an untraced run
    times it. An untraced repeat in a later session gives the tracing
    overhead."""
    spec = _spec()["per_layer"]
    values = dict.fromkeys((m["name"] for m in spec), 0.0)
    log_dir = os.path.join(run_dir, "eventlog")
    con = checks.connect()
    loops = []
    if workload == "pipeline":
        spark, setups = _setups(n_cores, event_log=log_dir)
        # a fixed number of timed runs, so the traced counts repeat exactly
        ops, checked = _pipeline(spark, con, seed, 0.0, run_dir,
                                 phases=sparkenv.PhaseListener(spark))
        off = W.doc_offset(seed)
        values.update(W.prefix_self_times(spark, off, W.PREFIX_DOCS))
        values["spatial_join.hits_per_anchor"] = W.hits_per_anchor(spark, off)
        spark, ckpt, ckpt_ops = W.checkpoint_resume(
            spark, lambda: sparkenv.start("perfbench", n_cores, event_log=log_dir)[0],
            con, off, run_dir)
        values.update(ckpt)
        checked = checked + ckpt_ops
        spark.stop()
        spark = sparkenv.start("perfbench", n_cores)[0]
        # the JVM's JIT is warm by now, so these repeats skip the warm-up runs
        base = W.pipeline_reps(spark, off, W.PIPE_DOCS, 0.0, "untraced.pipeline",
                               min_reps=len(ops), warm_ops=0)
        spark.stop()
        spark = sparkenv.start("perfbench", 1)[0]
        one = W.pipeline_reps(spark, off, W.PIPE_DOCS, 0.0, "scale.1", min_reps=2, warm_ops=0)
        values["exec.scaling_eff_1toN"] = (W.best_docs_per_s(base, W.PIPE_DOCS) / n_cores
                                           / W.best_docs_per_s(one, W.PIPE_DOCS))
    else:
        names = W.gate_order(seed)
        setups, passes = [], []

        def round_(tag, event_log=None):
            """A fresh session and one pass; traced when ``event_log`` is given."""
            spark, ph = sparkenv.start("perfbench", n_cores, event_log)
            setups.append(ph)
            out = os.path.join(run_dir, f"round{len(passes)}")
            ops = W.query_pass(spark, names, out, tag=tag,
                               phases=sparkenv.PhaseListener(spark) if event_log else None)
            passes.append((out, ops))
            return spark, ops

        # round 0, as in an untimed run
        spark, ph = sparkenv.start("perfbench", n_cores)
        setups.append(ph)
        for i in range(W.WARM_PASSES):
            out = os.path.join(run_dir, f"warm{i}")
            passes.append((out, W.query_pass(spark, names, out, tag=f"warm{i}.")))
        spark.stop()
        # first executions in a fresh session: the counts repeat exactly
        spark, ops = round_("", event_log=log_dir)
        warm = W.query_pass(spark, names, os.path.join(run_dir, "rerun"), tag="rerun.")
        passes.append((os.path.join(run_dir, "rerun"), warm))
        values["gate.cold_minus_warm_s"] = sum(op.s for op in ops) - sum(op.s for op in warm)
        extra = [W.SKEW_QUERY, *W.ITER_QUERIES]
        extra_dir = os.path.join(run_dir, "extra")
        extra_ops = W.query_pass(spark, extra, extra_dir)
        loops = extra_ops[1:]
        spark.stop()
        spark, base = round_("untraced.")
        W.check_passes(con, names, passes)
        W.check_passes(con, extra, [(extra_dir, extra_ops)])
        checked = [op for _, p in passes for op in p] + extra_ops
    for key in ("session_s", "views_s", "py_warm_s"):
        values[f"setup.{key}"] = _median(p[key] for p in setups)
    values["trace.overhead_s"] = sum(op.s for op in ops) - sum(op.s for op in base)
    # the end-to-end metric's definition, in wall seconds, from the untraced repeat
    walls = [_median(op.s for op in base)] if workload == "pipeline" else [op.s for op in base]
    values["wall.op_geomean_s"] = statistics.geometric_mean(walls)
    values["mem.peak_rss_mb"] = sparkenv.peak_rss_mb(sparkenv.jvm_pid(spark))
    spark.stop()

    groups = eventlog.by_group(eventlog.read_events(log_dir))
    values.update(_layers(ops, groups, n_cores))
    for op in loops:
        values[f"iter.jobs.{op.name}"] = groups[op.name].jobs if op.name in groups else 0
        values[f"iter.s.{op.name}"] = op.s
    if W.SKEW_QUERY in groups:
        values["skew.task_rows_max_over_median"] = eventlog.skew_ratio(groups[W.SKEW_QUERY])
    if "ckpt.resume" in groups:
        batches = values["ckpt.redo_buckets"] / W.CKPT_BATCH
        values["ckpt.jobs_per_batch"] = groups["ckpt.resume"].jobs / max(batches, 1.0)
    extra = set(values) - {m["name"] for m in spec}
    if extra:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {sorted(extra)}")
    return _result(spec, values, checked)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        return (per_layer if trace else end_to_end)(
            workload, seed, seconds, sparkenv.cores(), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
