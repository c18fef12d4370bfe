"""The traced run: per-layer numbers from spans, Spark's status store,
a streaming listener and ``/proc``.

Timed passes alternate untraced and traced, so one run also yields
the tracing overhead (median traced pass minus median untraced pass).
Span tree: ``query`` -> ``plans.build`` | ``operators.exec`` -> the
wrapped ``sources`` / ``plans.sql`` calls; Spark jobs and streaming
batches become child spans of the innermost span open when they
started.
"""

from __future__ import annotations

import collections
import json
import time

import layers
import metrics

_SUMMED_FROM_SPANS = {
    "sources.load_table": "sources.load_table.s",
    "sources.spread_scan": "sources.spread_scan.s",
    "sources.staging": "sources.staging.s",
    "plans.sql.register_views": "plans.sql.register_views.s",
    "plans.build": "plans.build.s",
    "operators.exec": "operators.exec.s",
}
_SELF_TIMES = ("sources.load_table", "plans.build", "operators.exec")


def _innermost(spans: list[dict], t: float) -> dict | None:
    inside = [s for s in spans if s["start"] - 0.002 <= t <= (s["end"] or t) + 0.002]
    return max(inside, key=lambda s: s["start"]) if inside else None


def _run_query(bench, tracer, name: str, groups: tuple[str, str], acc) -> None:
    sc = bench.spark.sparkContext
    bench.attempted += 1
    q = tracer.begin("query", query=name)
    try:
        sc.setJobGroup(groups[0], name)
        cpu0 = time.process_time()
        b = tracer.begin("plans.build")
        try:
            df = bench.specs[name].fn(bench.spark, bench.sf_dir)
        finally:
            tracer.end(b)
        acc["plans.build.driver_cpu_s"] += time.process_time() - cpu0
        sc.setJobGroup(groups[1], name)
        e = tracer.begin("operators.exec")
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            tracer.end(e)
    except Exception as ex:  # noqa: BLE001
        bench.failures.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
    finally:
        tracer.end(q)
        sc.setJobGroup("perfbench|idle", "")


def _account_jobs(tracer, store, qspans: list[dict], groups: tuple[str, str], acc) -> None:
    """Attach the query's Spark jobs as spans and add their stage
    counters to the build or exec phase they ran in."""
    jobs = store.jobs(set(groups))
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages: dict[int, dict] = {}
    for s in store.stages(stage_ids):
        if s["stageId"] not in stages or s["attemptId"] > stages[s["stageId"]]["attemptId"]:
            stages[s["stageId"]] = s
    now_ms = time.time() * 1000
    for phase, group in zip(("plans.build", "operators.exec"), groups):
        phase_span = next(s for s in qspans if s["name"] == phase)
        pj = [j for j in jobs if j["jobGroup"] == group]
        ran = {
            sid: stages[sid]
            for j in pj
            for sid in j["stageIds"]
            if sid in stages and stages[sid]["status"] != "SKIPPED"
        }.values()
        intervals = []
        for j in pj:
            if j.get("submissionTime") is None:
                continue
            s, e = j["submissionTime"] / 1000, (j.get("completionTime") or now_ms) / 1000
            intervals.append((s, e))
            parent = _innermost(qspans, s)
            tracer.add("spark.job", s, e, parent["id"] if parent else phase_span["id"], job=j["jobId"])
            if parent is not None and parent["name"] == "sources.load_table":
                acc["sources.load_table.jobs"] += 1
        acc[f"{phase}.jobs"] += len(pj)
        acc[f"{phase}.stages"] += len(ran)
        acc[f"{phase}.executor_run_s"] += sum(s["executorRunTime"] for s in ran) / 1000
        if phase == "plans.build":
            wall = phase_span["end"] - phase_span["start"]
            covered = metrics.union_length(metrics.clip(intervals, phase_span["start"], phase_span["end"]))
            acc["plans.build.driver_gap_s"] += wall - covered
        else:
            acc["operators.exec.tasks"] += sum(s["numTasks"] for s in ran)
            acc["operators.exec.executor_cpu_s"] += sum(s["executorCpuTime"] for s in ran) / 1e9
            acc["operators.exec.shuffle_read_bytes"] += sum(s["shuffleReadBytes"] for s in ran)
            acc["operators.exec.shuffle_write_bytes"] += sum(s["shuffleWriteBytes"] for s in ran)
            acc["operators.exec.spill_bytes"] += sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran
            )
            acc["operators.exec.failed_tasks"] += sum(s["numFailedTasks"] for s in ran)


def _account_streams(tracer, listener, build_spans: list[dict], acc) -> None:
    started, progress = listener.drain()
    acc["streaming.queries"] = len({q for _, q in started})
    acc["streaming.batches"] = len(progress)
    for p in progress:
        acc["streaming.input_rows"] += p["input_rows"]
        acc["streaming.batch_s"] += p["batch_s"]
        acc["streaming.commit_s"] += p["commit_s"]
        acc["streaming.state_rows_max"] = max(acc["streaming.state_rows_max"], p["state_rows"])
        acc["streaming.state_mem_bytes_max"] = max(acc["streaming.state_mem_bytes_max"], p["state_mem"])
        parent = _innermost(build_spans, p["start"])
        tracer.add("streaming.batch", p["start"], p["end"], parent["id"] if parent else None,
                   qid=parent["qid"] if parent else None, batch=p["batch"])
    acc["streaming.rows_per_batch_s"] = (
        acc["streaming.input_rows"] / acc["streaming.batch_s"] if acc["streaming.batch_s"] else 0.0
    )


def traced_pass(bench, tracer, store, listener, jvm_pid: int, idx: int) -> dict:
    listener.drain()
    acc: dict[str, float] = collections.defaultdict(float)
    first_span = len(tracer.spans)
    jvm0, gc0 = layers.cpu_seconds(jvm_pid, children=False), store.gc_seconds()
    py0, procs = layers.pyworker_cpu(jvm_pid)
    tables_per_query: list[list[str]] = []
    tracer.active = True
    t0 = time.perf_counter()
    for name in bench.order():
        qid = f"{idx}:{name}"
        tracer.qid = qid
        groups = (f"perfbench|{qid}|build", f"perfbench|{qid}|exec")
        _run_query(bench, tracer, name, groups, acc)
        qspans = [s for s in tracer.spans[first_span:] if s["qid"] == qid]
        if any(s["name"] == "operators.exec" for s in qspans):
            _account_jobs(tracer, store, qspans, groups, acc)
        tables_per_query.append([s["table"] for s in qspans if s["name"] == "sources.load_table"])
    wall = time.perf_counter() - t0
    tracer.active = False
    time.sleep(0.3)  # let in-flight listener events land
    py1, procs1 = layers.pyworker_cpu(jvm_pid)
    acc["session.jvm_cpu_s"] = layers.cpu_seconds(jvm_pid, children=False) - jvm0
    acc["session.jvm_gc_s"] = store.gc_seconds() - gc0
    acc["functions.pyworker_cpu_s"] = max(py1 - py0, 0.0)
    acc["functions.pyworker_procs"] = max(procs, procs1)
    build_spans = [s for s in tracer.spans[first_span:] if s["name"] == "plans.build"]
    _account_streams(tracer, listener, build_spans, acc)
    spans = tracer.spans[first_span:]
    for s in spans:
        if s["name"] in _SUMMED_FROM_SPANS:
            acc[_SUMMED_FROM_SPANS[s["name"]]] += s["end"] - s["start"]
        if s["name"] == "sources.load_table":
            acc["sources.load_table.calls"] += 1
        elif s["name"] == "sources.spread_scan":
            acc["sources.spread_scan.calls"] += 1
    self_times = metrics.span_self_times(spans)
    for name in _SELF_TIMES:
        acc[f"{name}.self_s"] = self_times.get(name, 0.0)
    with_loads = [t for t in tables_per_query if t]
    acc["sources.load_table.calls_per_table"] = (
        sum(metrics.calls_per_table(t) for t in with_loads) / len(with_loads) if with_loads else 0.0
    )
    acc["sources.load_table.calls_per_query"] = acc["sources.load_table.calls"] / len(bench.names)
    slots = int(bench.spark.sparkContext.defaultParallelism)
    for phase in ("plans.build", "operators.exec"):
        acc[f"{phase}.slot_busy_frac"] = metrics.slot_busy_frac(
            acc[f"{phase}.executor_run_s"], slots, acc[f"{phase}.s"]
        )
    acc["trace.pass_s"] = wall
    return dict(acc)


def timed_traced(bench, seconds: float, jvm_pid: int, run_dir) -> dict:
    tracer = layers.Tracer()
    tracer.install()
    store = layers.StatusStore(bench.spark)
    listener = layers.make_stream_listener()
    bench.spark.streams.addListener(listener)
    untraced: list[float] = []
    lat: list[float] = []
    per_pass: list[dict] = []
    t_begin = time.perf_counter()
    i = 0
    try:
        while i < 2 or time.perf_counter() - t_begin < seconds:
            if i % 2 == 0:
                untraced.append(bench.timed_pass(lat))
            else:
                per_pass.append(traced_pass(bench, tracer, store, listener, jvm_pid, i))
            i += 1
    finally:
        bench.spark.streams.removeListener(listener)
    out = run_dir / "trace"
    out.mkdir(exist_ok=True)
    path = out / f"{bench.args.workload}-seed{bench.args.seed}.json"
    path.write_text(json.dumps(tracer.spans))
    traced_walls = [p["trace.pass_s"] for p in per_pass]
    return {
        "passes": untraced,
        "latencies": lat,
        "per_pass": per_pass,
        "overhead_s": metrics.median(traced_walls) - metrics.median(untraced),
        "record": {
            "traced_passes_s": traced_walls,
            "spans": len(tracer.spans),
            "spans_file": str(path.relative_to(run_dir.parent)),
        },
    }


def per_layer(setup: dict, timed: dict) -> dict:
    values = {}
    for key in metrics.PER_LAYER_UNITS:
        samples = [p.get(key, 0.0) for p in timed["per_pass"]]
        values[key] = metrics.median(samples)
    for key in ("session.start_s", "session.cold_setup_s", "session.warm_s"):
        values[key] = setup[key]
    values["trace.overhead_s"] = timed["overhead_s"]
    return values
