"""Per-layer metrics of a traced run, from spans recorded outside the program.

Spans and their parents:
- fan-out: trigger (one per data micro-batch, from `StreamingQueryProgress`:
  `timestamp` .. `timestamp + batchDuration`) -> engine phases (its
  `durationMs`: latestOffset, walCommit, getBatch, queryPlanning, addBatch,
  commitOffsets) -> Spark jobs by time. A job is named from outside: no SQL
  execution = source tip probe (inside latestOffset); otherwise by its
  physical plan (insert into the ES or DLQ directory, collect-limit = DLQ
  probe, HEC line projection = Splunk), all inside addBatch. What addBatch
  spends outside named jobs is `streaming.unattributed_ms`.
- batch: (query, pass) -> build (builder call) and exec (`toRdd.count()`)
  -> Spark jobs by time.

A layer's self time is its span minus the part its children cover. Every
workload reports every metric; a layer the workload does not run reads 0.
"""
import json
import os
import statistics
from typing import Dict, List, Sequence, Tuple

import latency

PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets"]
SINKS = {"es": "es_write", "dlq_probe": "dlq_probe", "dlq_write": "dlq_write",
         "splunk": "splunk_write"}
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "config.json")) as _f:
    # per-query walls are listed for the queries of the benchmark's batch workload
    QUERIES = [q.split("_")[0] for q in json.load(_f)["workloads"]["batch"]["queries"]]
KERNELS = ["word_count", "word_shingles", "minhash_bands", "sorted_overlap"]

# (name, unit, better) for every per-layer metric, in report order.
METRICS: List[Tuple[str, str, str]] = (
    [("sources.latest_offset_ms", "ms", "lower"), ("sources.probe_job_ms", "ms", "lower"),
     ("sources.lag_records_max", "count", "lower"),
     ("sources.get_records_calls", "count", "lower"),
     ("sources.wire_reads_per_record", "ratio", "lower"),
     ("engine.trigger_ms_p50", "ms", "lower"), ("engine.trigger_ms_p90", "ms", "lower"),
     ("engine.add_batch_ms", "ms", "lower"), ("engine.query_planning_ms", "ms", "lower"),
     ("engine.wal_commit_ms", "ms", "lower"), ("engine.commit_offsets_ms", "ms", "lower"),
     ("engine.triggers", "count", "higher"), ("engine.rows_per_trigger", "count", "lower"),
     ("streaming.es_write_ms", "ms", "lower"), ("streaming.dlq_probe_ms", "ms", "lower"),
     ("streaming.dlq_write_ms", "ms", "lower"), ("streaming.splunk_write_ms", "ms", "lower"),
     ("streaming.unattributed_ms", "ms", "lower"),
     ("streaming.jobs_per_trigger", "count", "lower"),
     ("streaming.tasks_per_trigger", "count", "lower"),
     ("streaming.es_rows", "count", "higher"), ("streaming.splunk_rows", "count", "higher"),
     ("streaming.dlq_rows", "count", "higher"), ("streaming.es_files", "count", "lower"),
     ("streaming.shuffle_write_mb", "MB", "lower"),
     ("pipeline.decode_us_per_record", "us", "lower"),
     ("queries.build_s", "s", "lower"), ("queries.exec_s", "s", "lower")] +
    [(f"queries.{q}.wall_s", "s", "lower") for q in QUERIES] +
    [("operators.build_jobs", "count", "lower"), ("operators.build_tasks", "count", "lower"),
     ("operators.idle_share", "ratio", "lower")] +
    [(f"functions.{k}_ns_per_row", "ns", "lower") for k in KERNELS] +
    [("exec.jobs", "count", "lower"), ("exec.tasks", "count", "lower"),
     ("exec.run_s", "s", "lower"), ("exec.cpu_s", "s", "lower"), ("exec.gc_s", "s", "lower"),
     ("exec.sched_delay_s", "s", "lower"), ("exec.busy_share", "ratio", "higher"),
     ("exec.shuffle_read_mb", "MB", "lower"), ("exec.shuffle_write_mb", "MB", "lower"),
     ("exec.input_mb", "MB", "lower"), ("exec.spill_mb", "MB", "lower"),
     ("jvm.compile_s", "s", "lower"),
     ("process.peak_rss_mb", "MB", "lower"), ("trace.coverage", "ratio", "higher")])

# task row fields, as written by the harness Tracer
T_JOB, T_LAUNCH, T_FINISH, T_RUN, T_CPU, T_GC, T_SCHED, T_SHR, T_SHW, T_IN, T_SPILL, T_RECW = range(12)


def union_ms(intervals: Sequence[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _exec_counters(tasks: Sequence[Sequence[int]], jobs: set, wall_ms: float, cores: int) -> dict:
    ts = [t for t in tasks if t[T_JOB] in jobs]
    busy = sum(t[T_FINISH] - t[T_LAUNCH] for t in ts)
    mb = 1e6
    return {
        "exec.jobs": len(jobs), "exec.tasks": len(ts),
        "exec.run_s": sum(t[T_RUN] for t in ts) / 1e3,
        "exec.cpu_s": sum(t[T_CPU] for t in ts) / 1e9,
        "exec.gc_s": sum(t[T_GC] for t in ts) / 1e3,
        "exec.sched_delay_s": sum(t[T_SCHED] for t in ts) / 1e3,
        "exec.busy_share": busy / (wall_ms * cores) if wall_ms > 0 else 0.0,
        "exec.shuffle_read_mb": sum(t[T_SHR] for t in ts) / mb,
        "exec.shuffle_write_mb": sum(t[T_SHW] for t in ts) / mb,
        "exec.input_mb": sum(t[T_IN] for t in ts) / mb,
        "exec.spill_mb": sum(t[T_SPILL] for t in ts) / mb,
    }


def fanout(res: dict, batch, shards: int) -> Dict[str, float]:
    jobs = res["trace"]["jobs"]          # [id, start, end, exec_id, label]
    tasks = res["trace"]["tasks"]
    cores = res["cores"]
    data = sorted((p for p in res["progress"] if p["rows"] > 0), key=lambda p: p["batch"])
    triggers = data
    out: Dict[str, float] = {}
    per = {k: [] for k in ["probe", "unattr", "jobs", "tasks", "cover"] + list(SINKS.values())}
    scope = set()
    tasks_by_job: Dict[int, int] = {}
    for t in tasks:
        tasks_by_job[t[T_JOB]] = tasks_by_job.get(t[T_JOB], 0) + 1
    for p in triggers:
        lo, hi = p["ts_ms"], p["ts_ms"] + p["dur_ms"]
        ph = p["phases"]
        inside = [j for j in jobs if j[2] > lo and j[1] < hi]
        scope.update(j[0] for j in inside)
        # the tip probe runs inside latestOffset and the sink jobs inside
        # addBatch, so clipping to the trigger assigns them without having
        # to place the phases on the clock
        per["probe"].append(union_ms([(j[1], j[2]) for j in inside if j[4] == "rdd"], lo, hi))
        named = [(j[1], j[2]) for j in inside if j[4] in SINKS]
        for label, metric in SINKS.items():
            per[metric].append(union_ms([(j[1], j[2]) for j in inside if j[4] == label], lo, hi))
        per["unattr"].append(max(0.0, ph.get("addBatch", 0) - union_ms(named, lo, hi)))
        per["jobs"].append(len(inside))
        per["tasks"].append(sum(tasks_by_job.get(j[0], 0) for j in inside))
        # every millisecond of the trigger lies in some phase except the
        # engine's own bookkeeping between phases
        per["cover"].append(sum(ph.get(n, 0) for n in PHASES) / max(p["dur_ms"], 1))
    durs = [p["dur_ms"] for p in triggers]
    out["sources.latest_offset_ms"] = _median(p["phases"].get("latestOffset", 0) for p in triggers)
    out["sources.probe_job_ms"] = _median(per["probe"])
    out["sources.lag_records_max"] = lag_max(batch, shards, data)
    out["sources.get_records_calls"] = res["wire"]["get_records_calls"]
    out["sources.wire_reads_per_record"] = res["wire"]["records_returned"] / len(batch.payloads)
    out["engine.trigger_ms_p50"] = latency.percentile(durs, 50)
    out["engine.trigger_ms_p90"] = latency.percentile(durs, 90)
    for key, name in [("add_batch_ms", "addBatch"), ("query_planning_ms", "queryPlanning"),
                      ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets")]:
        out[f"engine.{key}"] = _median(p["phases"].get(name, 0) for p in triggers)
    out["engine.triggers"] = len(triggers)
    out["engine.rows_per_trigger"] = _median(p["rows"] for p in triggers)
    for metric in SINKS.values():
        out[f"streaming.{metric}_ms"] = _median(per[metric])
    out["streaming.unattributed_ms"] = _median(per["unattr"])
    out["streaming.jobs_per_trigger"] = _median(per["jobs"])
    out["streaming.tasks_per_trigger"] = _median(per["tasks"])
    run_jobs = {j[0] for j in jobs if data and j[2] > data[0]["ts_ms"] and
                j[1] < data[-1]["ts_ms"] + data[-1]["dur_ms"]}
    for label, metric in [("es", "streaming.es_rows"), ("dlq_write", "streaming.dlq_rows")]:
        ids = {j[0] for j in jobs if j[4] == label and j[0] in run_jobs}
        out[metric] = sum(t[T_RECW] for t in tasks if t[T_JOB] in ids)
    out["streaming.splunk_rows"] = res["sinks"]["splunk_total"]
    out["streaming.es_files"] = res["sinks"]["es_files"]
    out["streaming.shuffle_write_mb"] = sum(t[T_SHW] for t in tasks if t[T_JOB] in run_jobs) / 1e6
    out["pipeline.decode_us_per_record"] = res["decode_us_per_record"]
    out["jvm.compile_s"] = res["compile_ms"] / 1e3
    out.update(_exec_counters(tasks, scope, sum(durs), cores))
    out["trace.coverage"] = min(per["cover"]) if per["cover"] else 0.0
    return out


def lag_max(batch, shards: int, data: Sequence[dict]) -> int:
    """Largest appended-minus-committed record count at any trigger end.
    The whole backlog is appended before the drain starts."""
    worst, committed = 0, [0] * shards
    for p in data:
        end = json.loads(p["end"]) if p.get("end") else {}
        for s in range(shards):
            committed[s] = max(committed[s], latency.last_seq(end.get(latency.shard_name(s))) + 1)
        worst = max(worst, len(batch.payloads) - sum(committed))
    return worst


def batch_layers(res: dict) -> Dict[str, float]:
    jobs = res["trace"]["jobs"]
    tasks = res["trace"]["tasks"]
    cores = res["cores"]
    passes = [p for p in res["passes"] if p["ok"]]
    by_query: Dict[str, List[dict]] = {}
    for p in passes:
        by_query.setdefault(p["query"], []).append(p)
    out: Dict[str, float] = {}
    build_jobs, build_tasks, idle, build_wall, scope = [], [], 0.0, 0.0, set()
    task_iv: Dict[int, List[Tuple[int, int]]] = {}
    for t in tasks:
        task_iv.setdefault(t[T_JOB], []).append((t[T_LAUNCH], t[T_FINISH]))
    build_s = exec_s = compile_s = 0.0
    for q, ps in by_query.items():
        out[f"queries.{q.split('_')[0]}.wall_s"] = _median(
            (p["end_ms"] - p["start_ms"]) / 1e3 for p in ps)
        build_s += _median((p["built_ms"] - p["start_ms"]) / 1e3 for p in ps)
        exec_s += _median((p["end_ms"] - p["built_ms"]) / 1e3 for p in ps)
        compile_s += _median(p["compile_ms"] / 1e3 for p in ps)
        qj, qt = [], []
        for p in ps:
            lo, hi = p["start_ms"], p["built_ms"]
            inside = [j for j in jobs if j[1] >= lo and j[2] <= hi]
            qj.append(len(inside))
            ivs = [iv for j in inside for iv in task_iv.get(j[0], [])]
            qt.append(len(ivs))
            idle += (hi - lo) - union_ms(ivs, lo, hi)
            build_wall += hi - lo
            scope.update(j[0] for j in jobs if j[2] > p["start_ms"] and j[1] < p["end_ms"])
        build_jobs.append(_median(qj))
        build_tasks.append(_median(qt))
    out["queries.build_s"] = build_s
    out["queries.exec_s"] = exec_s
    out["jvm.compile_s"] = compile_s
    out["operators.build_jobs"] = sum(build_jobs)
    out["operators.build_tasks"] = sum(build_tasks)
    out["operators.idle_share"] = idle / build_wall if build_wall else 0.0
    for k, v in res.get("kernel_ns_per_row", {}).items():
        out[f"functions.{k}_ns_per_row"] = v
    wall = sum(p["end_ms"] - p["start_ms"] for p in passes)
    out.update(_exec_counters(tasks, scope, wall, cores))
    # a pass is build + exec by construction; nothing in it is unassigned
    out["trace.coverage"] = 1.0 if passes else 0.0
    return out


def compute(res: dict, batch, shards: int) -> Dict[str, float]:
    """Per-layer figures of one traced run, named as in METRICS."""
    out = fanout(res, batch, shards) if batch is not None else batch_layers(res)
    out["process.peak_rss_mb"] = res["peak_rss_mb"]
    return out
