#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py compare <results A> <results B>

Run from the root of a checkout. The first run builds the harness (the
repository's sources plus perfbench/harness) into .bench_build/; later runs
reuse the build while the sources are unchanged. Inputs are generated from
--seed into .bench_work/, the harness JVM sets up, measures for --seconds,
and reads the sinks back; this script checks every output and prints one
JSON object as the last line of stdout. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer metrics. A run whose outputs are wrong
prints `"correct": false` and exits 1. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import gate  # noqa: E402
import layers  # noqa: E402
import latency  # noqa: E402
import payloads  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root: str) -> str:
    """Digest of everything the build reads: production sources, the harness
    and both build definitions."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "harness", "src"),
            os.path.join(HERE, "harness", "build.sbt"),
            os.path.join(HERE, "harness", "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(root):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root: str) -> tuple:
    """Compile once per source digest; returns the runtime classpath and the
    class-data archive."""
    out = os.path.join(root, ".bench_build")
    stamp = os.path.join(out, "stamp.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"], s["archive"]
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={os.path.join(out, 'tmp')} -XX:-UsePerfData".strip()
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=f,
            stderr=subprocess.STDOUT, timeout=800).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"harness build failed (rc={rc}); see {log}")
    cp = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if not cp:
        fail(f"no classpath in {log}")
    archive = os.path.join(out, "classes.jsa")
    train(root, cp[-1], archive)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1], "archive": archive}, f)
    return cp[-1], archive


def train(root: str, classpath: str, archive: str) -> None:
    """Part of the build: one small pass over both workload kinds, dumping
    the classes it loaded into a class-data archive that every measured run
    maps at start-up. Without it each run spends seconds loading and
    verifying the same Spark classes, in set-up and measurement alike."""
    with open(os.path.join(HERE, "config.json")) as f:
        config = json.load(f)["workloads"]
    work = os.path.join(root, ".bench_build", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    catchup, batch = config["fanout_catchup"], config["batch"]
    spec, _ = prepare("fanout_catchup", dict(catchup, backlog=400, setup_records=100),
                      0, 1, True, work)
    data = os.path.join(work, "data")
    datagen.write(data, 0, batch["sf"], 100)
    spec.update(kind="train", data_dir=data, queries=batch["queries"])
    if os.path.exists(archive):
        os.remove(archive)
    run_jvm(root, classpath, "1g", spec, work, [f"-XX:ArchiveClassesAtExit={archive}"])
    shutil.rmtree(work, ignore_errors=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def write_lines(path: str, lines) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def prepare(name: str, cfg: dict, seed: int, seconds: int, trace: bool, work: str) -> tuple:
    """Generate the workload's inputs from the seed and write the harness
    spec. Returns (spec, generated facts)."""
    kind = "batch" if "queries" in cfg else "catchup"
    spec = {"workload": name, "kind": kind, "trace": trace, "seconds": seconds,
            "work_dir": work, "cpus": cpus()}
    if kind == "catchup":
        mix = (cfg["poison_share"], cfg["duplicate_share"], cfg["days"])
        batch = payloads.generate(seed, cfg["backlog"], *mix)
        # set-up runs the same record mix, so every sink path is warm
        warm = payloads.generate(seed + 1_000_003, cfg["setup_records"], *mix)
        spec.update(payload_file=os.path.join(work, "payloads.txt"),
                    warmup_file=os.path.join(work, "warmup.txt"),
                    shards=cfg["shards"], limit_per_poll=cfg["limit_per_poll"],
                    max_polls_per_shard=cfg["max_polls_per_shard"],
                    setup_cycles=cfg["setup_cycles"])
        write_lines(spec["payload_file"], batch.payloads)
        write_lines(spec["warmup_file"], warm.payloads)
        return spec, batch
    data = os.path.join(work, "data")
    datagen.write(data, seed, cfg["sf"], cfg["docs"])
    spec.update(data_dir=data, queries=cfg["queries"], min_passes=cfg["min_passes"])
    return spec, None


def run_jvm(root: str, classpath: str, heap: str, spec: dict, work: str,
            jvm_args: list) -> tuple:
    spec_path = os.path.join(work, "spec.json")
    result_path = os.path.join(work, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"] + jvm_args +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main", spec_path, result_path])
    log_path = os.path.join(work, "jvm.log")
    spawn_ms = time.time() * 1000.0
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness JVM exceeded {JVM_TIMEOUT_S}s; see {log_path}")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM failed (rc={rc}); see {log_path}")
    with open(result_path) as f:
        return json.load(f), spawn_ms


def setup_seconds(res: dict, spawn_ms: float) -> tuple:
    """Set-up cost: JVM start to Spark session ready, plus the median of the
    run's set-ups. Returns (CPU seconds, wall seconds)."""
    cycles = res["setup_cycles"]
    cpu = (res["session_cpu_ms"] + statistics.median(c["cpu_ms"] for c in cycles)) / 1000.0
    wall = ((res["session_ready_ms"] - spawn_ms) / 1000.0 +
            statistics.median(c["s"] for c in cycles))
    return cpu, wall


def fanout_metrics(cfg: dict, res: dict, batch) -> tuple:
    """The whole backlog is due when the drain starts: a record's latency is
    the end of the trigger that committed it minus the drain start."""
    n = len(batch.payloads)
    acc = latency.account(res["progress"], cfg["shards"], [res["t0_ms"]] * n)
    checked = gate.sinks(res["work_dir"], batch, res["sinks"])
    failed = set(acc["failed"]) | set(checked["bad_records"])
    lat = acc["latencies"]
    wall_s = (res["drained_ms"] - res["t0_ms"]) / 1000.0
    p_hi = latency.supported_percentile(len(lat), 99.0)
    metrics = {"cpu_s": res["cpu_ms"] / 1000.0}
    detail = {"wall_clock": {
        "latency_p50_ms": latency.percentile(lat, 50.0) if lat else None,
        "latency_p99_ms": latency.percentile(lat, p_hi) if lat else None,
        "records_per_s": n / wall_s,
        "wall_s": wall_s},
              "samples_records": len(lat), "samples_triggers": acc["triggers"],
              "p99_supported_percentile": p_hi,
              "never_committed": len(acc["failed"]),
              "sink_problems": checked["problems"][:10], "es_days": checked["es_days"]}
    failed = len(failed) + checked["unexpected"]
    return metrics, detail, n, failed, failed == 0


def batch_metrics(cfg: dict, res: dict, root: str, work: str) -> tuple:
    data = os.path.join(work, "data")
    verdict = gate.oracle(root, res["result_dir"], data, res["oracle_sql"], datagen.TABLES)
    wrong = sorted(q for q, p in verdict.items() if p)
    no_oracle = sorted(set(cfg["queries"]) - set(res["oracle_sql"]))
    # a timed pass must return as many rows as the oracle-checked set-up result
    checked_rows = result_rows(res["result_dir"], cfg["queries"])
    passes = res["passes"]
    for p in passes:
        p["ok"] = p["ok"] and p["rows"] == checked_rows.get(p["query"])
    walls = {}
    for p in passes:
        if p["ok"]:
            walls.setdefault(p["query"], []).append((p["end_ms"] - p["start_ms"]) / 1000.0)
    med = {q: statistics.median(w) for q, w in walls.items()}
    cpu_s = sum(statistics.median(p["cpu_ms"] for p in passes if p["ok"] and p["query"] == q)
                for q in med) / 1000.0
    wall_s = sum(med.values())
    rows = sum(datagen_rows(data).values())
    attempted = len(passes) + len(cfg["queries"])
    failed = sum(1 for p in passes if not p["ok"]) + len(res["warm_failed"]) + len(wrong)
    metrics = {"cpu_s": cpu_s}
    detail = {"wall_clock": {
        "latency_p50_ms": statistics.median(med.values()) * 1000.0,
        "latency_p99_ms": max(med.values()) * 1000.0,
        "records_per_s": rows / wall_s,
        "wall_s": wall_s},
              "passes": 1 + max(p["pass"] for p in passes),
              "oracle_wrong": {q: verdict[q][:3] for q in wrong},
              "failed_passes": sorted({p["query"] for p in passes if not p["ok"]}),
              "no_oracle": no_oracle,
              "query_median_s": {q: round(v, 4) for q, v in sorted(med.items())}}
    correct = failed == 0 and not no_oracle and len(med) == len(cfg["queries"])
    return metrics, detail, attempted, failed, correct


def result_rows(result_dir: str, queries) -> dict:
    """Row count of each query's set-up result, as written for the oracle."""
    import pyarrow.parquet as pq
    out = {}
    for q in queries:
        parts = glob.glob(os.path.join(result_dir, q, "*.parquet"))
        if parts:
            out[q] = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    return out


def datagen_rows(data: str) -> dict:
    import pyarrow.parquet as pq
    return {t: pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows
            for t in datagen.TABLES}


def main(argv) -> None:
    if argv and argv[0] == "compare":
        import compare
        sys.exit(compare.main(argv[1:]))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    with open(os.path.join(HERE, "config.json")) as f:
        config = json.load(f)
    ap.add_argument("--workload", required=True, choices=sorted(config["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala")) and
            os.path.isdir(os.path.join(HERE, "harness"))):
        fail("run from the root of a graft checkout: src/main/scala is missing")
    cfg = config["workloads"][args.workload]
    classpath, archive = build(root)
    work = os.path.join(root, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec, batch = prepare(args.workload, cfg, args.seed, args.seconds, bool(args.trace), work)
    res, spawn_ms = run_jvm(root, classpath, config["jvm_heap"], spec, work,
                            [f"-XX:SharedArchiveFile={archive}"])
    res["work_dir"] = work
    if batch is not None:
        e2e, detail, attempted, failed, correct = fanout_metrics(cfg, res, batch)
    else:
        e2e, detail, attempted, failed, correct = batch_metrics(cfg, res, root, work)
    e2e["setup_s"], detail["wall_clock"]["setup_wall_s"] = setup_seconds(res, spawn_ms)
    units = {"setup_s": "s", "cpu_s": "s"}
    if args.trace:
        res["cores"] = spec["cpus"]
        got = layers.compute(res, batch, cfg.get("shards", 0))
        metrics = {name: {"value": float(got.get(name, 0.0)), "unit": unit}
                   for name, unit, _ in layers.METRICS}
        detail["end_to_end"] = e2e
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    cycles = res["setup_cycles"]
    detail.update(workload=args.workload, seed=args.seed, failed_frac=failed / attempted,
                  timeline_s={"session": (res["session_ready_ms"] - spawn_ms) / 1e3,
                              "set_up": (cycles[-1]["end_ms"] - cycles[0]["start_ms"]) / 1e3,
                              "after_set_up": (res["done_ms"] - cycles[-1]["end_ms"]) / 1e3,
                              "checks": time.time() - res["done_ms"] / 1e3})
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps({"correct": bool(correct), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    if correct:  # a failed run keeps its work directory for inspection
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main(sys.argv[1:])
