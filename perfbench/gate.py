"""Output gate: every workload's outputs are checked before a number counts.

Fan-out workloads, per generated record, against what the runner generated:
- ES (read back through `Sinks.readEsIndex`): each valid record's `_id` is
  present once, in the partition of its own day, and nothing else is there;
- Splunk: one HEC line per valid record, redeliveries included;
- DLQ: one row per poison record, raw payload byte-equal;
- `SinkMetrics`: success equals total on both sinks.

Batch: each query's set-up result equals its DuckDB oracle
(`SparkEntry.oracleSql`), compared by the repository's `tools/check_oracle.py`
(columns sorted by name, exact values, same declared column kinds); a timed
pass that throws, or whose row count differs from the checked set-up
result, is failed.
"""
import collections
import contextlib
import io
import json
import os
import sys
from typing import Dict, List, Sequence

from payloads import Batch


def _read(path: str) -> List[str]:
    with open(path, encoding="utf-8") as f:
        return [line for line in f.read().split("\n") if line]


def sinks(work: str, batch: Batch, counters: Dict[str, int]) -> dict:
    """Indices of records missing from or duplicated in their sink, plus
    unexpected sink entries and counter mismatches."""
    bad = set()
    problems = []
    expected_ids = {batch.ids[i] for i in batch.valid}
    first = {}
    for i in batch.valid:
        first.setdefault(batch.ids[i], i)

    es = collections.Counter()
    es_days = set()
    for line in _read(os.path.join(work, "es_ids.tsv")):
        rid, day = line.split("\t")
        es[rid] += 1
        es_days.add(day)
        i = first.get(rid)
        if i is None:
            problems.append(f"es holds unknown _id {rid}")
        elif day != batch.days[i]:
            bad.add(i)
            problems.append(f"es _id {rid} in partition {day}, expected {batch.days[i]}")
    for rid in expected_ids:
        if es[rid] != 1:
            bad.add(first[rid])
    missing_es = sum(1 for rid in expected_ids if es[rid] == 0)
    if missing_es:
        problems.append(f"es misses {missing_es} ids")
    unknown_es = sum(c for rid, c in es.items() if rid not in expected_ids)

    want = collections.Counter(batch.ids[i] for i in batch.valid)
    got = collections.Counter(_read(os.path.join(work, "splunk_ids.txt")))
    for rid, n in want.items():
        if got[rid] != n:
            bad.add(first[rid])
    unknown_splunk = sum(c for rid, c in got.items() if rid not in want)
    if got != want:
        problems.append(f"splunk lines {sum(got.values())}, expected {sum(want.values())}")

    want_dlq = collections.Counter(batch.payloads[i] for i in batch.poison)
    got_dlq = collections.Counter(_read(os.path.join(work, "dlq_raw.txt")))
    for i in batch.poison:
        if got_dlq[batch.payloads[i]] != want_dlq[batch.payloads[i]]:
            bad.add(i)
    unknown_dlq = sum(c for raw, c in got_dlq.items() if raw not in want_dlq)
    if got_dlq != want_dlq:
        problems.append(f"dlq rows {sum(got_dlq.values())}, expected {len(batch.poison)}")

    counter_gap = (abs(counters["es_total"] - counters["es_success"]) +
                   abs(counters["splunk_total"] - counters["splunk_success"]))
    if counter_gap:
        problems.append(f"SinkMetrics success != total: {counters}")
    want_days = {batch.days[i] for i in batch.valid}
    if es_days != want_days:
        problems.append(f"es day partitions {sorted(es_days)}, expected {sorted(want_days)}")
    return {"bad_records": sorted(bad),
            "unexpected": unknown_es + unknown_splunk + unknown_dlq + counter_gap,
            "problems": problems,
            "es_days": len(es_days)}


def oracle(root: str, result_dir: str, data_dir: str, sql: Dict[str, str],
           tables: Sequence[str]) -> Dict[str, List[str]]:
    """Per query, the list of disagreements with the oracle (empty = ok).

    The comparison is the repository's own `tools/check_oracle.py`, run over
    the workload's generated tables; its report goes to stderr."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle

    check_oracle.TABLES = list(tables)  # the generated data has only these
    with open(os.path.join(result_dir, "oracle_sql.json"), "w") as f:
        json.dump(sql, f)
    verdict = os.path.join(result_dir, "oracle_verdict.json")
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        check_oracle.main(result_dir, data_dir, verdict)
    sys.stderr.write(report.getvalue())
    with open(verdict) as f:
        ok = json.load(f)["queries"]
    problems: Dict[str, List[str]] = {}
    current = None
    for line in report.getvalue().splitlines():
        if line.startswith("FAIL "):
            current = line[5:].split(":")[0]
            problems[current] = [line[5:]] if ":" in line else []
        elif line.startswith("     ") and current:
            problems[current].append(line.strip())
        else:
            current = None
    return {q: [] if ok.get(q) else problems.get(q) or ["no oracle verdict"] for q in sql}
