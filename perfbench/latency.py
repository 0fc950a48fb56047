"""Latency accounting for the fan-out workload: which trigger committed
each record, and when.

Record i goes to shard `i % shards`, so its sequence number (the loopback
server's 0-based position) is `i // shards`. A trigger's source `endOffset`
names, per shard, the last sequence number it committed; a record's commit
time is the end of the first trigger whose end offset reaches it, i.e.
progress `timestamp + batchDuration`. A record no trigger committed has no
latency and counts as failed.
"""
import bisect
import json
import math
from typing import List, Optional, Sequence, Tuple


def shard_of(i: int, shards: int) -> Tuple[int, int]:
    """(shard index, sequence number) of record i."""
    return i % shards, i // shards


def shard_name(s: int) -> str:
    return f"shardId-{s:012d}"


def last_seq(value: Optional[str]) -> int:
    """Last committed sequence number from an offset value, -1 if none."""
    if value is None:
        return -1
    value = value.split("|")[0]
    return int(value) if value else -1


class CommitIndex:
    """Per shard: committed sequence ranges in trigger order, for lookup of
    the trigger that committed (shard, seq)."""

    def __init__(self, progress: Sequence[dict], shards: int):
        self.ends: List[List[int]] = [[] for _ in range(shards)]
        self.times: List[List[float]] = [[] for _ in range(shards)]
        self.batches: List[List[int]] = [[] for _ in range(shards)]
        for p in sorted(progress, key=lambda p: p["batch"]):
            if not p.get("end"):
                continue
            end = json.loads(p["end"])
            commit = p["ts_ms"] + p["dur_ms"]
            for s in range(shards):
                last = last_seq(end.get(shard_name(s)))
                if last >= 0 and (not self.ends[s] or last > self.ends[s][-1]):
                    self.ends[s].append(last)
                    self.times[s].append(commit)
                    self.batches[s].append(p["batch"])

    def lookup(self, shard: int, seq: int) -> Optional[Tuple[float, int]]:
        """(commit time ms, batch id) of the trigger that committed it."""
        k = bisect.bisect_left(self.ends[shard], seq)
        if k == len(self.ends[shard]):
            return None
        return self.times[shard][k], self.batches[shard][k]


def account(progress: Sequence[dict], shards: int, due: Sequence[float]) -> dict:
    """Latency of every record from its due time `due[i]` to its commit.

    Returns latencies (ms) of committed records, the number of distinct
    triggers they came from, and the indices of records never committed."""
    idx = CommitIndex(progress, shards)
    lat: List[float] = []
    batches = set()
    failed: List[int] = []
    for i, d in enumerate(due):
        hit = idx.lookup(*shard_of(i, shards))
        if hit is None:
            failed.append(i)
            continue
        lat.append(hit[0] - d)
        batches.add(hit[1])
    return {"latencies": lat, "triggers": len(batches), "failed": failed}


def supported_percentile(n: int, p: float, beyond: int = 10) -> float:
    """The highest percentile <= p that has at least `beyond` samples above
    it; 0 when n <= beyond."""
    if n <= beyond:
        return 0.0
    return min(p, 100.0 * (1.0 - beyond / n))


def percentile(xs: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]."""
    if not xs:
        raise ValueError("percentile of nothing")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)
