"""Seeded Kinesis payload generator for the FIXTURES A.2 record shape.

Every payload is what a Kinesis `Record.Data` carries: base64 of one JSON
audit record with all 18 fields. A workload states three shares and the
generator hits them exactly (counts are rounded once, positions are drawn
from the seed):

- poison: payloads the pipeline must quarantine in the dead-letter sink
  (malformed JSON, or JSON without `random_id`/`datetime`);
- duplicate: byte-identical repeats of an earlier valid record, as a
  Kinesis redelivery produces them;
- days: `datetime` is spread over this many consecutive UTC days.

The same seed gives byte-identical payloads.
"""
import base64
import json
import random
from dataclasses import dataclass, field
from typing import List

BASE_DAY = (2026, 2, 18)
METHODS = ["GET", "POST", "PUT", "DELETE"]
KINDS = ["user", "robot", "org"]
AUTHS = ["oauth", "token", "session", "basic"]
AGENTS = ["Mozilla/5.0", "curl/8.4.0", "git/2.43.0", "python-requests/2.31"]


@dataclass
class Batch:
    """Generated payloads plus the facts the output gate checks against."""
    payloads: List[str]
    valid: List[int] = field(default_factory=list)      # indices of valid records
    poison: List[int] = field(default_factory=list)     # indices of poison records
    duplicates: List[int] = field(default_factory=list)  # indices of redeliveries
    ids: List[str] = field(default_factory=list)        # random_id per index ("" if poison)
    days: List[str] = field(default_factory=list)       # YYYY-MM-DD per index ("" if poison)


def _b64(text: str) -> str:
    return base64.b64encode(text.encode("utf-8")).decode("ascii")


def _day(offset: int) -> str:
    import datetime
    d = datetime.date(*BASE_DAY) + datetime.timedelta(days=offset)
    return d.isoformat()


def _record(rng: random.Random, i: int, days: int) -> dict:
    day = _day(rng.randrange(days))
    secs = rng.randrange(86400)
    stamp = f"{day}T{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}"
    user = rng.randrange(100000)
    return {
        "datetime": stamp,
        "@timestamp": stamp,
        "random_id": f"r{i:08d}-{rng.getrandbits(32):08x}",
        "kind_id": rng.randrange(1, 40),
        "account_id": rng.randrange(1, 50000),
        "performer_id": user,
        "repository_id": rng.randrange(1, 200000),
        "ip": "" if rng.random() < 0.05 else
              f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}",
        "metadata": {"oauth_token_id": rng.randrange(1, 10000)},
        "request_url": f"/api/v1/repos/{rng.randrange(5000)}/{rng.choice(['pulls', 'issues', 'login'])}",
        "http_method": rng.choice(METHODS),
        "performer_username": f"user{user}",
        "performer_email": f"user{user}@example.com",
        "performer_kind": rng.choice(KINDS),
        "auth_type": rng.choice(AUTHS),
        "user_agent": rng.choice(AGENTS),
        "request_id": f"req-{rng.getrandbits(48):012x}",
        "x_forwarded_for": f"192.168.{rng.randrange(256)}.{rng.randrange(1, 255)}",
    }


def _poison(rng: random.Random, i: int) -> str:
    kind = i % 3
    if kind == 0:
        return f'{{"datetime": "2026-02-18T00:00:00", "random_id": "p{i}", '  # truncated JSON
    if kind == 1:
        return json.dumps({"kind_id": rng.randrange(40), "request_id": f"p{i}"})  # no required fields
    return f"not json {rng.getrandbits(32):08x}"


def generate(seed: int, n: int, poison_share: float = 0.0,
             duplicate_share: float = 0.0, days: int = 1) -> Batch:
    """`n` payloads from `seed`, with exactly round(n * share) poison and
    duplicate records. Index 0 is always a fresh valid record, so every
    duplicate has an earlier original to repeat."""
    if n < 1 or days < 1:
        raise ValueError("n and days must be >= 1")
    rng = random.Random(seed)
    n_poison = round(n * poison_share)
    n_dup = round(n * duplicate_share)
    if n_poison + n_dup > n - 1:
        raise ValueError("shares leave no room for an original record")
    special = rng.sample(range(1, n), n_poison + n_dup)
    poison = set(special[:n_poison])
    dups = set(special[n_poison:])
    out = Batch(payloads=[])
    originals: List[int] = []
    for i in range(n):
        if i in poison:
            out.payloads.append(_b64(_poison(rng, i)))
            out.poison.append(i)
            out.ids.append("")
            out.days.append("")
        elif i in dups:
            src = originals[rng.randrange(len(originals))]
            out.payloads.append(out.payloads[src])
            out.duplicates.append(i)
            out.valid.append(i)
            out.ids.append(out.ids[src])
            out.days.append(out.days[src])
        else:
            rec = _record(rng, i, days)
            out.payloads.append(_b64(json.dumps(rec, separators=(", ", ": "))))
            originals.append(i)
            out.valid.append(i)
            out.ids.append(rec["random_id"])
            out.days.append(rec["datetime"][:10])
    return out
