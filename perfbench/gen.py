"""Deterministic inputs. Every generator takes the run's seed, so the
same seed yields byte-identical pushes, tables and corpora."""

from __future__ import annotations

import datetime as dt
import random

STATUSES = ("F", "O", "P")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
CHANNELS = ("web", "store", "phone")
EVENT_TYPES = ("click", "view", "cart", "buy")
DAY0 = dt.date(1995, 1, 1)
N_DAYS = 1200
N_CUSTOMERS = 3000


def _rng(seed: int, *stream) -> random.Random:
    return random.Random(f"{seed}:" + ":".join(map(str, stream)))


def order(rng: random.Random, key: int, channel: bool = False) -> dict:
    rec = {
        "o_orderkey": key,
        "o_custkey": rng.randrange(1, N_CUSTOMERS + 1),
        "o_status": rng.choice(STATUSES),
        "o_totalprice": round(rng.uniform(900.0, 450_000.0), 2),
        "o_orderdate": (DAY0 + dt.timedelta(days=rng.randrange(N_DAYS))).isoformat(),
    }
    if channel:
        rec["o_channel"] = rng.choice(CHANNELS)
    return rec


def orders(seed: int, n: int) -> list[dict]:
    rng = _rng(seed, "orders")
    return [order(rng, k) for k in range(n)]


def customers(seed: int) -> list[dict]:
    rng = _rng(seed, "customers")
    return [
        {
            "c_custkey": k,
            "c_name": f"Customer#{k:09d}",
            "c_nationkey": rng.randrange(25),
            "c_acctbal": round(rng.uniform(-999.0, 9999.0), 2),
            "c_mktsegment": rng.choice(SEGMENTS),
        }
        for k in range(1, N_CUSTOMERS + 1)
    ]


def events(seed: int, n_objects: int, per_object: int) -> list[list[dict]]:
    """Bronze events, one list per JSONL object."""
    rng = _rng(seed, "events")
    out, eid = [], 0
    for _ in range(n_objects):
        batch = []
        for _ in range(per_object):
            batch.append(
                {
                    "event_id": eid,
                    "user_id": rng.randrange(2000),
                    "event_type": rng.choice(EVENT_TYPES),
                    "value": round(rng.uniform(0.0, 100.0), 2),
                }
            )
            eid += 1
        out.append(batch)
    return out


class CdcStream:
    """Change stream for one silver table whose keys ``0..n_preload-1``
    already exist. Cycle ``c`` is a list of push batches holding new
    keys, updates (about 20 %) to recently written keys, byte-identical
    in-push duplicates and invalid records at fixed positions. A key
    changes at most once per cycle, so last-cycle-wins fixes the end
    state. From ``new_column_cycle`` on, records carry ``o_channel``."""

    BAD_POSITIONS = (7, 29)  # per batch; see invalid()
    DUPLICATES = 5  # exact copies appended to each batch
    RECENT = 4000  # updates target the newest keys written

    def __init__(
        self,
        seed: int,
        n_preload: int,
        batches: int,
        batch_size: int,
        new_column_cycle: int,
    ) -> None:
        self.seed = seed
        self.batches = batches
        self.batch_size = batch_size
        self.new_column_cycle = new_column_cycle
        self.next_key = n_preload
        self.cycle = 0

    @staticmethod
    def invalid(pos: int, key: int) -> dict:
        if pos == CdcStream.BAD_POSITIONS[0]:
            return {"o_custkey": 1, "o_status": "O", "o_totalprice": 1.0,
                    "o_orderdate": "1996-01-01"}  # primary key missing
        return {"o_orderkey": key, "o_custkey": 1, "o_status": "O",
                "o_totalprice": "n/a", "o_orderdate": "1996-01-01"}

    def next_cycle(self) -> list[dict]:
        """Returns ``[{"records": [...], "valid": [...], "bad": n}, ...]``."""
        c = self.cycle
        self.cycle += 1
        rng = _rng(self.seed, "cdc", c)
        channel = c >= self.new_column_cycle
        n_upd = self.batch_size // 5
        n_new = self.batch_size - n_upd
        lo = max(0, self.next_key - self.RECENT)
        upd_keys = rng.sample(range(lo, self.next_key), n_upd * self.batches)
        out = []
        for b in range(self.batches):
            keys = list(range(self.next_key, self.next_key + n_new))
            self.next_key += n_new
            keys += upd_keys[b * n_upd:(b + 1) * n_upd]
            rng.shuffle(keys)
            valid = [order(rng, k, channel) for k in keys]
            valid += [dict(valid[i]) for i in rng.sample(range(len(valid)), self.DUPLICATES)]
            records = list(valid)
            for pos in self.BAD_POSITIONS:
                records.insert(pos, self.invalid(pos, keys[0]))
            out.append({"records": records, "valid": valid, "bad": len(self.BAD_POSITIONS)})
        return out


_WORDS = (
    "batch part spark line column order small sort value scan hash slow "
    "group fast agg filter query a big key window row table stream merge "
    "data vector the customer join lake bronze silver gold file commit "
    "snapshot schema record push cycle serve plan index range point shard "
    "token corpus release split pack gate score clean near exact span"
).split()


def documents(seed: int, n: int) -> list[tuple[int, str, str, str]]:
    """(doc_id, text, lang, source): fresh texts plus exact copies,
    one-word edits and copied 16-word spans of earlier documents."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.08:
            text = texts[rng.randrange(i)]
        elif i > 20 and r < 0.16:
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(_WORDS)
            text = " ".join(words)
        else:
            words = [rng.choice(_WORDS) for _ in range(rng.randrange(12, 90))]
            if i > 20 and r < 0.24:
                src = texts[rng.randrange(i)].split()
                if len(src) >= 16:
                    at = rng.randrange(len(src) - 15)
                    words[len(words) // 2:len(words) // 2] = src[at:at + 16]
            text = " ".join(words)
        texts.append(text)
    return [(i, t, "en", f"src{i % 8}") for i, t in enumerate(texts)]
