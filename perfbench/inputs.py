"""Seeded input generators and their content digests.

Every input is a pure function of (workload, seed): the Turtle
transcripts come from the engine's own generator
(``serd_spark.transcripts.conv_turns``), the KG tables from the
benchmark's generator below.  ``pins.json`` keeps the content digest
of each workload's corpus for a set of seeds plus a small canary
corpus; ``check_pins`` refuses to run when a generator's output has
drifted, so an edit to ``transcripts.py`` cannot silently change a
workload.  Regenerate the pins with ``python3 perfbench/inputs.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from datetime import datetime, timedelta

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "pins.json")

# ---- workload sizes (the inputs every run makes from its seed) ----

# turtle_skewed: 100x mega-conversations (conversation indices 0, 128,
# 256, ...) until they hold TURTLE_MEGA_TURNS turns, then ordinary
# conversations until the corpus holds TURTLE_TURNS turns, so every
# seed carries the same work and the same skew; 4% of statements carry
# an injected syntax error.
TURTLE_TURNS = 8000
TURTLE_MEGA_TURNS = 4000
TURTLE_FILES = 8
# untimed warm-up corpus (same generator, fixed seed)
WARM_TURNS = 1500

# kg_query: TPC-H-shaped orders/customer tables
KG_ORDERS = 3000
KG_CUSTOMERS = 300

# stream_ingest: whole conversations per landed file, files per second
STREAM_CONVS_PER_FILE = 2
STREAM_RATE = 1.5


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r, default=str, separators=(",", ":"))
                 .encode())
        h.update(b"\n")
    return h.hexdigest()[:32]


# ---- transcripts ----

def conversations(seed: int, conv_ids, mega_every: int = 128,
                  with_errors: bool = True) -> list[list[tuple]]:
    """Turn rows grouped per conversation, in conversation order."""
    from serd_spark.transcripts import conv_turns

    return [list(conv_turns(c, seed=seed, mega_every=mega_every,
                            with_errors=with_errors))
            for c in conv_ids]


def turtle_corpus(seed: int, n_turns: int = TURTLE_TURNS,
                  mega_turns: int = TURTLE_MEGA_TURNS) -> list[list[tuple]]:
    """Mega-conversations up to ``mega_turns`` turns, then ordinary
    ones up to ``n_turns`` turns, in conversation-index order."""
    from serd_spark.transcripts import conv_turns

    convs: dict[int, list[tuple]] = {}
    total = 0
    while total < mega_turns:
        c = 128 * len(convs)
        convs[c] = list(conv_turns(c, seed=seed, with_errors=True))
        total += len(convs[c])
    c = 0
    while total < n_turns:
        c += 1
        if c % 128:
            convs[c] = list(conv_turns(c, seed=seed, with_errors=True))
            total += len(convs[c])
    return [convs[k] for k in sorted(convs)]


def stream_file_convs(seed: int, n_files: int) -> list[list[list[tuple]]]:
    """Conversations of each landed file (no mega-conversations: a
    micro-batch holds whole, bounded conversations)."""
    k = STREAM_CONVS_PER_FILE
    return [conversations(seed, range(i * k, (i + 1) * k),
                          mega_every=0)
            for i in range(n_files)]


def corpus_digest(convs: list[list[tuple]]) -> str:
    return _digest(r for conv in convs for r in conv)


def arrow_table(convs: list[list[tuple]]):
    import pyarrow as pa

    rows = [r for conv in convs for r in conv]
    cols = list(zip(*rows)) if rows else [[]] * 6
    return pa.table({
        "conv_id": pa.array(cols[0], pa.string()),
        "turn_idx": pa.array(cols[1], pa.int32()),
        "role": pa.array(cols[2], pa.string()),
        "text": pa.array(cols[3], pa.string()),
        "tool": pa.array(cols[4], pa.string()),
        "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
    })


def write_conv_file(convs: list[list[tuple]], path: str) -> int:
    """One parquet file of whole conversations; returns its rows."""
    import pyarrow.parquet as pq

    t = arrow_table(convs)
    pq.write_table(t, path)
    return t.num_rows


def write_corpus(convs: list[list[tuple]], directory: str,
                 n_files: int) -> int:
    """Whole conversations per file (the bucketed production layout):
    contiguous conversation ranges, ``n_files`` files."""
    os.makedirs(directory, exist_ok=True)
    per = -(-len(convs) // n_files)
    n = 0
    for i in range(n_files):
        part = convs[i * per:(i + 1) * per]
        if part:
            n += write_conv_file(
                part, os.path.join(directory, f"part-{i:05d}.parquet"))
    return n


# ---- KG tables ----

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY")


P_STATUS_SHARE = 0.025


def _status(rng: random.Random) -> str:
    if rng.random() < P_STATUS_SHARE:
        return "P"
    return "F" if rng.random() < 0.5 else "O"


def kg_tables(seed: int, n_orders: int = KG_ORDERS,
              n_customers: int = KG_CUSTOMERS) -> dict[str, list[tuple]]:
    """orders/customer rows with the columns of the engine's TPC-H
    test tables.  Order statuses take TPC-H's shares (F and O about
    48.75% each, P 2.5%: the KG closures drop 'P' edges, and each
    one prunes a whole subtree); 25 nations, uniform customer keys."""
    rng = random.Random(f"kg|{seed}")
    epoch = datetime(1992, 1, 1)
    customer = [
        (c, f"Customer#{c:09d}", rng.randrange(25),
         round(rng.uniform(-999.99, 9999.99), 2), rng.choice(_SEGMENTS))
        for c in range(n_customers)]
    orders = [
        (k, rng.randrange(n_customers), _status(rng),
         round(rng.uniform(900.0, 500000.0), 2),
         epoch + timedelta(days=rng.randrange(3650)),
         rng.choice(_PRIORITIES))
        for k in range(n_orders)]
    return {"orders": orders, "customer": customer}


def write_kg_tables(tables: dict[str, list[tuple]], directory: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    o = list(zip(*tables["orders"]))
    pq.write_table(pa.table({
        "o_orderkey": pa.array(o[0], pa.int64()),
        "o_custkey": pa.array(o[1], pa.int64()),
        "o_orderstatus": pa.array(o[2], pa.string()),
        "o_totalprice": pa.array(o[3], pa.float64()),
        "o_orderdate": pa.array(o[4], pa.timestamp("us")),
        "o_orderpriority": pa.array(o[5], pa.string()),
    }), os.path.join(directory, "orders.parquet"))
    c = list(zip(*tables["customer"]))
    pq.write_table(pa.table({
        "c_custkey": pa.array(c[0], pa.int64()),
        "c_name": pa.array(c[1], pa.string()),
        "c_nationkey": pa.array(c[2], pa.int32()),
        "c_acctbal": pa.array(c[3], pa.float64()),
        "c_mktsegment": pa.array(c[4], pa.string()),
    }), os.path.join(directory, "customer.parquet"))


def kg_digest(tables: dict[str, list[tuple]]) -> str:
    return _digest(r for name in sorted(tables) for r in tables[name])


# ---- pins ----

CANARY_SEED = 0
PINNED_SEEDS = range(1, 21)


def _digests(seed: int, canary: bool) -> dict[str, str]:
    if canary:
        return {
            "turtle_skewed": corpus_digest(turtle_corpus(seed, 1500, 500)),
            "kg_query": kg_digest(kg_tables(seed, 200, 20)),
            "stream_ingest": corpus_digest(
                [c for f in stream_file_convs(seed, 3) for c in f]),
        }
    return {
        "turtle_skewed": corpus_digest(turtle_corpus(seed)),
        "kg_query": kg_digest(kg_tables(seed)),
    }


def check_pins() -> None:
    """Raise if the canary corpora differ from the pinned digests."""
    with open(PINS) as f:
        pins = json.load(f)
    got = _digests(CANARY_SEED, canary=True)
    if got != pins["canary"]:
        raise RuntimeError(
            f"input generators drifted from perfbench/pins.json: "
            f"canary digests {got} != pinned {pins['canary']}")


def pinned_digest(workload: str, seed: int) -> str | None:
    with open(PINS) as f:
        pins = json.load(f)
    return pins["corpus"].get(workload, {}).get(str(seed))


def main() -> None:
    import sys

    sys.path.insert(0, os.getcwd())
    pins = {"canary": _digests(CANARY_SEED, canary=True), "corpus": {}}
    for seed in PINNED_SEEDS:
        for w, d in _digests(seed, canary=False).items():
            pins["corpus"].setdefault(w, {})[str(seed)] = d
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {PINS}")


if __name__ == "__main__":
    main()
