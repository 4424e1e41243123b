"""Seeded CDC input generator for the benchmark.

For one seed it writes three parquet files into a directory:

- ``source.parquet``: the source table at snapshot time (key ``k`` plus a
  payload);
- ``feed.parquet``: one change-feed file in the envelope schema
  (``__operation``, ``change_seq``, ``__event_time``, key, payload), ordered
  by ``change_seq``. It is a single file, so ``ChangeFeedDataSource`` can
  read it as well as ``spark.read.parquet``;
- ``expected.parquet``: the live table after every change is applied.

Counts never depend on the seed: the operation sequence is a fixed pattern,
so the number of inserts, updates and deletes, and hence every row, batch
and page count, is the same for every seed. The seed picks identities only:
which keys exist, which key each update or delete hits (a Zipf draw over the
live keys, so a few keys take most changes), and the payload values.

Histories are valid by construction: updates and deletes draw only from
keys that are live at that point, and inserts use fresh keys above the
snapshot's maximum key (rows inserted after the snapshot started arrive only
through the change feed).

The operation mix and the skew come from the repository's own fixtures
rather than a guess: the mix is the one the ``cdc_events`` fixture emits
(FIXTURES.md: an insert for every key, an update for every fifth key, a
delete for every seventeenth), and the Zipf exponent is the 1.1 that the
skew benchmarks use (BENCHNOTE_r10.md).

Run ``python3 perfbench/gen.py OUT_DIR --seed N`` to write the inputs one
``cdc_drain`` run measures (``DRAIN_SIZES``) for seed N.
"""

from __future__ import annotations

import argparse
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OP_DELETE = 1
OP_INSERT = 2
OP_POST_UPDATE = 4


def _cdc_events_pattern() -> tuple[int, ...]:
    """The operations the ``cdc_events`` fixture emits for keys 1..85, the
    smallest key range whose mix repeats exactly: Insert(k), then
    PostUpdate(k) when k % 5 == 0, then Delete(k) when k % 17 == 0. That is
    85 inserts, 17 updates and 5 deletes in every 107 changes."""
    ops: list[int] = []
    for k in range(1, 86):
        ops.append(OP_INSERT)
        if k % 5 == 0:
            ops.append(OP_POST_UPDATE)
        if k % 17 == 0:
            ops.append(OP_DELETE)
    return tuple(ops)


# one block of the operation sequence, repeated over the whole feed
OP_PATTERN = _cdc_events_pattern()
ZIPF_EXPONENT = 1.1
STATUSES = np.array(["O", "F", "P", "U"])
EVENT_TIME_BASE_US = 1_700_000_000_000_000
KEY = "k"
PAYLOAD = ["cust", "status", "amount", "note"]

SOURCE_SCHEMA = pa.schema(
    [
        ("k", pa.int64()),
        ("cust", pa.int64()),
        ("status", pa.string()),
        ("amount", pa.float64()),
        ("note", pa.string()),
    ]
)
FEED_SCHEMA = pa.schema(
    [
        ("__operation", pa.int32()),
        ("change_seq", pa.int64()),
        ("__event_time", pa.timestamp("us", tz="UTC")),
    ]
    + list(SOURCE_SCHEMA)
)


@dataclass(frozen=True)
class Sizes:
    snapshot_rows: int
    changes: int

    @property
    def n_deletes(self) -> int:
        return _pattern_count(self.changes, OP_DELETE)

    @property
    def n_inserts(self) -> int:
        return _pattern_count(self.changes, OP_INSERT)

    @property
    def n_updates(self) -> int:
        return _pattern_count(self.changes, OP_POST_UPDATE)

    @property
    def live_rows(self) -> int:
        return self.snapshot_rows + self.n_inserts - self.n_deletes


# Inputs of one cdc_drain run, and of its untimed warm-up drain
DRAIN_SIZES = Sizes(snapshot_rows=900, changes=900)
WARMUP_SIZES = DRAIN_SIZES


def _pattern_count(n: int, op: int) -> int:
    full, rest = divmod(n, len(OP_PATTERN))
    return full * OP_PATTERN.count(op) + OP_PATTERN[:rest].count(op)


def _payload(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    return {
        "cust": rng.integers(1, 50_000, n),
        "status": STATUSES[rng.integers(0, len(STATUSES), n)],
        "amount": np.round(rng.uniform(1.0, 10_000.0, n), 2),
        "note": np.char.add("n", rng.integers(0, 1_000_000, n).astype(str)),
    }


def generate(sizes: Sizes, seed: int) -> tuple[pa.Table, pa.Table, pa.Table]:
    """Return (source, feed, expected) for ``seed``."""
    if sizes.snapshot_rows <= sizes.n_deletes:
        raise ValueError("snapshot too small: deletes could empty the table")
    rng = np.random.default_rng(seed)
    n = sizes.snapshot_rows
    keys = np.sort(rng.choice(4 * n, n, replace=False) + 1).astype(np.int64)
    snap = _payload(rng, n)
    state: dict[int, tuple] = {
        int(k): (int(c), str(s), float(a), str(t))
        for k, c, s, a, t in zip(
            keys, snap["cust"], snap["status"], snap["amount"], snap["note"]
        )
    }
    # popularity order: rank 0 is the hottest live key; new keys enter at a
    # seeded rank so fresh inserts also get changed
    hot = [int(k) for k in rng.permutation(keys)]

    m = sizes.changes
    ops = np.array([OP_PATTERN[i % len(OP_PATTERN)] for i in range(m)], np.int32)
    seqs = 1000 + np.cumsum(rng.integers(1, 4, m)).astype(np.int64)
    ranks = rng.zipf(ZIPF_EXPONENT, m) - 1
    gaps = rng.integers(1, 5, m)
    slots = rng.random(m)
    vals = _payload(rng, m)
    next_key = int(keys[-1])

    f_key = np.empty(m, np.int64)
    f_cust: list = [None] * m
    f_status: list = [None] * m
    f_amount: list = [None] * m
    f_note: list = [None] * m
    for i in range(m):
        op = ops[i]
        if op == OP_INSERT:
            next_key += int(gaps[i])
            k = next_key
            hot.insert(int(slots[i] * len(hot)), k)
        else:
            pos = int(ranks[i]) % len(hot)
            k = hot[pos]
            if op == OP_DELETE:
                hot.pop(pos)
        f_key[i] = k
        if op == OP_DELETE:
            del state[k]
            continue
        row = (
            int(vals["cust"][i]),
            str(vals["status"][i]),
            float(vals["amount"][i]),
            str(vals["note"][i]),
        )
        state[k] = row
        f_cust[i], f_status[i], f_amount[i], f_note[i] = row

    source = pa.table(
        {"k": keys, **{c: snap[c] for c in PAYLOAD}}, schema=SOURCE_SCHEMA
    )
    feed = pa.table(
        {
            "__operation": ops,
            "change_seq": seqs,
            "__event_time": EVENT_TIME_BASE_US + seqs * 1000,
            "k": f_key,
            "cust": f_cust,
            "status": f_status,
            "amount": f_amount,
            "note": f_note,
        },
        schema=FEED_SCHEMA,
    )
    live = sorted(state.items())
    expected = pa.table(
        {
            "k": [k for k, _ in live],
            **{c: [v[j] for _, v in live] for j, c in enumerate(PAYLOAD)},
        },
        schema=SOURCE_SCHEMA,
    )
    return source, feed, expected


def write_inputs(out_dir: str, sizes: Sizes, seed: int) -> dict[str, str]:
    """Write the three files; returns their paths by name."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in zip(("source", "feed", "expected"), generate(sizes, seed)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    print(write_inputs(args.out_dir, DRAIN_SIZES, args.seed))


if __name__ == "__main__":
    main()
