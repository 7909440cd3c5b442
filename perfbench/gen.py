"""Seeded change-event generator for the replication benchmark.

The program under test receives only the parquet segments this module
lands; what the checks need to know about the traffic (the generator's
own dup/late labels and the keys they touch) stays in the ledger. Every
event is due when the timed phase starts (a pre-landed backlog or a
batch job), so the ledger keeps no per-event due times.

Traffic model
- Events are drawn in due order and get globally unique, rising
  ``commit_ts`` values (a TSO), so ``commit_ts`` rises with due time
  within every source.
- The history is cut into rounds. Each round lands one segment per
  source, holding that source's events of the round, so segments of one
  round share a ts window and the windows of different rounds do not
  overlap.
- A ``late`` event swaps places with the event before it in its
  segment; a ``dup`` is a second copy of an event, later in its
  segment. Both stay within their segment, so the per-batch order gate
  sees the predecessor.
- ``boundary_rounds`` names rounds whose segments instead receive a few
  events held back from the previous round of the same source
  (``boundary_late``) or re-delivered from it (``boundary_dup``). When a
  micro-batch ends exactly at that round, the predecessor sits in the
  previous batch.

Transactions are one row each: the engine's order gate reads a repeated
``commit_ts`` as a duplicate delivery, so rows sharing a ``commit_ts``
would be dropped rather than applied as one transaction. Causality
groups merge through hot keys instead (``key_dist="zipf"``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# column order and types of the engine's change schema
# (tidb_binlog_spark.streaming.pipeline.CHANGE_SCHEMA)
ARROW_SCHEMA = pa.schema([
    ("arrival_seq", pa.int64()), ("source_id", pa.string()),
    ("commit_ts", pa.int64()), ("start_ts", pa.int64()),
    ("op", pa.string()), ("db", pa.string()), ("tbl", pa.string()),
    ("pk", pa.int64()), ("seq", pa.int32()),
    ("schema_version", pa.int64()), ("val", pa.float64()),
    ("row_json", pa.string()),
])

DB = "bench"
TABLE = "t0"
TS_BASE = 1_000_000
TS_STEP = 10


@dataclass(frozen=True)
class Traffic:
    events_per_round: int
    rounds: int
    n_sources: int = 3
    n_keys: int = 50_000
    key_dist: str = "uniform"       # "uniform" | "zipf"
    zipf_s: float = 1.1
    op_mix: tuple[float, float, float] = (0.3, 0.6, 0.1)   # I, U, D
    dup_share: float = 0.0
    late_share: float = 0.0
    boundary_rounds: tuple[int, ...] = ()
    boundary_events: int = 0        # per source, per kind, per round


@dataclass
class Segment:
    round: int
    source: str
    table: pa.Table


@dataclass
class Ledger:
    """What the generator knows and the program does not: one entry per
    landed row, in landing order."""
    label: np.ndarray            # ok / late / dup / boundary_late / boundary_dup
    pk: np.ndarray

    def count(self, label: str) -> int:
        return int((self.label == label).sum())


def _keys(rng: np.random.Generator, t: Traffic, n: int) -> np.ndarray:
    if t.key_dist == "uniform":
        return rng.integers(0, t.n_keys, n)
    if t.key_dist != "zipf":
        raise ValueError(f"unknown key_dist {t.key_dist!r}")
    w = 1.0 / np.arange(1, t.n_keys + 1) ** t.zipf_s
    cdf = np.cumsum(w / w.sum())
    rank = np.minimum(np.searchsorted(cdf, rng.random(n)), t.n_keys - 1)
    # hot keys scattered over the key space, not packed at 0..k
    return rng.permutation(t.n_keys)[rank]


def generate(seed: int, t: Traffic) -> tuple[list[Segment], Ledger]:
    """Draw the whole history; return its segments in landing order
    (round by round, source by source) and the ledger."""
    rng = np.random.default_rng(seed)
    n = t.events_per_round * t.rounds
    ts = TS_BASE + TS_STEP * np.arange(n, dtype=np.int64)
    src = rng.integers(0, t.n_sources, n)
    op = rng.choice(np.array(["I", "U", "D"]), n, p=list(t.op_mix))
    pk = _keys(rng, t, n).astype(np.int64)
    val = np.round(rng.random(n) * 1000.0, 3)
    rnd = np.arange(n) // t.events_per_round

    # held-back / re-delivered events for the boundary rounds: taken
    # from the tail of the previous round of the same source
    carried: dict[tuple[int, int], list[tuple[int, str]]] = {}
    held = np.zeros(n, bool)
    for r in t.boundary_rounds:
        if not 0 < r < t.rounds:
            raise ValueError(f"boundary round {r} outside 1..{t.rounds - 1}")
        prev = np.flatnonzero(rnd == r - 1)
        for s in range(t.n_sources):
            tail = prev[src[prev] == s][-2 * t.boundary_events:]
            late, dup = tail[0::2], tail[1::2]
            held[late] = True
            carried[(r, s)] = ([(int(i), "boundary_late") for i in late]
                               + [(int(i), "boundary_dup") for i in dup])

    cols = {k: [] for k in ("idx", "label", "src")}
    cuts: list[tuple[int, int, int]] = []      # (round, source, end row)
    for r in range(t.rounds):
        in_round = np.flatnonzero(rnd == r)
        for s in range(t.n_sources):
            idx = [int(i) for i in in_round[src[in_round] == s]
                   if not held[i]]
            labels = ["ok"] * len(idx)
            m = len(idx)
            # late: swap with the predecessor (never the first row, so
            # the predecessor is in this segment)
            for j in np.flatnonzero(rng.random(m) < t.late_share):
                if j > 0 and labels[j] == labels[j - 1] == "ok":
                    idx[j - 1], idx[j] = idx[j], idx[j - 1]
                    labels[j] = "late"
            # dup: re-deliver a row of this segment a few rows on
            for j in sorted(np.flatnonzero(rng.random(m) < t.dup_share),
                            reverse=True):
                if labels[j] == "ok":
                    at = min(len(idx), int(j) + 1 + int(rng.integers(0, 8)))
                    idx.insert(at, idx[j])
                    labels.insert(at, "dup")
            lead = carried.get((r, s), [])
            cols["idx"] += [i for i, _ in lead] + idx
            cols["label"] += [lab for _, lab in lead] + labels
            cols["src"] += [s] * (len(lead) + len(idx))
            cuts.append((r, s, len(cols["idx"])))

    idx = np.asarray(cols["idx"], np.int64)
    arrival = np.arange(len(idx), dtype=np.int64)
    ledger = Ledger(label=np.asarray(cols["label"]), pk=pk[idx])
    table = pa.table({
        "arrival_seq": arrival,
        "source_id": np.char.add("src", np.asarray(cols["src"]).astype(str)),
        "commit_ts": ts[idx],
        "start_ts": ts[idx] - 1 - (arrival % 5),
        "op": op[idx],
        "db": np.full(len(idx), DB),
        "tbl": np.full(len(idx), TABLE),
        "pk": pk[idx],
        "seq": np.zeros(len(idx), np.int32),
        "schema_version": np.ones(len(idx), np.int64),
        "val": val[idx],
        "row_json": np.char.add(np.char.add('{"k":"v', (idx % 97).astype(str)),
                                '"}'),
    }, schema=ARROW_SCHEMA)
    segments, start = [], 0
    for r, s, end in cuts:
        segments.append(Segment(r, f"src{s}", table.slice(start, end - start)))
        start = end
    return segments, ledger


def land(segment: Segment, zone: str, name: str, mtime: float) -> str:
    """Write one segment into a landing zone atomically: the file
    source lists the directory on every trigger, so a half-written
    file must never carry a listable name. The file source takes files
    in modification-time order, so each segment gets its own ``mtime``
    and batch contents do not depend on timestamp ties."""
    os.makedirs(zone, exist_ok=True)
    tmp = os.path.join(zone, f"_{name}.parquet")
    final = os.path.join(zone, f"{name}.parquet")
    pq.write_table(segment.table, tmp)
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, final)
    return final
