"""Seeded workload generators for the paper-pipeline benchmark.

Both generators are pure Python (no Spark) and are staged to parquet
with pyarrow during set-up, so the engine only ever reads generated
files:

- :func:`planted_log` simulates a short-trace process with all five
  batch types planted by dedicated batch resources, and returns the
  ground truth (one entry per planted instance) beside the rows.
- :func:`events_table` reproduces the shape of the engine's sf0.1
  ``events`` test table (cases of 45-99 events, 5 activities, uniform arrivals,
  exponential durations); ``sources.event_log.events_as_event_log``
  adapts it into an event log with 20 resources, each case pinned to one.
"""

from __future__ import annotations

import heapq
import random
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

BASE_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
SEC = 1_000_000

# The five batch types, spelled out rather than imported from the engine
# so the ground truth does not follow a change to the engine's labels.
PARALLEL = "Parallel"
TASK_SEQ = "Sequential task-based"
TASK_CONC = "Concurrent task-based"
CASE_SEQ = "Sequential case-based"
CASE_CONC = "Concurrent case-based"
TASK_TYPES = (PARALLEL, TASK_SEQ, TASK_CONC)
CASE_TYPES = (CASE_SEQ, CASE_CONC)

# Shape of a planted log: events per case, members per batch instance,
# batched units per type, noise activities, case arrivals per hour.
ROUTE_EVENTS = (3, 15)
BATCH_SIZE = (2, 8)
UNITS_PER_TYPE = 4
NOISE_UNITS = 12
ARRIVALS_PER_HOUR = 6.0


@dataclass
class Log:
    """Rows ``(case, activity, resource, start_us, end_us)`` and the
    planted instances as ``(batch type, frozenset of (case, activity))``."""

    rows: list[tuple] = field(default_factory=list)
    planted: list[tuple[str, frozenset]] = field(default_factory=list)


@dataclass
class _Unit:
    """One step of a route: a noise activity served by a resource pool,
    a task-level batched activity, or a two-activity subprocess batched
    at case level. Each batch resource has its own queue."""

    acts: tuple[str, ...]
    kind: str                    # "noise" or one of the five batch types
    resources: list[str]
    free: list[int]              # per resource: µs at which it is idle
    queues: list[list]           # per resource: (case, step, ready µs)
    targets: list[int]           # per resource: queue size that fires


def _units(rng: random.Random) -> list[_Unit]:
    kinds = ["noise"] * NOISE_UNITS + [t for t in TASK_TYPES + CASE_TYPES
                                       for _ in range(UNITS_PER_TYPE)]
    rng.shuffle(kinds)
    # Every case opens with the same noise activity, so no batched step
    # is ever a case's first event (whose enabled time is its own start).
    kinds.insert(0, "noise")
    units, a = [], 0
    for k in kinds:
        acts = tuple(f"A{a + i:02d}" for i in range(2 if k in CASE_TYPES else 1))
        a += len(acts)
        n = 3 if k == "noise" else 2
        res = [f"{'R' if k == 'noise' else 'B'}{acts[0]}_{j}" for j in range(n)]
        units.append(_Unit(acts, k, res, [0] * n, [[] for _ in range(n)],
                           [rng.randint(*BATCH_SIZE) for _ in range(n)]))
    return units


def planted_log(seed: int, n_cases: int) -> Log:
    """Discrete-event simulation of ``n_cases`` cases.

    Each case walks a sorted random subset of the units, so the
    directly-follows relation has no reversed pair and every event's
    enabled time is its predecessor's end. A noise resource runs one
    event at a time and idles at least a second between two, so no two
    of its executions are adjacent. A batch resource queues ready cases
    and fires when its queue reaches a seeded size, laying the members
    out in its unit's type shape:

    - Parallel: identical intervals;
    - Sequential task-based: back to back;
    - Concurrent task-based: staggered by a third of the duration;
    - Sequential case-based: two-activity envelopes back to back, with a
      gap between consecutive executions of either activity;
    - Concurrent case-based: envelopes staggered by 1.5 durations, so
      envelopes overlap while executions of one activity do not.
    """
    rng = random.Random(seed)
    units = _units(rng)
    routes, heap, t = [], [], BASE_US
    for c in range(n_cases):
        want, picked, n = rng.randint(*ROUTE_EVENTS), [0], 1
        for i in rng.sample(range(1, len(units)), len(units) - 1):
            if n >= want:
                break
            picked.append(i)
            n += len(units[i].acts)
        routes.append(sorted(picked))
        t += int(rng.expovariate(ARRIVALS_PER_HOUR) * 3600 * SEC) + SEC
        heap.append((t, c, 0))
    heapq.heapify(heap)
    out = Log()

    def case_id(c: int) -> str:
        return f"case{c:06d}"

    def advance(c: int, step: int, end: int) -> None:
        if step + 1 < len(routes[c]):
            heapq.heappush(heap, (end + rng.randint(60, 4 * 3600) * SEC, c, step + 1))

    def fire(u: _Unit, r: int) -> None:
        members, res = u.queues[r], u.resources[r]
        u.queues[r], u.targets[r] = [], rng.randint(*BATCH_SIZE)
        ready = max(m[2] for m in members)
        f = max(ready, u.free[r]) + rng.randint(60, 1800) * SEC
        p = rng.randint(10, 60) * 60 * SEC
        keys, end = set(), f
        for i, (c, step, _) in enumerate(members):
            if u.kind in CASE_TYPES:
                s = f + (2 * i * p if u.kind == CASE_SEQ else 3 * i * p // 2)
                spans = [(u.acts[0], s, s + p), (u.acts[1], s + p, s + 2 * p)]
            else:
                s = f + {PARALLEL: 0, TASK_SEQ: i * p, TASK_CONC: i * p // 3}[u.kind]
                spans = [(u.acts[0], s, s + p)]
            for act, s0, e0 in spans:
                out.rows.append((case_id(c), act, res, s0, e0))
                keys.add((case_id(c), act))
            end = max(end, spans[-1][2])
            advance(c, step, spans[-1][2])
        u.free[r] = end + SEC
        if len(members) >= 2:
            out.planted.append((u.kind, frozenset(keys)))

    while True:
        if not heap:
            # No case can reach a queue any more: flush the leftovers (a
            # one-member leftover runs alone and plants nothing).
            left = [(u, r) for u in units for r in range(len(u.queues)) if u.queues[r]]
            if not left:
                break
            fire(*left[0])
            continue
        ready, c, step = heapq.heappop(heap)
        u = units[routes[c][step]]
        if u.kind == "noise":
            r = min(range(len(u.free)), key=lambda j: (u.free[j], j))
            s = max(ready, u.free[r]) + rng.randint(1, 600) * SEC
            e = s + rng.randint(5 * 60, 60 * 60) * SEC
            out.rows.append((case_id(c), u.acts[0], u.resources[r], s, e))
            u.free[r] = e
            advance(c, step, e)
            continue
        r = rng.randrange(len(u.resources))
        u.queues[r].append((c, step, ready))
        if len(u.queues[r]) >= u.targets[r]:
            fire(u, r)
    return out


def events_table(seed: int, n_cases: int) -> dict[str, list]:
    """Columns of an ``events`` table shaped like the sf0.1 test table:
    ``n_cases × 200/3`` events (that table's 100k / 1,500), each on
    a uniformly drawn user, at a uniform instant of a horizon scaled so
    each (resource, activity) pair sees that table's event density
    (30 days at 1,500 users), with one of 5 event types and an
    exponential ``value`` (mean 50, two decimals) that the source adapter
    turns into the duration in seconds."""
    rng = random.Random(seed)
    n = n_cases * 200 // 3
    horizon_us = 30 * 86_400 * SEC * n_cases // 1_500
    ts = sorted(BASE_US + rng.randrange(horizon_us) for _ in range(n))
    types = ("click", "error", "purchase", "signup", "view")
    return {
        "event_id": list(range(n)),
        "ts": ts,
        "user_id": [rng.randrange(n_cases) for _ in range(n)],
        "event_type": [rng.choice(types) for _ in range(n)],
        "value": [round(rng.expovariate(1 / 50), 2) for _ in range(n)],
    }


_TS = pa.timestamp("us", tz="UTC")


def write_events(cols: dict[str, list], path: str) -> None:
    pq.write_table(pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.int64()).cast(_TS),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
    }), path)


def write_log(log: Log, path: str, ids) -> None:
    """Stage the log's rows under the engine's column names."""
    case, act, res, s, e = zip(*log.rows)
    pq.write_table(pa.table({
        ids.case: pa.array(case, pa.string()),
        ids.activity: pa.array(act, pa.string()),
        ids.resource: pa.array(res, pa.string()),
        ids.start_time: pa.array(s, pa.int64()).cast(_TS),
        ids.end_time: pa.array(e, pa.int64()).cast(_TS),
    }), path)
