"""Open-loop event generator for the ``bus_live`` workload.

Runs as its own process, so its schedule does not slow when the engine
slows. Every ``tick`` it publishes the events that fell due since the last
tick as one segment of a ``nyuki_bus`` topic, through
``sources.bus.publish_rows``. A segment is written into a staging root and
renamed into the live root, so the stream reader never sees a half-written
file.

Each event carries its *due* time (when the schedule says it is sent) and
an event time up to ``DISORDER_MS`` earlier. The seed sets the user skew
(Zipf), which events are re-sent as duplicates, and the disorder. Rates
follow a ladder of fixed steps, each with its own duration.

At the end it writes a manifest: every unique event's id, due time,
publish time and step, the number of segments and of duplicates, and how
late each tick ran.

    python3 busgen.py --live DIR --stage DIR --manifest FILE --seed N \
        --rates 200,200,1600 --step-s 2,6,4 --t0 EPOCH_S
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

TOPIC = "events"
TICK_S = 0.1
DUP_SHARE = 0.05
DUP_LAG_MS = 1000
DISORDER_MS = 1000
USERS = 1000
ZIPF_A = 1.2


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--live", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rates", required=True)
    ap.add_argument("--step-s", required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from nyuki_spark.sources.bus import publish_rows

    rng = np.random.default_rng(args.seed)
    rates = [float(r) for r in args.rates.split(",")]
    step_s = [float(s) for s in args.step_s.split(",")]
    weights = 1.0 / np.arange(1, USERS + 1) ** ZIPF_A
    weights /= weights.sum()
    users = rng.permutation(USERS)
    os.makedirs(os.path.join(args.live, TOPIC), exist_ok=True)

    events: list[list[float]] = []  # [event_id, due_ms, publish_ms, step]
    recent: list[dict] = []
    late_ms: list[float] = []
    segments = dups = 0
    carry = 0.0
    next_id = 0

    def make_event(due_ms: float) -> dict:
        nonlocal next_id
        next_id += 1
        return {
            "event_id": next_id - 1,
            "user_id": int(users[rng.choice(USERS, p=weights)]),
            "ts_ms": int(due_ms - rng.uniform(0, DISORDER_MS)),
            "due_ms": int(due_ms),
            "value": round(float(rng.uniform(0.01, 500.0)), 2),
        }

    def publish(payloads: list[dict]) -> None:
        """Write the segment to staging, then make it visible."""
        nonlocal segments
        path = publish_rows(args.stage, TOPIC, payloads)
        os.rename(path, os.path.join(args.live, TOPIC, os.path.basename(path)))
        segments += 1

    tick = 0
    for step, rate in enumerate(rates):
        for _ in range(int(round(step_s[step] / TICK_S))):
            tick += 1
            tick_end = args.t0 + tick * TICK_S
            carry += rate * TICK_S
            n, carry = int(carry), carry - int(carry)
            dues = tick_end * 1000 - TICK_S * 1000 * (1 - (np.arange(n) + 0.5) / max(n, 1))
            payloads = []
            for due in dues:
                ev = make_event(due)
                payloads.append(ev)
                recent.append(ev)
                events.append([ev["event_id"], ev["due_ms"], 0.0, step])
            recent = [e for e in recent if e["due_ms"] >= tick_end * 1000 - DUP_LAG_MS]
            for ev in recent:
                if ev not in payloads and rng.random() < DUP_SHARE * TICK_S * 1000 / DUP_LAG_MS:
                    payloads.append(ev)  # at-least-once redelivery
                    dups += 1
            pause = tick_end - time.time()
            if pause > 0:
                time.sleep(pause)
            if payloads:
                publish(payloads)
            now = time.time()
            late_ms.append(max(0.0, (now - tick_end) * 1000))
            for row in events[len(events) - n:]:
                row[2] = now * 1000
    manifest = {
        "events": events,
        "duplicates": dups,
        "segments": segments,
        "late_ms": late_ms,
        "rates": rates,
        "step_s": step_s,
        "t0": args.t0,
    }
    tmp = args.manifest + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, args.manifest)
    return 0


if __name__ == "__main__":
    sys.exit(main())
