"""Summarise benchmark artifacts (``perfbench/out/*.json``).

    python3 perfbench/report.py [DIR]
        Per workload: each end-to-end metric's median over the seeds found,
        with its spread (interquartile range / median); failed_ratio; the
        tracing overhead (traced minus untraced run of the same seed); each
        id's per-layer self time; python.repeat_ratio per id with its base;
        and, for streaming workloads, the per-id micro-batch phase table.

    python3 perfbench/report.py --quartiles QID DIR_A DIR_B
        Rep-time quartiles of one id in two sets of runs, and whether the
        two interquartile ranges overlap (overlap: the difference is noise).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

from tracing import PHASES

HERE = os.path.dirname(os.path.abspath(__file__))


def load(directory: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path, encoding="utf-8") as fh:
            out.append(json.load(fh))
    return out


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def _cost(a: dict) -> float | None:
    """The figure the tracing overhead is taken on: suite_s for closed loops,
    base-rate median latency for bus_live."""
    if "suite_s" in a:
        return a["suite_s"]
    return a.get("end_to_end", {}).get("latency_ms")


def summary(directory: str) -> None:
    arts = load(directory)
    by_wl: dict[str, list[dict]] = {}
    for a in arts:
        by_wl.setdefault(a["workload"], []).append(a)
    for wl, runs in sorted(by_wl.items()):
        plain = [a for a in runs if not a["trace"]]
        traced = [a for a in runs if a["trace"]]
        print(f"== {wl}: {len(plain)} untraced, {len(traced)} traced runs")
        if plain:
            for name in plain[0]["end_to_end"]:
                vals = [a["end_to_end"][name] for a in plain]
                print(f"  {name:18s} median {statistics.median(vals):12.4f}  spread {spread(vals):.3f}  n={len(vals)}")
            ratios = [a["failed_ratio"] for a in plain]
            print(f"  failed_ratio       max {max(ratios):.4f} "
                  f"({sum(a['failed'] for a in plain)} of {sum(a['attempted'] for a in plain)})")
        plain_by_seed = {a["seed"]: a for a in plain}
        for t in traced:
            base = plain_by_seed.get(t["seed"])
            if base and _cost(base) and _cost(t):
                print(f"  tracing overhead (seed {t['seed']}): {_cost(t) - _cost(base):+.3f} "
                      f"({_cost(t):.3f} traced vs {_cost(base):.3f} untraced)")
        if not traced:
            continue
        t = traced[0]
        per_id = t.get("layers", {}).get("per_id", {})
        if per_id:
            print(f"  per-id self time, s (seed {t['seed']}, median over reps):")
            for qid, m in sorted(per_id.items()):
                selfs = {k[7:]: v for k, v in m.items() if k.startswith("self_s.")}
                print(f"    {qid:32s} " + "  ".join(f"{k}={v:.3f}" for k, v in sorted(selfs.items())))
            print("  python.repeat_ratio per id (Python plan-node runs / distinct Python plan nodes):")
            for qid, m in sorted(per_id.items()):
                runs, distinct = m.get("python.node_runs", 0), m.get("python.distinct_nodes", 0)
                ratio = f"{runs / distinct:.2f}" if distinct else "n/a"
                print(f"    {qid:32s} {ratio} = {runs:g} / {distinct:g}")
            if any(m.get("streaming.batches") for m in per_id.values()):
                cols = ["replay_write_s", "replay_jobs", "batches"] + [f"{p}_ms" for p in PHASES] + ["state_commit_ms"]
                print("  phase table: " + " | ".join(["id"] + cols))
                for qid, m in sorted(per_id.items()):
                    row = [m.get("streaming.replay_write_s", 0), m.get("streaming.replay_jobs", 0),
                           m.get("streaming.batches", 0)]
                    row += [m.get(f"streaming.phase_ms.{p}", 0) for p in PHASES]
                    row.append(m.get("state.commit_ms", 0))
                    print(f"    {qid} | " + " | ".join(f"{v:.2f}" for v in row))
        totals = t.get("layers", {}).get("totals", {})
        if "streaming.batches" in totals and not per_id:
            print("  micro-batch phases, median ms: "
                  + "  ".join(f"{p}={totals.get(f'streaming.phase_ms.{p}', 0):.1f}" for p in PHASES)
                  + f"  state.commit={totals.get('state.commit_ms', 0):.1f}")


def quartiles(qid: str, dir_a: str, dir_b: str) -> None:
    ranges = []
    for d in (dir_a, dir_b):
        reps = [
            r["seconds"] for a in load(d) if not a["trace"]
            for r in a.get("reps", ()) if r["qid"] == qid and r["timed"] and r.get("seconds")
        ]
        if len(reps) < 2:
            print(f"{d}: fewer than two timed reps of {qid}")
            return
        q1, q2, q3 = statistics.quantiles(reps, n=4)
        ranges.append((q1, q3))
        print(f"{d}: {qid} n={len(reps)} q1={q1:.4f} median={q2:.4f} q3={q3:.4f} s")
    (a1, a3), (b1, b3) = ranges
    overlap = a1 <= b3 and b1 <= a3
    print(f"interquartile ranges {'overlap' if overlap else 'do not overlap'}")


def main(argv: list[str]) -> int:
    if argv[:1] == ["--quartiles"] and len(argv) == 4:
        quartiles(*argv[1:])
    elif len(argv) <= 1:
        summary(argv[0] if argv else os.path.join(HERE, "out"))
    else:
        print(__doc__, file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
