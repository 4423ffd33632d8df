"""Open-loop workload: events arrive on a ``nyuki_bus`` topic while one
long-running query consumes them.

    format("nyuki_bus") -> from_json -> streaming.dedup.dedup_within_watermark
        -> foreachBatch(streaming.sink.idempotent_parquet_sink)

A separate generator process (``busgen.py``) publishes on a fixed rate
ladder. Latency is read from the sink's files after the run: the commit
time of the batch directory holding an event (its ``_SUCCESS`` mtime) minus
the event's due time. Measuring therefore adds no work to the pipeline.
"""

from __future__ import annotations

import ast
import json
import math
import os
import statistics
import subprocess
import sys
import time

__all__ = ["BusRun", "bus_figures"]

BASE_RATE = 200.0  # events/s on the ladder's first measured step
# (rate factor, share of the run's seconds) per ladder step. A warm step at
# the base rate comes first and is not measured: the first two or three
# batches after the query idles run up to half again slower than later ones.
LADDER = ((1, 0.6), (8, 0.4))
WARM_STEP_S = 6.0
WATERMARK_DELAY = "10 seconds"
# A fixed trigger, as a deployment that batches its sink writes would run:
# latency = wait for the next trigger + batch time. With back-to-back
# batches instead, the wait is itself a batch time, so run-to-run machine
# noise shows twice in the latency. A batch at the base rate takes 1.7-3.5 s
# with two task threads on a 4-core machine, more while the machine is
# contended; a 2 s trigger left no headroom, so a slow spell grew a backlog
# and doubled the latency of a whole run.
TRIGGER_S = 3.0
LATENCY_LIMIT_MS = 8000.0
DRAIN_TIMEOUT_S = 60.0
EVENT_SCHEMA = "event_id long, user_id long, ts_ms long, due_ms long, value double"


def _quantile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99) by the statistics module's method."""
    return statistics.quantiles(values, n=100)[q - 1] if len(values) > 1 else values[0]


class BusRun:
    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.live = os.path.join(work_dir, "bus", "live")
        self.stage = os.path.join(work_dir, "bus", "stage")
        self.sink = os.path.join(work_dir, "bus", "sink")
        self.ckpt = os.path.join(work_dir, "bus", "checkpoint")
        self.manifest_path = os.path.join(work_dir, "bus", "manifest.json")
        self.query = None
        self.published_segments = 0

    def start_query(self) -> None:
        from pyspark.sql import functions as F

        from nyuki_spark.sources.bus import register_bus
        from nyuki_spark.streaming.dedup import dedup_within_watermark
        from nyuki_spark.streaming.sink import idempotent_parquet_sink

        register_bus(self.spark)
        raw = self.spark.readStream.format("nyuki_bus").option("path", self.live).load()
        events = (
            raw.select(F.from_json("payload", EVENT_SCHEMA).alias("e"))
            .select("e.*")
            .withColumn("ts", F.timestamp_millis("ts_ms"))
        )
        deduped = dedup_within_watermark(events, ["event_id"], "ts", WATERMARK_DELAY)
        self.query = (
            deduped.writeStream.foreachBatch(idempotent_parquet_sink(self.sink))
            .option("checkpointLocation", self.ckpt)
            .trigger(processingTime=f"{TRIGGER_S:g} seconds")
            .queryName("perfbench_bus_live")
            .start()
        )

    def _consumed_segments(self) -> int:
        prog = self.query.lastProgress
        if not prog:
            return 0
        # The source reports its offset as a Python dict literal.
        end = ast.literal_eval(prog["sources"][0].get("endOffset") or "{}")
        return sum((end.get("topics") or {}).values())

    def _drain(self, segments: int) -> None:
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        while self._consumed_segments() < segments:
            if self.query.exception() is not None:
                raise RuntimeError(f"bus query failed: {self.query.exception()}")
            if time.monotonic() > deadline:
                raise TimeoutError(f"bus query did not drain {segments} segments in {DRAIN_TIMEOUT_S} s")
            time.sleep(0.05)

    def warm_up(self) -> None:
        """Run the query's first batches (source planning, Python data
        source workers, first sink write) before anything is timed."""
        from nyuki_spark.sources.bus import publish_rows

        now_ms = int(time.time() * 1000)
        rows = [
            {"event_id": -1 - i, "user_id": 0, "ts_ms": now_ms, "due_ms": now_ms, "value": 0.0}
            for i in range(50)
        ]
        path = publish_rows(self.stage, "events", rows)
        os.makedirs(os.path.join(self.live, "events"), exist_ok=True)
        os.rename(path, os.path.join(self.live, "events", os.path.basename(path)))
        self.published_segments += 1
        self._drain(self.published_segments)

    def run(self, seconds: float) -> dict:
        """Publish the ladder, drain, stop; returns the raw observations."""
        rates = [BASE_RATE] + [BASE_RATE * f for f, _ in LADDER]
        step_s = [WARM_STEP_S] + [seconds * share for _, share in LADDER]
        # Start on a trigger boundary (processing-time triggers fire at
        # multiples of the interval), so every run meets the same phase.
        t0 = math.ceil(time.time() / TRIGGER_S + 0.25) * TRIGGER_S + 0.05
        gen = subprocess.Popen(
            [
                sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "busgen.py"),
                "--live", self.live, "--stage", self.stage, "--manifest", self.manifest_path,
                "--seed", str(self.seed), "--rates", ",".join(str(r) for r in rates),
                "--step-s", ",".join(str(x) for x in step_s), "--t0", str(t0),
            ],
        )
        try:
            gen.wait(timeout=seconds + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        if gen.returncode != 0:
            raise RuntimeError(f"generator exited with {gen.returncode}")
        with open(self.manifest_path, encoding="utf-8") as fh:
            manifest = json.load(fh)
        self._drain(self.published_segments + manifest["segments"])
        progress = [json.loads(p.json) for p in self.query.recentProgress]
        self.query.stop()
        return {"manifest": manifest, "progress": progress, "t0": t0, "rates": rates, "step_s": step_s}

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def sink_commits(self) -> dict[int, list[float]]:
        """event_id -> commit times (ms) of every sink batch holding it."""
        import pyarrow.parquet as pq

        out: dict[int, list[float]] = {}
        for name in sorted(os.listdir(self.sink)):
            marker = os.path.join(self.sink, name, "_SUCCESS")
            if not name.startswith("batch_id=") or not os.path.exists(marker):
                continue
            commit_ms = os.path.getmtime(marker) * 1000
            ids = pq.read_table(os.path.join(self.sink, name), columns=["event_id"]).column(0).to_pylist()
            for eid in ids:
                out.setdefault(eid, []).append(commit_ms)
        return out


def bus_figures(obs: dict, commits: dict[int, list[float]]) -> dict:
    """End-to-end figures, the per-step ladder table and the check."""
    import bisect

    from tracing import iso_ms, progress_record

    manifest = obs["manifest"]
    events = manifest["events"]  # [event_id, due_ms, publish_ms, step]
    missing = sum(1 for e in events if e[0] not in commits)
    duplicated = sum(len(v) - 1 for v in commits.values() if len(v) > 1)
    lat = {e[0]: commits[e[0]][0] - e[1] for e in events if e[0] in commits}
    bounds = [obs["t0"] * 1000]
    for secs in obs["step_s"]:
        bounds.append(bounds[-1] + secs * 1000)
    progress = obs["progress"]
    publish = sorted(e[2] for e in events)
    committed = sorted(v[0] for v in commits.values())

    def backlog(t_ms: float) -> int:
        return bisect.bisect_right(publish, t_ms) - bisect.bisect_right(committed, t_ms)

    def batch_end_ms(p: dict) -> float:
        return iso_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0)

    steps = []
    for i, rate in enumerate(obs["rates"]):
        if i == 0:
            continue  # the warm step
        lats = [lat[e[0]] for e in events if e[3] == i and e[0] in lat]
        mid, end = (bounds[i] + bounds[i + 1]) / 2, bounds[i + 1]
        p99 = _quantile(lats, 99) if lats else float("inf")
        steps.append({
            "rate": rate,
            "events": len(lats),
            "latency_p50_ms": statistics.median(lats) if lats else None,
            "latency_p90_ms": _quantile(lats, 90) if lats else None,
            "latency_p99_ms": p99,
            "backlog_mid": backlog(mid),
            "backlog_end": backlog(end),
            # Backlog may swing by one batch; growth beyond one second of
            # arrivals over the step's second half counts as not sustained.
            "sustained": backlog(end) - backlog(mid) <= rate and p99 < LATENCY_LIMIT_MS,
        })
    sustained = [s["rate"] for s in steps if s["sustained"]]
    base = steps[0]
    return {
        "metrics": {"latency_ms": base["latency_p50_ms"]},
        "latency_p99_ms": base["latency_p99_ms"],
        "sustained_eps": max(sustained) if sustained else 0.0,
        "steps": steps,
        "attempted": len(events),
        "failed": missing + duplicated,
        "missing": missing,
        "duplicated": duplicated,
        "published_duplicates": manifest["duplicates"],
        "gen_late_ms_p99": _quantile(manifest["late_ms"], 99),
        "batches": [
            {"batch_id": p["batchId"], "end_ms": batch_end_ms(p), "rows": p["numInputRows"],
             "ms": p["durationMs"].get("triggerExecution", 0)}
            for p in progress
        ],
        "batch_end_backlog": [backlog(batch_end_ms(p)) for p in progress],
        "progress": [progress_record(p) for p in progress],
    }
