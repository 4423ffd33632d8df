"""Streaming scale probe at sf1 with state-store evidence (r5 VERDICT #6;
extended for r8 verdict #6 to run BOTH state-store providers per query).

Runs the four append-mode Structured Streaming replays (the production
output path: watermark eviction, foreachBatch parquet sink) at sf1
(1M events — 10x the bench scale), with the MetricsListener attached,
under the default HDFS-backed map state store AND the RocksDB provider
(the large-state production choice), and reports per (query, store):

- end-to-end rows/sec (replayed input rows / wall time),
- peak state rows + state memory from the per-batch progress events,
- rows dropped by the watermark (eviction actually happening),
- output rows (must be identical across stores — asserted).

Usage: python scripts/streaming_sf1_probe.py [sf_dir]  (default testdata_sf1)
Emits a BASELINE.md-ready markdown table.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBES = [
    "stream_tumbling_live_append",
    "stream_sliding_live_append",
    "stream_session_live_append",
    "stream_dedup_live_append",
    # r9 verdict #6: the CEP funnel was the only live family without a
    # 1M-row/both-stores probe. It is append-mode stateful
    # (applyInPandasWithState buffered fold + event-time timers), so the
    # same state-rows/watermark-drop/output-equality evidence applies.
    "stream_cep_funnel_live",
    # r11: the quantified (A{m,}) and alternation ((B|C)) CEP ids —
    # quantifiers/alternation change which buffered row satisfies a
    # step, not what is buffered, so state must stay window-bounded
    # exactly like the plain funnel.
    "stream_cep_quantified_live",
    "stream_cep_alternation_live",
    # r12: the bounded (A{m,n}) and tombstone-TTL CEP ids — upper
    # bounds only veto emission (same buffer as the plain funnel), and
    # the TTL id additionally proves epoch tombstones GC: peak state
    # must stay window-bounded while keys re-anchor across epochs on
    # the event-time-ordered replay.
    "stream_cep_bounded_live",
    "stream_cep_ttl_live",
    # r12: cross-step value predicates — the DFS walks the same
    # window-bounded buffer (plus an 8-byte value per event), so peak
    # state must match the plain funnel's bound.
    "stream_cep_valuechain_live",
]

PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "testdata_sf1"
    from nyuki_spark.queries import REGISTRY
    from nyuki_spark.session import get_session
    from nyuki_spark.streaming.listener import MetricsListener

    spark = get_session("nyuki-streaming-sf1", master="local[32]")
    listener = MetricsListener()
    spark.streams.addListener(listener)

    from nyuki_spark.catalog import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    print(f"# streaming sf1 probe: {n_events} events, append mode")
    print("loadavg", [round(x, 2) for x in os.getloadavg()])
    print(
        "| query | store | sec | rows/s | peak state rows | peak state MB |"
        " wm-dropped | out rows |"
    )
    print("|---|---|---|---|---|---|---|---|")

    out_rows: dict[tuple[str, str], int] = {}

    def run_one(qid: str, store: str) -> None:
        listener.clear()
        t0 = time.perf_counter()
        out = REGISTRY[qid].run(spark, sf_dir)
        n_out = out.count()
        dt = time.perf_counter() - t0
        # listener events arrive asynchronously; give the bus a moment.
        time.sleep(2)
        peak_rows = max((p.state_rows for p in listener.progress), default=0)
        peak_mb = max(
            (p.state_memory_bytes for p in listener.progress), default=0
        ) / 1e6
        dropped = sum(
            p.state_rows_dropped_by_watermark for p in listener.progress
        )
        out_rows[(qid, store)] = n_out
        print(
            f"| {qid} | {store} | {dt:.1f} | {n_events / dt:.0f} |"
            f" {peak_rows} | {peak_mb:.1f} | {dropped} | {n_out} |"
        )

    for qid in PROBES:
        run_one(qid, "hdfs-map")

    try:
        spark.conf.set(PROVIDER_KEY, ROCKSDB)
        for qid in PROBES:
            run_one(qid, "rocksdb")
        for qid in PROBES:
            a, b = out_rows[(qid, "hdfs-map")], out_rows[(qid, "rocksdb")]
            assert a == b, f"{qid}: store-dependent output {a} vs {b}"
        print("\noutput rows identical across state stores: OK")
    except Exception as exc:  # noqa: BLE001 — availability probe
        print(f"\nRocksDB state store: UNAVAILABLE — {type(exc).__name__}:"
              f" {str(exc)[:200]}")
    finally:
        spark.conf.unset(PROVIDER_KEY)
    print("loadavg_end", [round(x, 2) for x in os.getloadavg()])
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
