"""Chained-stateful streaming at sf1 under both state stores (r6 #3).

Runs ``stream_join_agg_live`` (stream-stream interval join -> watermarked
tumbling rollup in ONE append-mode query — two state stores in series)
at sf1 (1 M events) under the default HDFS-backed map store and under
RocksDB, with the MetricsListener capturing per-batch, PER-OPERATOR state
rows/memory — the evidence that says which operator's store dominates
(the tuning lever: join watermark delay vs rollup window size).
``stream_join_live`` (the join alone) runs first as the decomposition
baseline. Emits a BASELINE.md-ready markdown table, loadavg-stamped.

Usage: python scripts/streaming_join_agg_sf1.py [sf_dir=testdata_sf1]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROCKS = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
KEY = "spark.sql.streaming.stateStore.providerClass"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "testdata_sf1"
    from nyuki_spark.catalog import load_table
    from nyuki_spark.queries import REGISTRY
    from nyuki_spark.session import get_session
    from nyuki_spark.streaming.listener import MetricsListener

    spark = get_session("nyuki-join-agg-sf1", master="local[32]")
    listener = MetricsListener()
    spark.streams.addListener(listener)
    n_events = load_table(spark, sf_dir, "events").count()
    print(f"# stream_join_agg_live sf1 probe: {n_events} events,"
          f" loadavg {[round(x, 2) for x in os.getloadavg()]}")
    print("| query | store | sec | rows/s | peak state rows (per op) |"
          " peak state MB (per op) | wm-dropped | out rows | outer-null rows |")
    print("|---|---|---|---|---|---|---|---|---|")

    def run_one(qid: str, store: str, null_col: str | None = None) -> None:
        from pyspark.sql import functions as F

        listener.clear()
        t0 = time.perf_counter()
        out = REGISTRY[qid].run(spark, sf_dir)
        n_out = out.count()
        dt = time.perf_counter() - t0
        # Rows that emitted via the watermark-close null-extension path
        # (r7 verdict ask) — the result is cached by the query fn, so this
        # second count is a scan of the cached rows, not a replay.
        n_null = (
            out.where(F.col(null_col).isNull()).count()
            if null_col is not None
            else None
        )
        time.sleep(2)  # listener events are async
        # Peak per operator name across batches.
        peak_rows: dict[str, int] = {}
        peak_mb: dict[str, float] = {}
        for p in listener.progress:
            for name, rows, mem in (p.state_by_operator or []):
                peak_rows[name] = max(peak_rows.get(name, 0), rows)
                peak_mb[name] = max(peak_mb.get(name, 0.0), mem / 1e6)
        dropped = sum(p.state_rows_dropped_by_watermark for p in listener.progress)
        rows_s = ", ".join(f"{k}={v}" for k, v in peak_rows.items()) or "0"
        mb_s = ", ".join(f"{k}={v:.1f}" for k, v in peak_mb.items()) or "0"
        null_s = "-" if n_null is None else str(n_null)
        print(f"| {qid} | {store} | {dt:.1f} | {n_events / dt:.0f} |"
              f" {rows_s} | {mb_s} | {dropped} | {n_out} | {null_s} |")

    suite = (
        ("stream_join_live", None),
        ("stream_join_agg_live", None),
        ("stream_join_outer_live", "buy_id"),
    )
    for qid, ncol in suite:
        run_one(qid, "hdfs-map", ncol)
    prev = spark.conf.get(KEY, None)
    try:
        spark.conf.set(KEY, ROCKS)
        for qid, ncol in suite:
            run_one(qid, "rocksdb", ncol)
    except Exception as exc:  # noqa: BLE001 — availability probe
        print(f"RocksDB: UNAVAILABLE — {type(exc).__name__}: {str(exc)[:200]}")
    finally:
        if prev is not None:
            spark.conf.set(KEY, prev)
        else:
            spark.conf.unset(KEY)
    print(f"loadavg end {[round(x, 2) for x in os.getloadavg()]}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
