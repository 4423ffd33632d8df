"""Spot-check a subset of registry queries against their DuckDB oracles.

Development loop companion to export_correctness_full.py: same
canonicalization + comparison, but only for the ids given on the command
line (or ids matching a prefix with ``--prefix p``), printed verbosely.

Usage:  python scripts/check_queries.py net_triangles net_assortativity
        python scripts/check_queries.py --prefix net_
        NYUKI_TEST_SF_DIR overrides the default /root/testdata/sf0.01.

DuckDB runs under a memory limit and a spill cap (``DUCK_MEMORY_LIMIT``,
``DUCK_SPILL_LIMIT``): a twin that outgrows them is reported as "oracle
did not fit" for its id, with the engine result's digest (compare it with
another tree's), and the remaining ids are still checked. Each line also
prints the digest of the canonicalized engine result. Exit status: 1 on
any mismatch or error, else 3 when some twin did not fit, else 0.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from export_correctness_full import _canon, _cells_hashable  # noqa: E402

from nyuki_spark.catalog import TABLES  # noqa: E402
from nyuki_spark.queries import REGISTRY  # noqa: E402
from nyuki_spark.session import get_session  # noqa: E402

# The largest twins (the capped pair funnels, net_kcore, net_triangles)
# grew an uncapped DuckDB to 5.2 GB at sf0.1, enough to get the process
# killed on a 16 GB host.
DUCK_MEMORY_LIMIT = "2GB"
DUCK_SPILL_LIMIT = "4GB"


def _digest(pdf) -> str:
    return hashlib.sha1(pdf.to_csv(index=False).encode()).hexdigest()[:16]


def main() -> int:
    args = sys.argv[1:]
    if args and args[0] == "--prefix":
        ids = sorted(q for q in REGISTRY if q.startswith(args[1]))
    else:
        ids = args
    unknown = [q for q in ids if q not in REGISTRY]
    if unknown or not ids:
        print(f"unknown/empty ids: {unknown}")
        return 2

    sf_dir = os.environ.get("NYUKI_TEST_SF_DIR", "/root/testdata/sf0.01")
    spark = get_session("nyuki-check", master="local[*]")
    spill_dir = tempfile.mkdtemp(prefix="check-queries-duckdb-")
    duck = duckdb.connect(
        config={
            "memory_limit": DUCK_MEMORY_LIMIT,
            "max_temp_directory_size": DUCK_SPILL_LIMIT,
            "temp_directory": spill_dir,
        }
    )
    for t in TABLES:
        duck.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    fails = 0
    did_not_fit = []
    for qid in ids:
        q = REGISTRY[qid]
        t0 = time.time()
        try:
            epdf = q.run(spark, sf_dir).toPandas()
            if q.oracle_sql is None:
                print(f"  {qid:32s} rows_only ({len(epdf)} rows, "
                      f"{time.time() - t0:.2f}s)")
                continue
            try:
                opdf = duck.execute(q.oracle_sql).df()
            except duckdb.OutOfMemoryException as exc:
                did_not_fit.append(qid)
                first = str(exc).splitlines()[0][:120]
                print(f"  {qid:32s} oracle did not fit ({len(epdf)} engine rows, "
                      f"engine digest {_digest(_canon(epdf))}, "
                      f"{time.time() - t0:.2f}s): {first}")
                continue
            for side, pdf in (("engine", epdf), ("oracle", opdf)):
                bad = _cells_hashable(pdf)
                if bad:
                    raise AssertionError(f"{side}: {bad}")
            e, o = _canon(epdf), _canon(opdf)
            ok = (
                len(e) == len(o)
                and list(e.columns) == list(o.columns)
                and all(e[c].dtype.kind == o[c].dtype.kind for c in e.columns)
                and e.equals(o)
            )
            print(f"  {qid:32s} {'OK' if ok else 'MISMATCH'} "
                  f"({len(e)} vs {len(o)} rows, engine digest {_digest(e)}, "
                  f"{time.time() - t0:.2f}s)")
            if not ok:
                fails += 1
                print("   engine head:\n", e.head(8).to_string())
                print("   oracle head:\n", o.head(8).to_string())
                if len(e) == len(o) and list(e.columns) == list(o.columns):
                    diff = (e != o) & ~(e.isna() & o.isna())
                    bad_rows = diff.any(axis=1)
                    if bad_rows.any():
                        i = bad_rows.idxmax()
                        print("   first diff row", i)
                        print("    engine:", e.loc[i].to_dict())
                        print("    oracle:", o.loc[i].to_dict())
        except Exception as exc:  # noqa: BLE001
            fails += 1
            print(f"  {qid:32s} ERR {type(exc).__name__}: {exc}")
        spark.catalog.clearCache()
    spark.stop()
    duck.close()
    shutil.rmtree(spill_dir, ignore_errors=True)
    if did_not_fit:
        print(f"oracle did not fit: {' '.join(did_not_fit)}")
    return 1 if fails else 3 if did_not_fit else 0


if __name__ == "__main__":
    sys.exit(main())
