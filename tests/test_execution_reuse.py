"""What a repeated execution reuses: generated code and table-file schemas.

Only compiled classes (Spark's codegen cache, ``nyuki_spark/session.py``)
and inferred schemas (``nyuki_spark/catalog.py``) cross executions; each
execution still reads its data and builds its own plan.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from nyuki_spark import catalog
from nyuki_spark.session import ENGINE_CONF, STATIC_SQL_CONF

LLM_DEDUP_IDS = (
    "llm_ngram_jaccard_capped",
    "llm_subset_containment_capped",
    "llm_shingle_novelty",
    "llm_cosine_pairs",
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Two passes over the ids in a fresh session; prints the classes Janino
# compiled in each pass.
CHILD = """
import json, sys
sys.path.insert(0, {root!r})
from nyuki_spark.queries import REGISTRY
from nyuki_spark.session import get_session
spark = get_session("codegen-reuse", master="local[2]")
metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
per_pass = []
for _ in range(2):
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    for qid in {ids!r}:
        REGISTRY[qid].run(spark, {sf_dir!r}).collect()
    per_pass.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
print(json.dumps({{
    "max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
    "per_pass": per_pass,
}}))
spark.stop()
"""


def test_repeat_pass_of_llm_dedup_ids_reuses_compiled_code(sf_dir):
    # One pass needs ~110 classes; Spark's default cache of 100 evicted
    # them within the pass, and every repeat pass recompiled 45-65. The
    # passes run in a child JVM, so the (JVM-wide) compile count covers
    # these ids alone. A repeat pass compiles only where a plan changes:
    # llm_cosine_pairs once took its first candidate join's build side
    # from whichever of two stages finished first (see
    # operators/dedup.py:embedding_neardup_pairs), and a repeat pass that
    # met the other plan compiled 2 or 6 classes.
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")
    }
    env.update(SPARK_GRAFT_CPUS="2", NYUKI_DRIVER_MEMORY="1g")
    child = CHILD.format(root=REPO_ROOT, ids=LLM_DEDUP_IDS, sf_dir=sf_dir)
    out = subprocess.run(
        [sys.executable, "-c", child],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    record = json.loads(out.stdout.strip().splitlines()[-1])
    assert record["max_entries"] == "1000"
    per_pass = record["per_pass"]
    assert per_pass[0] > 0
    assert per_pass[1] <= 4, per_pass


def test_configure_session_never_attempts_a_static_key(spark):
    attempted: list[str] = []
    recorder = types.SimpleNamespace(
        conf=types.SimpleNamespace(set=lambda key, value: attempted.append(key))
    )
    catalog.configure_session(recorder)
    assert attempted == [
        k
        for k in ENGINE_CONF
        if k.startswith("spark.sql.") and k not in STATIC_SQL_CONF
    ]
    # The split matches Spark's own: every key tried is settable on a live
    # session (isModifiable is False for the unregistered
    # checkpointFileManagerClass, but Spark takes it), every key skipped
    # as static is refused.
    for key in attempted:
        spark.conf.set(key, ENGINE_CONF[key])
    assert STATIC_SQL_CONF
    for key in STATIC_SQL_CONF:
        assert not spark.conf.isModifiable(key)
        with pytest.raises(AnalysisException, match="CANNOT_MODIFY_STATIC_CONFIG"):
            spark.conf.set(key, ENGINE_CONF[key])


def _write(path, **columns) -> None:
    pq.write_table(pa.table(columns), str(path))


def _jobs_during(spark, fn):
    """(fn's result, ids of the Spark jobs fn submitted)."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema memo test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def empty_memo(monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    return catalog._SCHEMAS


def test_second_load_of_a_table_file_submits_no_job(spark, tmp_path, empty_memo):
    _write(tmp_path / "t.parquet", a=[1, 2, 3], b=["x", "y", "z"])
    def load():
        return catalog.load_table(spark, str(tmp_path), "t")

    first, first_jobs = _jobs_during(spark, load)
    second, second_jobs = _jobs_during(spark, load)
    assert first_jobs, "schema inference is expected to run a job"
    assert second_jobs == []
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_file_rewritten_with_another_schema_is_reread(spark, tmp_path, empty_memo):
    _write(tmp_path / "t.parquet", a=[1, 2, 3])
    assert catalog.load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write(tmp_path / "t.parquet", c=["p", "q"], d=[1.5, 2.5])
    df = catalog.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["c", "d"]
    assert sorted(tuple(r) for r in df.collect()) == [("p", 1.5), ("q", 2.5)]


def test_events_ts_is_converted_on_a_memo_hit(spark, sf_dir, empty_memo):
    first = catalog.load_table(spark, sf_dir, "events")
    second = catalog.load_table(spark, sf_dir, "events")
    assert len(empty_memo) == 1
    assert second.schema == first.schema
    assert second.schema["ts"].dataType.typeName().startswith("timestamp")
    assert second.agg({"ts": "max"}).collect() == first.agg({"ts": "max"}).collect()


def test_schema_memo_stays_at_its_cap(spark, tmp_path, monkeypatch, empty_memo):
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_MAX", 3)
    for i in range(5):
        _write(tmp_path / f"t{i}.parquet", **{f"c{i}": [i]})
        catalog.load_table(spark, str(tmp_path), f"t{i}")
        assert len(empty_memo) == min(i + 1, 3)
    assert [k[0].rsplit("/", 1)[1] for k in empty_memo] == [
        "t2.parquet",
        "t3.parquet",
        "t4.parquet",
    ]


def test_directory_tables_are_not_memoised(spark, tmp_path, empty_memo):
    spark.range(3).write.parquet(str(tmp_path / "d.parquet"))
    assert catalog.load_table(spark, str(tmp_path), "d").count() == 3
    assert empty_memo == {}
