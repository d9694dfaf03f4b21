"""The benchmark's own check, on tiny inputs and without Spark:

    python3 perfbench/selfcheck.py

Covers the percentile code, the event-log fold (on a hand-written log),
the pandas replay that checks the CDC engine, and the DuckDB oracle
comparison that checks the corpus workload.
"""

from __future__ import annotations

import os
import sys
import tempfile

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import oracles, replay, stats  # noqa: E402
from perfbench.trace import EventLogFold, is_python_udf, is_reducer, is_wal_scan  # noqa: E402


def check_stats() -> None:
    assert stats.percentile([3, 1, 2], 50) == 2
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([0, 10], 90) == 9.0
    assert stats.tail_percentile(39) is None
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0
    s = stats.summary([float(i) for i in range(1, 41)])
    assert s["n"] == 40 and s["p50"] == 20.5 and abs(s["p75"] - 30.25) < 1e-9


def _plan(name, metrics=(), children=(), location=None):
    return {
        "nodeName": name,
        "metrics": [{"name": m, "accumulatorId": a, "metricType": "sum"} for m, a in metrics],
        "children": list(children),
        "metadata": {"Location": location} if location else {},
    }


def check_fold() -> None:
    """Two executions in job group pb1: a prepare job (scan -> exchange ->
    sort -> python UDF) and a delta write; one read job in pb2."""
    scan = _plan("Scan ExistingRDD", [("number of output rows", 1)])
    block = _plan("WholeStageCodegen (1)", [("duration", 2)], [_plan("Project", children=[scan])])
    exch = _plan("Exchange", [("shuffle bytes written", 3)], [block])
    sort = _plan("Sort", [("sort time", 4)], [exch])
    udf = _plan("ArrowEvalPython", [("time to run Python workers", 5), ("number of output rows", 6)], [sort])
    prepare = _plan("AdaptiveSparkPlan", children=[udf])
    write = _plan("Execute InsertIntoHadoopFsRelationCommand", [("number of written files", 7)])
    read = _plan("Scan parquet", [("number of output rows", 8)], location="file:/t/data/delta-000001")

    def acc(i, v):
        return {"ID": i, "Update": str(v), "Metadata": "sql"}

    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 0,
         "jobGroupId": "pb1", "time": 1000, "physicalPlanDescription": "", "sparkPlanInfo": prepare},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 1,
         "jobGroupId": "pb1", "time": 3000,
         # the formatted plan names the output path in the node's details
         "physicalPlanDescription": "+- Execute InsertIntoHadoopFsRelationCommand (3)\n   +- WriteFiles (2)\n\n"
         "(3) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n"
         "Arguments: file:/t/data/delta-000002, false, [bucket#1], Parquet",
         "sparkPlanInfo": write},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 2,
         "jobGroupId": "pb2", "time": 6000, "physicalPlanDescription": "", "sparkPlanInfo": read},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb1", "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 4e8, "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}},
         "Task Info": {"Accumulables": [acc(1, 4000), acc(2, 300), acc(3, 100)]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 700},
         "Task Info": {"Accumulables": [acc(4, 20), acc(5, 900), acc(6, 3500)]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
        # a later job that reuses stage 1's output lists it as skipped
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "pb1", "spark.sql.execution.id": "1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 200},
         "Task Info": {"Accumulables": [acc(7, 4)]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd", "executionId": 1, "time": 4000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 6000, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "pb2", "spark.sql.execution.id": "2"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"Executor Run Time": 100},
         "Task Info": {"Accumulables": [acc(8, 77)]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 6500},
    ]
    f = EventLogFold(events)
    g = {"pb1"}
    assert f.sql_metric(g, is_wal_scan, "number of output rows") == 4000
    assert f.codegen_duration_over(g, is_wal_scan) == 0.3
    assert f.sql_metric(g, is_reducer, "sort time") == 20
    assert f.sql_metric(g, is_python_udf, "time to run Python workers") == 900
    assert f.sql_metric(g, is_python_udf, "number of output rows") == 3500
    assert f.sql_metric({"pb2"}, is_wal_scan, "number of output rows") == 0  # a table scan, not the WAL
    tot = f.task_totals(g)
    assert tot["tasks"] == 3 and tot["run_s"] == 1.4 and tot["shuffle_write_bytes"] == 100
    assert abs(tot["cpu_s"] - 0.4) < 1e-9 and tot["gc_s"] == 0.01
    busy = f.busy_by_kind(g, 0.5, 5.0)
    assert busy == {"prepare": 1.5, "delta": 1.0, "all": 2.5}, busy
    assert f.write_seconds(g, "delta") == 1.0 and f.write_seconds(g, "compaction") == 0.0
    f.execs[1]["plan_text"] = "Execute InsertIntoHadoopFsRelationCommand file:/t/data/run-000003, false"
    assert f.write_kind(1) == "compaction" and f.write_kind(0) is None
    assert f.busy_by_kind({"pb1", "pb2"}, 0.0, 10.0)["all"] == 3.0
    assert len(f.groups_jobs(g)) == 2


def check_replay() -> None:
    ts = 1_700_000_000_000_000
    b1 = pd.DataFrame({
        "lsn": [1, 2, 3, 4, 5],
        "op": ["I", "U", "I", "I", "I"],
        "conv_id": ["a", "a", "b", None, "c"],
        "turn_idx": pd.array([0, 0, 0, 1, 0], dtype="Int64"),
        "role": ["user", "assistant", "user", "user", "robot"],
        "text": ["x\r\n", "café \r", "y", "z", "w"],
        "tool": [None] * 5,
        "ts": [ts] * 5,
    })
    st = replay.ReplayState()
    assert st.apply(b1) == {("a", 0): "I", ("b", 0): "I"}
    assert st.quarantined == 2  # null conv_id, bad role
    assert st.visible("a") == [("a", 0, "assistant", "caf\u00e9", None, ts)]
    b2 = pd.DataFrame({
        "lsn": [2, 6, 7], "op": ["U", "D", "U"], "conv_id": ["b", "a", "d"],
        "turn_idx": pd.array([0, 0, 0], dtype="Int64"), "role": ["user"] * 3,
        "text": ["late", None, "n"], "tool": [None] * 3, "ts": [ts] * 3,
    })
    # lsn 2 for b is older than its state (lsn 3): fenced, no change
    assert st.apply(b2) == {("a", 0): "D", ("d", 0): "I"}
    assert [r[0] for r in st.visible()] == ["b", "d"]


def check_oracle_compare() -> None:
    """The comparison the corpus workload makes, on a tiny corpus with one
    planted duplicate: the oracle equals itself and catches a changed row."""
    from nifi_daffodil_spark.plans.driver_queries import oracle_sql

    from perfbench.inputs import CorpusSpec, _write_documents, _write_embeddings

    spec = CorpusSpec(n_docs=60, n_vecs=40, p_near_doc=0.3, p_near_vec=0.3, seed=3)
    sql = {k: v for k, v in oracle_sql().items() if k in oracles.QUERIES}
    with tempfile.TemporaryDirectory() as d:
        rng = np.random.default_rng(spec.seed)
        _write_documents(os.path.join(d, "documents.parquet"), spec, rng)
        _write_embeddings(os.path.join(d, "embeddings.parquet"), spec, rng)
        want = oracles.compute(sql, d, threads=1)
    docs = want["dedup_corpus"]
    assert 0 < len(docs) < spec.n_docs, "the planted near-duplicates must be dropped"
    assert oracles.canon("dedup_corpus", [(i,) for i in reversed(docs)]) == docs
    assert oracles.canon("dedup_corpus", [(i,) for i in docs[1:]]) != docs
    sem = want["dedup_semantic"]
    assert sem and all(c <= v for v, c, _ in sem)
    rows = [tuple(r) for r in sem]
    assert oracles.canon("dedup_semantic", rows[::-1]) == sem
    rows[0] = (rows[0][0], rows[0][1], 1 - rows[0][2])
    assert oracles.canon("dedup_semantic", rows) != sem


def main() -> int:
    for check in (check_stats, check_fold, check_replay, check_oracle_compare):
        check()
        print(f"ok  {check.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
