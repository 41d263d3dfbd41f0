"""Self-tests of the benchmark: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pandas as pd
import pytest

from perfbench import harness, metrics, oracle
from perfbench.eventlog import EventLog
from perfbench.trace import Span, Tracer, self_times


def _span(sid, parent, start, end, trace=1):
    return Span(sid, f"s{sid}", trace, parent, start, end)


def test_self_time_subtracts_direct_children_only():
    spans = [_span(1, None, 0.0, 10.0),
             _span(2, 1, 1.0, 4.0),
             _span(3, 1, 3.0, 6.0),   # overlaps 2: union is 1..6
             _span(4, 2, 1.5, 2.5),   # grandchild: only 2 loses it
             _span(5, 1, 9.0, 12.0)]  # runs past its parent: clipped
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(3.0)


def test_tracer_shares_trace_id_and_sets_job_group():
    class FakeSC:
        def __init__(self):
            self.calls = []

        def setJobGroup(self, gid, desc):
            self.calls.append(gid)

        def setLocalProperty(self, key, value):
            self.calls.append((key, value))

    sc = FakeSC()
    tr = Tracer(sc)
    with tr.span("request") as root:
        with tr.span("plan") as child:
            pass
    with tr.span("request") as other:
        pass
    assert child.trace_id == root.trace_id == root.span_id
    assert child.parent_id == root.span_id
    assert other.trace_id != root.trace_id
    assert sc.calls[:3] == [root.group, child.group, root.group]
    assert ("spark.jobGroup.id", None) in sc.calls
    rows = tr.to_json()
    assert [r["self_s"] >= 0 for r in rows] == [True] * 3
    off = Tracer(sc, enabled=False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


def _task(stage, launch, finish, run_ms, reason="Success", accums=()):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Accumulables": [{"ID": i, "Update": str(u)}
                                           for i, u in accums]},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 500_000,
                "JVM GC Time": 5,
                "Shuffle Read Metrics": {"Remote Bytes Read": 3,
                                         "Local Bytes Read": 7},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
                "Input Metrics": {"Bytes Read": 100, "Records Read": 4}}}


CANNED_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "span-1",
                    "spark.sql.execution.id": "0"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {"spark.jobGroup.id": "span-2"}},
    {"Event": "org.apache.spark.sql.execution.ui."
              "SparkListenerSQLExecutionStart", "executionId": 0,
     "jobGroupId": "span-1",
     "sparkPlanInfo": {"nodeName": "HashAggregate", "metrics": [
         {"name": "number of output rows", "accumulatorId": 7}],
         "children": [{"nodeName": "BroadcastHashJoin", "metrics": [
             {"name": "number of output rows", "accumulatorId": 9}],
             "children": []}]}},
    _task(0, 1_000, 2_000, 900, accums=[(9, 40), (7, 2)]),
    _task(1, 1_500, 3_000, 1_400, accums=[(9, 2)]),
    _task(2, 5_000, 5_500, 400, reason="ExceptionFailure"),
]


def test_eventlog_totals_per_group():
    with harness.WorkDir(f"eventlog-{os.getpid()}") as work:
        with open(os.path.join(work.sub("events"), "local-1"), "w") as fh:
            fh.write("\n".join(json.dumps(e) for e in CANNED_LOG) + "\n")
        log = EventLog.read(work.sub("events"))
    a = log.totals({"span-1"})
    assert a.tasks == 2 and a.failed_tasks == 0
    assert a.executor_run_s == pytest.approx(2.3)
    assert a.cpu_s == pytest.approx(1.15)
    assert a.gc_s == pytest.approx(0.01)
    assert (a.shuffle_read_bytes, a.shuffle_write_bytes) == (20, 22)
    assert (a.input_bytes, a.input_records) == (200, 8)
    # tasks ran over 1.0..3.0 s; the span asks about 0.5..2.5 s
    assert a.busy_s(0.5, 2.5) == pytest.approx(1.5)
    assert log.join_output_rows({"span-1"}) == 42
    b = log.totals({"span-2"})
    assert (b.tasks, b.failed_tasks) == (1, 1)
    assert log.join_output_rows({"span-2"}) == 0
    assert log.totals({"span-3"}).tasks == 0


def test_metric_names_units_and_benchmark_json():
    unit_re = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
    every = metrics.END_TO_END + metrics.PER_LAYER
    names = [n for n, _, _ in every]
    assert len(names) == len(set(names))
    assert len(metrics.PER_LAYER) <= 128
    for name, unit, better in every:
        assert metrics.NAME_RE.fullmatch(name) and len(name) <= 64, name
        assert re.fullmatch(r"[A-Za-z0-9]", name[0]), name
        assert unit_re.fullmatch(unit), unit
        assert better in ("higher", "lower")
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    as_listed = [(m["name"], m["unit"], m["better"])
                 for m in bench["end_to_end"]]
    assert as_listed == metrics.END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == metrics.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == {"flagship",
                                                       "query_mix"}


def test_summaries_and_tail():
    s = harness.summarize([4.0, 1.0, 3.0, 2.0])
    assert s["median"] == 2.5 and s["n"] == 4
    assert harness.tail(range(19)) is None
    t = harness.tail(range(100))
    assert t["percentile"] == 90.0 and t["beyond"] >= 10
    t = harness.tail(range(20))
    assert t["percentile"] == 50.0 and t["beyond"] == 10


def test_radius_predicate_matches_reference_formula():
    duckdb = pytest.importorskip("duckdb")
    from osc_geo_h3grid_srv_spark.functions import geo
    rng = np.random.default_rng(5)
    lat = 52.5 + rng.normal(0, 0.2, 500)
    lng = 13.4 + rng.normal(0, 0.2, 500)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"latitude": lat, "longitude": lng}))
    got = con.execute("select count(*) from pts where "
                      + oracle.radius_predicate(52.5, 13.4, 15.0)).fetchone()
    want = int((geo.reference_radius_km(lat, lng, 52.5, 13.4) <= 15.0).sum())
    assert got[0] == want


def test_idw_bounds_widen_only_on_exact_ties():
    p_lat = np.array([0.0, 0.0, 0.1, 0.1, 0.5])
    p_lng = np.array([0.1, 0.1, 0.0, 0.0, 0.0])
    p_val = np.array([1.0, 2.0, 10.0, 30.0, 5.0])
    lo, hi, n = oracle.idw_bounds(0.0, 0.0, p_lat, p_lng, p_val, 3, 2.0,
                                  100.0)
    assert n == 3
    # two points tie at the third place (same distance and position):
    # either of their values may be chosen
    assert lo < hi
    lo2, hi2, n2 = oracle.idw_bounds(0.0, 0.0, p_lat, p_lng, p_val, 4, 2.0,
                                     100.0)
    assert n2 == 4 and lo2 == pytest.approx(hi2)
    assert oracle.idw_bounds(50.0, 50.0, p_lat, p_lng, p_val, 3, 2.0,
                             100.0) is None


@pytest.fixture(scope="module")
def session():
    host = harness.HostShape.detect()
    with harness.WorkDir(f"selftest-{os.getpid()}") as work:
        spark = harness.start_session(host, work)
        try:
            yield spark, host, work
        finally:
            harness.stop_session(spark)


def test_query_mix_point_dataset_is_written_by_index_pages(session):
    from perfbench import workloads
    spark, host, work = session
    ss = workloads.build_serving(spark, host, os.path.join(work.path, "s"),
                                 seed=7, stream=1, n_pages=400)
    assert workloads.point_manifest_from_index_pages(ss)
    man = ss.engine.catalog.read_manifest(workloads.POINT_DATASET)
    assert man["lineage"]["stage"] == "index_pages"
    assert len(man["files"]) > 1
    meta = ss.engine.catalog.get_ds_metadata(workloads.POINT_DATASET)
    assert meta["dataset_type"] == "point"
