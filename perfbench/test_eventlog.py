"""Pins the event-log fold: per job group, Python-worker time and bytes,
shuffle, spill, GC, CPU, job/stage/task counts, and ``driver_only_s`` as
wall time minus the union of task intervals.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import time

import pytest

from perfbench import eventlog


def _task(stage, launch_ms, finish_ms, cpu_ns=0, run_ms=0, gc_ms=0, sw=0, sr=(0, 0),
          spill=0, py=None):
    accs = [{"Name": k, "Update": str(v)} for k, v in (py or {}).items()]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms, "Accumulables": accs},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": sr[0], "Local Bytes Read": sr[1]},
            "Disk Bytes Spilled": spill,
        },
    }


def test_fold_synthetic_events():
    grp = {"spark.jobGroup.id": "op.a"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": grp},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": grp},
        # two overlapping tasks [1000.0, 1002.0] and [1001.0, 1003.0] -> 3 s busy
        _task(0, 1_000_000, 1_002_000, cpu_ns=2_000_000_000, run_ms=2000, gc_ms=100, sw=500,
              py={"time to run Python workers": 1500, "data sent to Python workers": 70,
                  "data returned from Python workers": 30}),
        _task(0, 1_001_000, 1_003_000, cpu_ns=1_000_000_000, run_ms=2000, sw=250,
              py={"time to run Python workers": 500, "data sent to Python workers": 5}),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": grp},
        # a later task only partly inside the call window [999, 1005]
        _task(1, 1_004_000, 1_006_000, run_ms=2000, sr=(100, 650), spill=4096),
        # another group's work is not counted
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "other"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
         "Properties": {"spark.jobGroup.id": "other"}},
        _task(2, 1_000_000, 1_005_000, cpu_ns=9, run_ms=9, sw=9),
    ]
    spans = {"op.a": [{"t0": 999.0, "t1": 1005.0, "cpu_s": 0.25}], "op.idle": []}
    recs = eventlog.fold(events, spans)
    a = recs["op.a"]
    assert a["wall_s"] == pytest.approx(6.0)
    assert a["driver_only_s"] == pytest.approx(6.0 - 3.0 - 1.0)
    assert a["driver_cpu_s"] == pytest.approx(0.25)
    assert a["executor_cpu_s"] == pytest.approx(3.0)
    assert a["executor_run_s"] == pytest.approx(6.0)
    assert a["gc_s"] == pytest.approx(0.1)
    assert a["python_run_s"] == pytest.approx(2.0)
    assert (a["python_bytes_out"], a["python_bytes_in"]) == (75, 30)
    assert (a["shuffle_write_bytes"], a["shuffle_read_bytes"]) == (750, 750)
    assert a["spill_bytes"] == 4096
    assert (a["jobs"], a["stages"], a["tasks"], a["calls"]) == (1, 2, 3, 1)
    assert recs["op.idle"]["calls"] == 0 and recs["op.idle"]["tasks"] == 0
    assert "other" not in recs


def test_union_length():
    assert eventlog.union_length([]) == 0
    assert eventlog.union_length([(0, 1), (2, 3)]) == 2
    assert eventlog.union_length([(0, 2), (1, 3), (3, 4), (10, 11)]) == 5


def test_fold_live_tagged_job(tmp_path):
    """A tiny tagged mapInPandas + shuffle + window job, folded from the
    event log Spark itself wrote."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from perfbench.run import start_session, stop_session

    run_dir = str(tmp_path)
    spark, _ = start_session(run_dir, trace=True)
    try:
        sc = spark.sparkContext
        # make the window buffer spill after a few rows
        spark.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "128")
        spark.conf.set("spark.sql.windowExec.buffer.spill.threshold", "2048")

        def double(batches):
            for pdf in batches:
                yield pdf.assign(y=pdf["id"] * 2)

        sc.setJobGroup("tiny.op", "tiny.op")
        t0 = time.time()
        out = (
            spark.range(0, 20_000, 1, 4)
            .mapInPandas(double, "id long, y long")
            .withColumn("k", F.col("y") % 3)
            .withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy("id")))
            .groupBy("k").agg(F.max("rn").alias("m"))
            .collect()
        )
        t1 = time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(10).count()  # untagged work must not be counted
    finally:
        stop_session(spark)  # also flushes and closes the event log
    assert sorted(r["m"] for r in out) == [6666, 6667, 6667]

    events = eventlog.read_events(eventlog.find_log(f"{run_dir}/eventlog"))
    spans = {"tiny.op": [{"t0": t0, "t1": t1, "cpu_s": 0.0}]}
    rec = eventlog.fold(events, spans)["tiny.op"]

    assert rec["jobs"] >= 1 and rec["stages"] >= 2 and rec["tasks"] >= 4
    assert rec["python_run_s"] > 0
    assert rec["python_bytes_out"] > 0 and rec["python_bytes_in"] > 0
    assert rec["shuffle_write_bytes"] > 0 and rec["shuffle_read_bytes"] > 0
    assert rec["spill_bytes"] > 0
    assert rec["executor_cpu_s"] > 0 and rec["executor_run_s"] > 0
    assert rec["gc_s"] >= 0
    tagged = {
        e["Stage Info"]["Stage ID"] for e in events
        if e["Event"] == "SparkListenerStageSubmitted"
        and (e.get("Properties") or {}).get("spark.jobGroup.id") == "tiny.op"
    }
    tasks = [
        (e["Task Info"]["Launch Time"] / 1e3, e["Task Info"]["Finish Time"] / 1e3)
        for e in events
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in tagged
    ]
    assert len(tasks) == rec["tasks"]
    busy = eventlog.union_length([(max(s, t0), min(e, t1)) for s, e in tasks if e > t0 and s < t1])
    assert busy > 0
    assert rec["driver_only_s"] == pytest.approx(t1 - t0 - busy)
    assert 0 <= rec["driver_only_s"] < rec["wall_s"]
