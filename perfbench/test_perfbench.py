"""Tests of the benchmark harness itself.

    python3 -m pytest perfbench -q

Run from the repository root.  They start one local Spark session.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import run as bench  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from python_dtl_spark.session import get_spark

    bench.export_worker_path(os.path.dirname(HERE))
    s = get_spark("perfbench-tests", master="local[2]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def data_dir():
    return bench.DATA_DIR


def _jobs_in(spark, group, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_hygiene_leaves_no_fit_between_items(spark, data_dir):
    """Two consecutive builds of dedup_semdedup launch the same number
    of construction jobs: the KMeans fit is redone, not served from the
    process memo."""
    from python_dtl_spark import catalog

    fn = catalog.QUERIES["dedup_semdedup"].fn
    counts = []
    for i in range(2):
        bench.hygiene(spark, data_dir)
        counts.append(_jobs_in(spark, f"semdedup-{i}", lambda: fn(spark, data_dir)))
    assert counts[0] > 0
    assert counts[0] == counts[1]


def test_materialise_writes_every_column(spark, data_dir, tmp_path):
    """The curation action writes the DataFrame's full schema, so an
    action that pruned columns would fail here."""
    from python_dtl_spark import catalog

    for name in workloads.CURATION:
        bench.hygiene(spark, data_dir)
        df = catalog.QUERIES[name].fn(spark, data_dir)
        path = str(tmp_path / name)
        bench.materialise(df, path)
        written = spark.read.parquet(path).schema
        assert [(f.name, f.dataType) for f in written] == [
            (f.name, f.dataType) for f in df.schema
        ], name


def _bench(data_dir, work):
    b = bench.Bench(
        argparse.Namespace(workload="dtl_cli", seed=0, seconds=1, trace=0), str(work)
    )
    b.data = data_dir
    return b


def test_corrupted_output_is_counted_failed(data_dir, tmp_path):
    """A correct output passes its DuckDB twin; the same output with one
    value changed, and a why count that disagrees, are both failures."""
    import pyarrow.parquet as pq

    item = next(i for i in workloads.dtl_scripts(7) if i.name == "dtl_q1")
    con = checks.connect(data_dir)
    good = con.execute(item.twin).arrow()
    con.close()
    for name, table in (("good", good), ("bad", good)):
        os.makedirs(tmp_path / name)
        if name == "bad":
            col = table.column("sum_qty").to_pylist()
            col[0] += 1.0
            table = table.set_column(
                table.schema.get_field_index("sum_qty"), "sum_qty", [col]
            )
        pq.write_table(table, str(tmp_path / name / "part-0.parquet"))

    b = _bench(data_dir, tmp_path)
    b.checks.append(("good", b._oracle_check(str(tmp_path / "good"), item.twin)))
    b.checks.append(("bad", b._oracle_check(str(tmp_path / "bad"), item.twin)))
    b.checks.append(("why-ok", b._count_check(str(tmp_path / "good"), good.num_rows)))
    b.checks.append(("why-bad", b._count_check(str(tmp_path / "good"), good.num_rows + 1)))
    b.run_checks()
    assert [f.split(":")[0] for f in b.failed] == ["bad", "why-bad"]


def test_wrappers_forward_every_attribute(spark, tmp_path):
    """Wrapped importer/exporter keep ``_root`` and ``invalidate``, so the
    self-overwrite guard still rejects a script that imports and exports
    the same name under one root."""
    from python_dtl_spark import runtime
    from python_dtl_spark.lineage import FileSystemTracer
    from python_dtl_spark.sources import FileSystemExporter, FileSystemImporter

    root = str(tmp_path)
    spark.range(3).write.parquet(os.path.join(root, "t.parquet"))
    rec = spans.Recorder(spark)
    inner = FileSystemImporter(spark, root)
    importer = spans.TimedImporter(inner, rec)
    exporter = spans.TimedExporter(FileSystemExporter(root), rec)
    tracer = spans.TimedTracer(FileSystemTracer(os.path.join(root, "trace")), rec)
    assert importer._root == root and exporter._root == root
    assert importer.invalidate == inner.invalidate
    script = "WITH t AS IMPORT 't'; EXPORT t TO 't';"
    with pytest.raises(ValueError, match="imports AND exports"):
        runtime.run(script, spark=spark, importer=importer, exporter=exporter)
    with pytest.raises(ValueError, match="imports AND exports"):
        runtime.run(
            script, spark=spark, importer=importer, exporter=exporter, tracer=tracer
        )


def test_spans_record_jobs_and_self_time(spark):
    rec = spans.Recorder(spark)
    with rec.span("outer") as outer:
        spark.range(10).count()
        with rec.span("inner") as inner:
            spark.range(10).count()
            spark.range(10).count()
    # each count() may launch more than one job (adaptive execution), but
    # the inner span's two counts are charged to it alone
    assert outer.jobs > 0 and inner.jobs == 2 * outer.jobs
    assert inner.parent == outer.id
    assert 0 <= rec.self_time(outer) <= outer.dur


def test_event_log_is_split_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb-3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Accumulables": [
             {"Name": "data sent to Python workers", "Update": 1048576}]},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 10**9,
                          "JVM GC Time": 0, "Memory Bytes Spilled": 0,
                          "Disk Bytes Spilled": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2097152},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                   "Local Bytes Read": 1048576}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = spans.parse_event_log(str(tmp_path))
    g = groups["pb-3"]
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks) == (1, 1, 1, 0)
    assert (g.executor_run_s, g.executor_cpu_s) == (1.5, 1.0)
    assert (g.shuffle_write_mb, g.shuffle_read_mb, g.python_mb) == (2.0, 1.0, 1.0)
    assert groups[None].jobs == 1


def test_parameter_domains_are_in_the_data(data_dir):
    """Every value the seed can draw selects rows of the input tables."""
    con = checks.connect(data_dir)
    statuses = con.execute("SELECT DISTINCT o_orderstatus FROM orders").fetchall()
    years = con.execute(
        "SELECT year(min(l_shipdate)), year(max(l_shipdate)) FROM lineitem"
    ).fetchone()
    con.close()
    assert sorted(s for (s,) in statuses) == list(workloads.ORDER_STATUSES)
    assert years == workloads.SHIP_YEARS


def test_seed_fixes_inputs():
    a, b = workloads.dtl_scripts(5), workloads.dtl_scripts(5)
    assert a == b
    assert workloads.dtl_scripts(6) != a
    assert sorted(i.name for i in a) == sorted(workloads.RENDERERS)


def test_exits_nonzero_without_the_program(tmp_path):
    """Outside a checkout of the program the benchmark fails fast and
    prints no result."""
    import subprocess

    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "dtl_cli",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
