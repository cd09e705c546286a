"""Tests of the benchmark itself: the generators are deterministic, the
release generator's expected counters match a real nightly run, the
event-log fold is right on a tiny known job, and a traced run is
compared only with untraced runs of the same code.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen_release  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


@pytest.fixture(scope="module")
def eventlog_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("eventlog"))


@pytest.fixture(scope="module")
def spark(eventlog_dir):
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if ROOT not in paths:  # Python workers import the package too
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in paths if p])
    from clinvar_pipeline_spark.session import get_spark

    s = get_spark(master="local[2]", shuffle_partitions="4", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": eventlog_dir,
    })
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _tree_bytes(root: str) -> dict:
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            if f.endswith(".parquet"):
                import pyarrow.parquet as pq

                out[os.path.relpath(p, root)] = pq.read_table(p).to_pylist()
            else:
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = fh.read()
    return out


def test_release_generator_is_deterministic(tmp_path):
    a = gen_release.make_night(5, 40, str(tmp_path / "a"))
    b = gen_release.make_night(5, 40, str(tmp_path / "b"))
    c = gen_release.make_night(6, 40, str(tmp_path / "c"))
    assert a["digest"] == b["digest"] and a["expected"] == b["expected"]
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert a["digest"] != c["digest"]


def test_table_generator_is_deterministic(tmp_path):
    gen_tables.make_tables(3, 0.001, str(tmp_path / "a"))
    gen_tables.make_tables(3, 0.001, str(tmp_path / "b"))
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))


def test_release_varies_what_the_chain_branches_on(tmp_path):
    meta = gen_release.make_night(2, 200, str(tmp_path))
    exp = meta["expected"]
    load = exp["load"]
    for counter in ("RECORDS_SIMPLE", "RECORDS_GENOTYPE", "RECORDS_HAPLOTYPE",
                    "RECORDS_MULTI_ALLELE", "VARIANTS_INSERT", "VARIANTS_UPDATE",
                    "VARIANTS_DELETE", "XDB_IDS_DELETE", "ALIASES_INSERT"):
        assert load.get(counter, 0) > 0, counter
    assert all(exp["tiers"][k] > 0 for k in ("tier1", "tier2", "tier3", "concept_variants"))
    assert exp["vcf_lines"] > 0 and exp["rs"]["VARIANTS_WITH_RS_ID"] > 0
    assert sum(exp["vcf"].values()) > 0
    assert not exp["load_stats"]["guard_aborted"]


def test_expected_counters_match_a_real_run(spark, tmp_path):
    import pyarrow.parquet as pq

    from clinvar_pipeline_spark import cli

    meta = gen_release.make_night(9, 30, str(tmp_path / "in"))
    p, out = meta["paths"], str(tmp_path / "out")
    with contextlib.redirect_stdout(io.StringIO()):
        cli.main(["--nightly", "--xml", p["xml"], "--genes", p["genes"], "--prev", p["prev"],
                  "--aux", p["aux"], "--out", out, "--with-rs-ids", "--with-vcf"])
    got: dict = {}
    for row in pq.read_table(f"{out}/run_counters").to_pylist():
        got.setdefault(row["phase"], {})[row["counter"]] = row["value"]
    exp = meta["expected"]
    assert got == {ph: exp[ph] for ph in ("load", "annotate", "rs", "vcf") if exp[ph]}
    with open(f"{out}/export.vcf") as f:
        assert sum(1 for line in f if not line.startswith("#")) == exp["vcf_lines"]


def test_fold_on_synthetic_events(tmp_path):
    t = 1000.0
    log = tmp_path / "events"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_001_000,
         "Properties": {"spark.job.description": "load.run"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.job.description": "load.run"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Stage Attempt ID": 0, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 1500},
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 2_000_000},
                {"Name": "internal.metrics.diskBytesSpilled", "Value": 1_000_000},
                {"Name": "data sent to Python workers", "Value": 3_000_000},
                {"Name": "data returned from Python workers", "Value": 500_000}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_003_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_005_500,
         "Properties": {"spark.job.description": "bench.other"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_006_000},
    ]
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    # load.run spans [t, t+6]; its child vcf.x covers [t+4, t+5]
    span_list = [
        {"name": "load.run", "label": "load.run", "parent": None, "start": t, "end": t + 6},
        {"name": "vcf.x", "label": "vcf.x", "parent": 0, "start": t + 4, "end": t + 5},
    ]
    m = spans.fold(span_list, spans.read_events(str(log)))
    assert m["load.executor_s"] == pytest.approx(1.5)
    assert m["load.shuffle_mb"] == pytest.approx(2.0)
    assert m["load.spill_mb"] == pytest.approx(1.0)
    assert m["load.python_io_mb"] == pytest.approx(3.5)
    # self time 5 s, of which the job covers [t+1, t+3]
    assert m["load.driver_s"] == pytest.approx(3.0)
    assert m["vcf.driver_s"] == pytest.approx(1.0)
    assert m["vcv_xml.executor_s"] == 0.0 and m["queries.driver_s"] == 0.0


def test_fold_on_a_real_job(spark, eventlog_dir):
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def plus_one(s):
        return s + 1

    tracer = spans.Tracer(spark)
    with tracer.span("load.shuffle"):
        spark.range(20_000, numPartitions=4).groupBy((col("id") % 10).alias("k")).count(
        ).collect()
    with tracer.span("queries.arrow"):
        spark.range(20_000, numPartitions=2).select(plus_one(col("id"))).write.format(
            "noop").mode("overwrite").save()
    spark.stop()
    (path,) = [os.path.join(eventlog_dir, f) for f in os.listdir(eventlog_dir)]
    m = spans.fold(tracer.spans, spans.read_events(path))
    assert m["load.shuffle_mb"] > 0 and m["load.python_io_mb"] == 0
    assert m["queries.python_io_mb"] > 0.16  # 20k longs each way
    assert m["load.executor_s"] > 0 and m["queries.executor_s"] > 0
    assert 0 <= m["load.driver_s"] <= tracer.spans[0]["end"] - tracer.spans[0]["start"]
    assert m["annotate.executor_s"] == 0


def test_trace_overhead_reference_is_keyed_by_code_and_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "CACHE", str(tmp_path))
    assert run._untraced_reference("registry", 1) is None
    run._record_untraced("registry", 1, 10.0)
    run._record_untraced("registry", 2, 20.0)
    run._record_untraced("registry", 2, 30.0)
    assert run._untraced_reference("registry", 1) == (10.0, "same seed, 1 run(s)")
    assert run._untraced_reference("registry", 2) == (25.0, "same seed, 2 run(s)")
    assert run._untraced_reference("registry", 3) == (20.0, "other seeds, 3 run(s)")
    assert run._untraced_reference("nightly_churn", 1) is None
    monkeypatch.setattr(run, "_tree_id", lambda: "changed-code")
    assert run._untraced_reference("registry", 1) is None
