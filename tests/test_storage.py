"""Storage adapter edge cases: manifest corruption, config-hash mismatch,
metrics accumulation (SURVEY.md A2/A3 resume semantics)."""

import json
import os
import time

from webcrawler_spark.io import Storage


def _mk(spark, tmp_path, config_hash="h1"):
    return Storage(
        spark=spark,
        warehouse=str(tmp_path),
        config_hash=config_hash,
        run_id="t",
    )


def test_stage_commit_and_skip(spark, tmp_path):
    st = _mk(spark, tmp_path)
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).withColumnRenamed("id", "doc_id")

    out1 = st.stage("s1", build)
    assert out1.count() == 5 and calls == [1]
    out2 = st.stage("s1", build)  # committed => build not called again
    assert out2.count() == 5 and calls == [1]


def test_corrupt_manifest_rebuilds(spark, tmp_path):
    st = _mk(spark, tmp_path)
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).withColumnRenamed("id", "doc_id")

    st.stage("s2", build)
    mpath = os.path.join(st.stage_path("s2"), "_MANIFEST.json")
    with open(mpath, "w") as fh:
        fh.write("{not json")
    st.stage("s2", build)
    assert calls == [1, 1]  # rebuilt


def test_config_change_rebuilds(spark, tmp_path):
    calls = []

    def build():
        calls.append(1)
        return spark.range(2).withColumnRenamed("id", "doc_id")

    _mk(spark, tmp_path, "cfgA").stage("s3", build)
    _mk(spark, tmp_path, "cfgB").stage("s3", build)  # hash mismatch => rerun
    _mk(spark, tmp_path, "cfgB").stage("s3", build)  # now committed
    assert calls == [1, 1]


def test_metrics_accumulate(spark, tmp_path):
    st = _mk(spark, tmp_path)
    st.stage("s4", lambda: spark.range(7).withColumnRenamed("id", "doc_id"))
    # rows come from the write's observed count: the post-filter rows written
    st.stage("s5", lambda: spark.range(100).filter("id % 3 = 0"))
    st.record_partition_skew("s4", st.read_stage("s4"))
    m = st.read_metrics()
    metrics = {r["metric"] for r in m.collect()}
    assert {"rows_out", "commit_secs", "partition_rows_max"} <= metrics
    rows_out = {r["stage"]: r["value"] for r in m.collect() if r["metric"] == "rows_out"}
    assert rows_out == {"s4": 7.0, "s5": 34.0}
    assert st.read_manifest("s5")["rows"] == 34

    # a metrics append submits no Spark job. The listener bus is FIFO, so
    # once the control group's job is visible, any job the append submitted
    # before it would be visible too.
    sc = spark.sparkContext
    try:
        sc.setJobGroup("storage-test-append", "metrics append")
        st._append_metrics("s4", {"probe": 1.0})
        sc.setJobGroup("storage-test-control", "control job")
        spark.range(3).collect()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    tracker = sc.statusTracker()
    deadline = time.time() + 60
    while not tracker.getJobIdsForGroup("storage-test-control"):
        assert time.time() < deadline, "control job never reached the tracker"
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("storage-test-append") == []

    # a temp file left by a crash mid-append is ignored by readers
    n_before = st.read_metrics().count()
    mdir = os.path.join(str(tmp_path), "_metrics")
    with open(os.path.join(mdir, "_part-crashed.parquet"), "wb") as fh:
        fh.write(b"PAR1 truncated")
    assert st.read_metrics().count() == n_before
    assert "probe" in {r["metric"] for r in st.read_metrics().collect()}


def test_iceberg_stage_roundtrip(spark, tmp_path):
    """Catalog-based Iceberg stage commit/read/resume. Skips when the
    iceberg-spark-runtime jar is not on the classpath (this sandbox ships
    none); with the jar present it exercises the real writeTo/createOrReplace
    + spark.table path end-to-end."""
    import pytest

    from webcrawler_spark.session import iceberg_available, iceberg_catalog_conf

    if not iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime jar not on the session classpath")
    for k, v in iceberg_catalog_conf("it_test", str(tmp_path / "icb")).items():
        spark.conf.set(k, v)
    st = Storage(
        spark=spark,
        warehouse=str(tmp_path),
        config_hash="h1",
        run_id="t",
        table_format="iceberg",
        iceberg_catalog="it_test",
    )
    calls = []

    def build():
        calls.append(1)
        return spark.range(7).withColumnRenamed("id", "doc_id")

    out1 = st.stage("s1", build)
    assert out1.count() == 7 and calls == [1]
    assert spark.table(st.stage_table("s1")).count() == 7
    out2 = st.stage("s1", build)  # manifest commit point => resume skips
    assert out2.count() == 7 and calls == [1]


def test_iceberg_identifier_and_commit_flow_without_jar(tmp_path, monkeypatch):
    """Pins the jar-independent ~95% of the iceberg branch with a recording
    fake session: fully-qualified identifier construction, CREATE NAMESPACE,
    writeTo(...).using('iceberg').createOrReplace() ordering, reads through spark.table on the SAME identifier, rows taken
    from the write's observed count, and the stage write -> metrics file ->
    manifest order (manifest LAST is the commit point; io.py commit_stage)."""
    calls = []

    class FakeDF:  # no count(): rows must come from the observation
        pass

    class FakeWriter:
        def __init__(self, ident):
            self.ident = ident

        def using(self, fmt):
            calls.append(("using", self.ident, fmt))
            return self

        def createOrReplace(self):
            calls.append(("createOrReplace", self.ident))

    class FakeStageDF(FakeDF):
        def observe(self, obs, *exprs):
            calls.append(("observe", len(exprs)))
            return self

        def writeTo(self, ident):
            calls.append(("writeTo", ident))
            return FakeWriter(ident)

    class FakeSpark:
        def sql(self, q):
            calls.append(("sql", " ".join(q.split())))
            return FakeDF()

        def table(self, ident):
            calls.append(("table", ident))
            return FakeDF()

    st = Storage(
        spark=FakeSpark(),
        warehouse=str(tmp_path),
        config_hash="cfg1",
        run_id="r7",
        table_format="iceberg",
        iceberg_catalog="prodcat",
        iceberg_namespace="dedup",
    )
    ident = st.stage_table("sigs")
    assert ident == "prodcat.dedup.r7_sigs"  # catalog.namespace.run_stage

    class FakeCol:  # stands in for F.col / F.lit / F.count without a live JVM
        def alias(self, name):
            return self

    class FakeObservation:  # the write observed 7 rows
        get = {"rows": 7}

    import webcrawler_spark.io as io_mod

    for fn in ("col", "lit", "count"):
        monkeypatch.setattr(io_mod.F, fn, lambda *a: FakeCol())
    monkeypatch.setattr(io_mod, "Observation", FakeObservation)
    mpath = os.path.join(st.stage_path("sigs"), "_MANIFEST.json")
    real_replace = os.replace

    def recording_replace(src, dst):
        real_replace(src, dst)
        calls.append(("metrics_file", os.path.dirname(dst), os.path.exists(mpath)))

    monkeypatch.setattr(io_mod.os, "replace", recording_replace)
    out = st.commit_stage("sigs", FakeStageDF())
    monkeypatch.undo()

    assert ("sql", "CREATE NAMESPACE IF NOT EXISTS prodcat.dedup") in calls
    assert ("writeTo", "prodcat.dedup.r7_sigs") in calls
    assert ("using", "prodcat.dedup.r7_sigs", "iceberg") in calls
    assert ("createOrReplace", "prodcat.dedup.r7_sigs") in calls
    # the row count rides the write itself
    assert calls.index(("observe", 1)) < calls.index(("writeTo", "prodcat.dedup.r7_sigs"))
    # reads go through spark.table on the same identifier
    assert ("table", "prodcat.dedup.r7_sigs") in calls
    assert isinstance(out, FakeDF)
    # stage write, then the metrics file (published while no manifest
    # exists yet), then the manifest (the commit point)
    metrics_file = ("metrics_file", os.path.join(str(tmp_path), "_metrics"), False)
    assert calls.index(("createOrReplace", "prodcat.dedup.r7_sigs")) < calls.index(
        metrics_file
    )
    with open(mpath) as fh:
        manifest = json.load(fh)
    assert manifest["config_hash"] == "cfg1" and manifest["rows"] == 7
    assert st.is_committed("sigs")
    # resume path: stage() must NOT rebuild once committed
    rebuilds = []
    got = st.stage("sigs", lambda: rebuilds.append(1))
    assert rebuilds == [] and isinstance(got, FakeDF)
