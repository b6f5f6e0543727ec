"""The session defaults table (metastore_spark/session.py): `get_spark`
and `tune_runtime` apply one set of runtime SQL confs, a local master
lists exact file lists on the driver instead of in a Spark job, and
the ``SPARK_GRAFT_*`` settings fail loudly on malformed values."""

import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from metastore_spark import catalog, session
from metastore_spark.api import KindConfig, SearchEngine
from metastore_spark.sources import snapshots as snap

_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# what get_spark sets at launch beyond the runtime table
_LAUNCH_ONLY = {
    "spark.driver.memory",
    "spark.driver.extraJavaOptions",
    "spark.sql.files.maxPartitionBytes",
    "spark.ui.showConsoleProgress",
    "spark.locality.wait",
}


class _Builder:
    """Stands in for ``SparkSession.builder`` and records its confs."""

    def __init__(self):
        self.builder = self
        self.confs = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.master_set = master
        return self

    def config(self, k, v):
        self.confs[k] = v
        return self

    def getOrCreate(self):
        return self


def _launched(monkeypatch, master):
    fake = _Builder()
    monkeypatch.setattr(session, "SparkSession", fake)
    session.get_spark(master=master)
    return fake.confs


def _tuned(master):
    confs = {}
    session.tune_runtime(SimpleNamespace(
        sparkContext=SimpleNamespace(master=master),
        conf=SimpleNamespace(set=confs.__setitem__),
    ))
    return confs


def test_get_spark_and_tune_runtime_share_one_table(monkeypatch):
    for master, launch_only in (
        ("local[4]", _LAUNCH_ONLY),
        ("spark://h:7077", _LAUNCH_ONLY - {"spark.locality.wait"}),
    ):
        launched, tuned = _launched(monkeypatch, master), _tuned(master)
        assert set(launched) - set(tuned) == launch_only
        assert {k: launched[k] for k in tuned} == tuned


def test_get_spark_hands_spark_master_to_the_builder(monkeypatch):
    """With no ``master`` argument, ``SPARK_MASTER`` is the session's
    master, and the local-only defaults stay off for a cluster one."""
    monkeypatch.setenv("SPARK_MASTER", "spark://h:7077")
    fake = _Builder()
    monkeypatch.setattr(session, "SparkSession", fake)
    session.get_spark()
    assert fake.master_set == "spark://h:7077"
    assert "spark.locality.wait" not in fake.confs
    assert _THRESHOLD not in fake.confs


def test_only_local_masters_list_on_the_driver():
    for master in ("local", "local[4]", "local[*]"):
        assert session.runtime_confs(master)[_THRESHOLD] == "2147483647"
    for master in ("spark://h:7077", "yarn", "k8s://https://h:443"):
        confs = session.runtime_confs(master)
        assert _THRESHOLD not in confs
        assert confs == {
            k: v for k, v in session.runtime_confs("local[4]").items()
            if k != _THRESHOLD
        }


def test_tune_runtime_sets_the_threshold_on_a_local_session(spark):
    session.tune_runtime(spark)
    assert spark.conf.get(_THRESHOLD) == "2147483647"


@pytest.mark.parametrize(
    "name, bad",
    [
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_CPUS", "-4"),
        ("SPARK_GRAFT_CPUS", "four"),
        ("SPARK_GRAFT_CPUS", ""),
        ("SPARK_GRAFT_SPLIT_MB", "1.5"),
        ("SPARK_GRAFT_SPLIT_MB", "0"),
        ("SPARK_GRAFT_DRIVER_MEM", "24"),
        ("SPARK_GRAFT_DRIVER_MEM", "lots"),
        ("SPARK_GRAFT_DRIVER_MEM", "0g"),
        ("SPARK_GRAFT_DRIVER_MEM", "24x"),
        ("SPARK_GRAFT_RAW_TABLES", "2"),
        ("SPARK_GRAFT_RAW_TABLES", "true"),
        ("SPARK_GRAFT_RAW_TABLES", ""),
    ],
)
def test_malformed_settings_raise_naming_the_variable(monkeypatch, name, bad):
    monkeypatch.setenv(name, bad)
    with pytest.raises(ValueError, match=name):
        session.env_setting(name)


def test_settings_accept_their_forms(monkeypatch):
    for name, value in (
        ("SPARK_GRAFT_CPUS", "4"),
        ("SPARK_GRAFT_CPUS", " 64 "),
        ("SPARK_GRAFT_SPLIT_MB", "8"),
        ("SPARK_GRAFT_DRIVER_MEM", "2g"),
        ("SPARK_GRAFT_DRIVER_MEM", "512M"),
        ("SPARK_GRAFT_DRIVER_MEM", "1024mb"),
        ("SPARK_GRAFT_RAW_TABLES", "0"),
        ("SPARK_GRAFT_RAW_TABLES", "1"),
    ):
        monkeypatch.setenv(name, value)
        assert session.env_setting(name) == value.strip()
    for name, default in (
        ("SPARK_GRAFT_CPUS", "32"),
        ("SPARK_GRAFT_SPLIT_MB", "128"),
        ("SPARK_GRAFT_DRIVER_MEM", "24g"),
        ("SPARK_GRAFT_RAW_TABLES", "0"),
    ):
        monkeypatch.delenv(name, raising=False)
        assert session.env_setting(name) == default


def test_get_spark_refuses_a_bad_setting_before_launch(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SPLIT_MB", "lots")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SPLIT_MB"):
        _launched(monkeypatch, "local[2]")
    monkeypatch.setenv("SPARK_GRAFT_SPLIT_MB", "8")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    confs = _launched(monkeypatch, None)
    assert confs["spark.sql.files.maxPartitionBytes"] == str(8 << 20)
    assert confs["spark.sql.shuffle.partitions"] == "8"  # floor of 8


def test_raw_tables_zero_keeps_the_snapshot_path(spark, monkeypatch):
    """``SPARK_GRAFT_RAW_TABLES=0`` means the snapshot path; a value
    that is neither 0 nor 1 raises instead of picking one."""
    calls = []
    monkeypatch.setattr(
        catalog, "snapshot_root", lambda *a: calls.append(a) or None
    )
    monkeypatch.setattr(catalog, "_raw_table", lambda *a: "raw")
    for value, snapshot_path in (("0", True), ("1", False)):
        calls.clear()
        monkeypatch.setenv("SPARK_GRAFT_RAW_TABLES", value)
        assert catalog.load_table(spark, "/nowhere", "events") == "raw"
        assert bool(calls) == snapshot_path
    monkeypatch.setenv("SPARK_GRAFT_RAW_TABLES", "yes")
    with pytest.raises(ValueError, match="SPARK_GRAFT_RAW_TABLES"):
        catalog.load_table(spark, "/nowhere", "events")


def test_exact_file_reads_launch_no_listing_job(spark, tmp_path):
    """A head of 40 one-file appends is past Spark's 32-path listing
    threshold: reading it and flipping an engine to it run no Spark
    job on a local master, and serve exactly the appended rows."""
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "data"))
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
    ]}
    for i in range(40):
        rel = f"data/part-{i:02d}.parquet"
        pq.write_table(
            pa.table({"k": [2 * i, 2 * i + 1]}), os.path.join(root, rel)
        )
        snap.commit_append_files(root, [rel], schema)
    assert len(snap.files_of(root, snap.current_version(root))) == 40
    engine = SearchEngine(spark, {"t": KindConfig(table="t", id_field="k")}, {})
    sc = spark.sparkContext
    group = "test-no-listing-job"
    sc.setJobGroup(group, "read and flip to a 40-file head")
    try:
        df = snap.read_snapshot(spark, root)
        served = engine.refresh_from_snapshot("t", root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert served == 40
    for frame in (df, engine.dfs["t"]):
        assert sorted(r.k for r in frame.collect()) == list(range(80))
