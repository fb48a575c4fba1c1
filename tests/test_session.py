"""Host-fit session defaults: the driver heap is sized from /proc/meminfo,
the worker daemon is selected for local masters only, and a driver started
by spark-submit keeps the submitted master."""

from information_retrieval_images_spark.session import driver_memory, submitted_master, worker_conf


def test_driver_memory_is_half_of_memtotal(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\nMemFree:         1000000 kB\n")
    assert driver_memory(str(meminfo)) == "7680m"
    meminfo.write_text("MemTotal:       1048576 kB\n")
    assert driver_memory(str(meminfo)) == "1024m"  # floor: 1 GiB
    assert driver_memory(str(tmp_path / "missing")) == "4g"


def test_driver_memory_env_override(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(str(tmp_path / "missing")) == "3g"


def test_worker_daemon_conf_for_local_masters_only():
    conf = worker_conf("local[4]")
    assert conf["spark.python.daemon.module"] == "information_retrieval_images_spark.worker_daemon"
    assert worker_conf("spark://host:7077") == {} and worker_conf("yarn") == {}


def test_submitted_master_is_read_from_the_running_jvm(spark, monkeypatch):
    """Outside spark-submit there is no submitted master. Under it (the
    gateway env is set) the master comes from the JVM's system properties,
    which hold the launch master: here the test session's."""
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert submitted_master() is None
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "0")  # gateway already up: not dialled
    assert submitted_master() == spark.sparkContext.master == "local[4]"
