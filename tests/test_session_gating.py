"""get_spark's local-machine tuning must not leak into spark-submit
(cluster) launches: driver.memory is inert there (misreported), tmpfs
spark.local.dir and 16m splits are sandbox defaults that would degrade or
destabilize TB-scale runs."""

import lsh_qd_spark.session as session_mod


class _FakeBuilder:
    def __init__(self):
        self.confs = {}
        self.master_val = None

    def appName(self, *_):
        return self

    def config(self, k, v):
        self.confs[k] = v
        return self

    def master(self, m):
        self.master_val = m
        return self

    def getOrCreate(self):
        raise _Stop()


class _Stop(Exception):
    pass


def _capture(monkeypatch, env):
    fake = _FakeBuilder()

    class _FakeSession:
        builder = fake

    monkeypatch.setattr(session_mod, "SparkSession", _FakeSession)
    for k in ("PYSPARK_GATEWAY_PORT", "SPARK_GRAFT_LOCAL_DIR",
              "SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_GRAFT_DRIVER_MEM",
              "SPARK_GRAFT_MASTER"):
        monkeypatch.delenv(k, raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    try:
        session_mod.get_spark()
    except _Stop:
        pass
    return fake


def test_bare_python_gets_sandbox_tuning(monkeypatch):
    fake = _capture(monkeypatch, {})
    assert fake.confs["spark.local.dir"] == "/dev/shm/spark_local"
    assert fake.confs["spark.sql.files.maxPartitionBytes"] == "16m"
    assert (
        fake.confs["spark.driver.memory"] == session_mod._default_driver_memory()
    )
    assert fake.master_val == "local[*]"


def test_spark_submit_keeps_cluster_defaults(monkeypatch):
    fake = _capture(monkeypatch, {"PYSPARK_GATEWAY_PORT": "12345"})
    assert "spark.local.dir" not in fake.confs
    assert "spark.sql.files.maxPartitionBytes" not in fake.confs
    assert "spark.driver.memory" not in fake.confs  # inert + misreported
    assert fake.master_val is None  # --master wins


def test_spark_submit_honors_explicit_knobs(monkeypatch):
    fake = _capture(
        monkeypatch,
        {
            "PYSPARK_GATEWAY_PORT": "12345",
            "SPARK_GRAFT_LOCAL_DIR": "/mnt/ssd/spark",
            "SPARK_GRAFT_MAX_PARTITION_BYTES": "128m",
        },
    )
    assert fake.confs["spark.local.dir"] == "/mnt/ssd/spark"
    assert fake.confs["spark.sql.files.maxPartitionBytes"] == "128m"


def test_default_driver_memory_is_half_of_ram_capped():
    gib = 1 << 30
    assert session_mod._default_driver_memory(15 * gib) == "7g"
    assert session_mod._default_driver_memory(64 * gib) == "16g"
    assert session_mod._default_driver_memory(gib) == "1g"
