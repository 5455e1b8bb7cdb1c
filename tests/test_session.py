"""Engine sizing and the engine's Python worker daemon: driver heap
(session.driver_memory / cgroup_memory_limit) with injected cgroup
files, the core count, the stat-keyed zip invalidation
(d2d_spark._pyspark.daemon), and checks on the live session."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport
from types import SimpleNamespace

from d2d_spark import session
from d2d_spark._pyspark.daemon import stat_keyed
from d2d_spark.session import cgroup_memory_limit, driver_memory

GIB = 1 << 30
RAM = 16 * GIB
V1_UNLIMITED = "9223372036854771712\n"

V2_SELF = "0::/user.slice/job.scope\n"
V1_SELF = "4:memory:/process_api/abc\n3:cpuset:/\n0::/\n"


def test_v2_limit_below_ram_wins():
    files = {"/sys/fs/cgroup/user.slice/job.scope/memory.max": f"{4 * GIB}\n"}
    limit = cgroup_memory_limit(V2_SELF, files.get)
    assert limit == 4 * GIB
    assert driver_memory(RAM, limit) == "1024m"
    # a parent's limit binds the child too
    files["/sys/fs/cgroup/user.slice/memory.max"] = f"{2 * GIB}\n"
    assert cgroup_memory_limit(V2_SELF, files.get) == 2 * GIB


def test_v1_limit_below_ram_wins():
    files = {
        "/sys/fs/cgroup/memory/process_api/abc/memory.limit_in_bytes": f"{8 * GIB}\n",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes": V1_UNLIMITED,
    }
    limit = cgroup_memory_limit(V1_SELF, files.get)
    assert limit == 8 * GIB
    assert driver_memory(RAM, limit) == "2048m"


def test_container_without_cgroup_namespace_reads_mount_root():
    # /proc/self/cgroup names the host path; the mount root is the
    # container's own cgroup
    files = {"/sys/fs/cgroup/memory.max": f"{6 * GIB}\n"}
    assert cgroup_memory_limit("0::/docker/abc\n", files.get) == 6 * GIB


def test_max_and_v1_sentinel_mean_unlimited():
    v2 = {"/sys/fs/cgroup/user.slice/job.scope/memory.max": "max\n"}
    assert cgroup_memory_limit(V2_SELF, v2.get) is None
    v1 = {
        "/sys/fs/cgroup/memory/process_api/abc/memory.limit_in_bytes": V1_UNLIMITED,
        "/sys/fs/cgroup/memory/memory.limit_in_bytes": V1_UNLIMITED,
    }
    assert cgroup_memory_limit(V1_SELF, v1.get) is None
    assert cgroup_memory_limit("", {}.get) is None
    # no limit: a quarter of physical RAM
    assert driver_memory(RAM, None) == "4096m"


def test_limit_above_ram_falls_back_to_ram():
    assert driver_memory(RAM, 64 * GIB) == "4096m"


def test_one_gib_floor():
    assert driver_memory(2 * GIB, None) == "1024m"
    assert driver_memory(RAM, 512 << 20) == "1024m"


def test_env_override_wins():
    assert driver_memory(RAM, 2 * GIB, "90g") == "90g"
    assert driver_memory(RAM, None, "") == "4096m"


def test_live_driver_heap_fits_host_ram(spark):
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    conf_bytes = spark._jvm.org.apache.spark.util.Utils.byteStringAsBytes(conf)
    assert conf_bytes <= ram, conf
    assert spark._jvm.java.lang.Runtime.getRuntime().maxMemory() <= ram


class _Builder:
    """Records what get_spark asks of SparkSession.builder."""

    def __init__(self):
        self.conf = {}

    def master(self, master):
        self.conf["master"] = master
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


def _built_conf(monkeypatch) -> dict:
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    session.get_spark()
    return builder.conf


def test_cores_default_to_the_cpus_this_process_may_use(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cpus = len(os.sched_getaffinity(0))
    conf = _built_conf(monkeypatch)
    assert conf["master"] == f"local[{cpus}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cpus)
    # read at each call, not when the module was imported
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _built_conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.python.daemon.module"] == "d2d_spark._pyspark.daemon"


def _write_zip(path, modules) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_directory_reread_only_when_the_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    a, b = "d2d_stat_keyed_a", "d2d_stat_keyed_b"
    _write_zip(archive, [a])
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(a).NAME == a
        importer = sys.path_importer_cache[archive]
        invalidate = stat_keyed(zipimport.zipimporter.invalidate_caches)
        invalidate(importer)  # first sight: reads and records the key
        reads = []
        real = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
        invalidate(importer)
        invalidate(importer)
        assert reads == []
        # rewritten in place: a new stat key, so one re-read
        _write_zip(archive, [a, b])
        invalidate(importer)
        assert reads == [archive]
        assert importlib.import_module(b).NAME == b
        # a failed stat falls through to the original, which empties it
        os.remove(archive)
        invalidate(importer)
        assert importer._files == {}
    finally:
        sys.modules.pop(a, None)
        sys.modules.pop(b, None)


def test_importing_the_daemon_module_patches_nothing():
    # the tests above import it; the patch belongs to the daemon process
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def test_worker_tasks_reread_no_unchanged_zip(spark):
    def count_reads(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        real = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"reads": len(reads), "zips": zips}])

    got = spark.range(0, 8, 1, 4).mapInArrow(count_reads, "reads long, zips long").collect()
    assert len(got) == 4
    # workers import pyspark through zip importers, and none re-reads
    assert all(r.zips > 0 for r in got), got
    assert [r.reads for r in got] == [0] * 4


def test_add_py_file_zips_import_in_workers(spark, tmp_path):
    """Zips added one after another to a running session import in
    the workers that already ran tasks before each was added."""
    sc = spark.sparkContext
    names = ["d2d_pyfile_one", "d2d_pyfile_two"]

    def imports(wanted):
        def run(batches):
            import importlib

            import pyarrow as pa

            for _ in batches:
                pass
            got = [importlib.import_module(n).NAME for n in wanted]
            yield pa.RecordBatch.from_pylist([{"names": ",".join(got)}])

        return run

    try:
        for k, name in enumerate(names):
            path = tmp_path / f"{name}.zip"
            _write_zip(path, [name])
            sc.addPyFile(str(path))
            wanted = names[: k + 1]
            rows = spark.range(0, 4, 1, 4).mapInArrow(imports(wanted), "names string").collect()
            assert [r.names for r in rows] == [",".join(wanted)] * 4
    finally:
        for name in names:
            sys.modules.pop(name, None)
