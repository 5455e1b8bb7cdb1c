"""Driver heap sizing (session.driver_memory / cgroup_memory_limit)
with injected cgroup files, plus one check on the live session."""

from __future__ import annotations

import os

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
