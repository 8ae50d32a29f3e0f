"""Session defaults: the driver heap is sized from the host, and
session scratch data has one home."""

import os

import pytest

from chameleon_entity_linking_spark.plans.session import (
    _parse_jvm_mem_mb,
    default_driver_mem,
)


def _meminfo(tmp_path, total_kb):
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n"
    )
    return str(p)


def test_default_driver_mem_below_physical_memory():
    with open("/proc/meminfo") as f:
        total_kb = next(
            int(line.split()[1]) for line in f if line.startswith("MemTotal:")
        )
    mb = _parse_jvm_mem_mb(default_driver_mem())
    assert 0 < mb < total_kb / 1024
    assert mb <= 24 * 1024


def test_default_driver_mem_share_and_cap(tmp_path):
    # 16 GiB host -> 40% of it; 256 GiB host -> the 24g cap
    small = _parse_jvm_mem_mb(default_driver_mem(_meminfo(tmp_path, 16 << 20)))
    assert small == int(16 * 1024 * 0.4)
    assert default_driver_mem(_meminfo(tmp_path, 256 << 20)) == "24g"


def test_default_driver_mem_without_meminfo(tmp_path):
    assert default_driver_mem(str(tmp_path / "absent")) == "24g"


def test_driver_contract_bound_within_configured_heap(spark):
    # the bound is derived from the driver JVM's max heap, which never
    # exceeds the configured -Xmx (spark.driver.memory) by more than
    # the heap's alignment: G1 rounds it up to whole regions of at
    # most 32 MB (e.g. -Xmx6437m -> maxMemory 6440 MB)
    from chameleon_entity_linking_spark.operators.cluster import (
        DRIVER_FINISH_MAX_EDGES,
        _driver_contract_bound,
    )

    bound = _driver_contract_bound(spark)
    assert 0 < bound <= DRIVER_FINISH_MAX_EDGES
    conf_mb = _parse_jvm_mem_mb(spark.conf.get("spark.driver.memory"))
    assert bound <= 410 * (conf_mb + 32)


class _StubSpark:
    """Just the runtime-conf surface ``scratch_dir`` reads."""

    def __init__(self, conf):
        self.conf = self
        self._conf = conf

    def get(self, key, default=None):
        return self._conf.get(key, default)


def test_scratch_dir_off_local_master_is_the_spill_conf():
    from chameleon_entity_linking_spark.plans.session import (
        SCRATCH_DIR_CONF,
        scratch_dir,
    )

    master = {"spark.master": "spark://head:7077"}
    assert scratch_dir(_StubSpark(master)) is None
    uri = "hdfs://nn/scratch"
    assert scratch_dir(_StubSpark({**master, SCRATCH_DIR_CONF: uri})) == uri


def test_er_query_without_scratch_dir_names_the_conf():
    import __spark_entry__ as entry
    from chameleon_entity_linking_spark.plans.session import SCRATCH_DIR_CONF

    stub = _StubSpark({"spark.master": "yarn"})
    with pytest.raises(ValueError, match=SCRATCH_DIR_CONF.replace(".", r"\.")):
        entry._resolve(stub, None, None, None)


def test_stale_scratch_dirs_of_dead_pids_are_swept(tmp_path):
    import subprocess
    import sys

    from chameleon_entity_linking_spark.plans.session import _sweep_stale_scratch

    # a reaped child's pid no longer runs
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    dead = tmp_path / f"cel_scratch_{child.pid}_x1"
    live = tmp_path / f"cel_scratch_{os.getpid()}_x2"
    other = tmp_path / "cel_scratch_nopid"
    for d in (dead, live, other):
        (d / "wh").mkdir(parents=True)
    assert _sweep_stale_scratch(str(tmp_path)) == [str(dead)]
    assert not dead.exists()
    assert live.exists() and other.exists()
