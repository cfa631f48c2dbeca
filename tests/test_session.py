"""Engine session defaults fit the host they run on."""

import pytest

from marginaliasearch_spark.session import default_driver_memory

GIB = 2**30


def _mb(setting: str) -> int:
    assert setting.endswith("m"), setting
    return int(setting[:-1])


@pytest.mark.parametrize("total", [GIB // 2, 4 * GIB, 15 * GIB, 48 * GIB, 512 * GIB])
def test_driver_memory_is_half_of_ram_capped_at_24g(total):
    assert _mb(default_driver_memory(total)) == min(total // 2 // 2**20, 24 * 1024)


def test_driver_memory_default_never_exceeds_host_ram():
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    assert 0 < _mb(default_driver_memory()) * 1024 <= kb
