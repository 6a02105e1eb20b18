"""Driver-memory default (engine/session.py): a pure function of the
box's memory limit and the task-slot count — no Spark needed."""

from engine.session import _read_int, derive_driver_mem

GIB = 1 << 30


def test_derive_driver_mem():
    # 15 GiB box, 4 slots: (15 - 1 OS - 4 x 0.5 workers) / 2 = 6 GiB
    assert derive_driver_mem(None, 15 * GIB, 4) == "6144m"
    # a cgroup limit below MemTotal is the usable memory
    assert derive_driver_mem(8 * GIB, 64 * GIB, 2) == "3072m"
    # cgroup v1 reports "no limit" as a huge number: MemTotal wins
    assert derive_driver_mem(2 ** 63 - 4096, 15 * GIB, 4) == "6144m"
    # clamped to [1 GiB, 31 GiB]
    assert derive_driver_mem(None, 2 * GIB, 8) == "1024m"
    assert derive_driver_mem(None, 512 * GIB, 4) == "31744m"
    # more worker slots leave less for the heap, never more than RAM
    assert int(derive_driver_mem(None, 15 * GIB, 16)[:-1]) < 6144
    assert int(derive_driver_mem(None, 15 * GIB, 1)[:-1]) * 2 ** 20 \
        < 15 * GIB


def test_read_int(tmp_path):
    unlimited = tmp_path / "memory.max"
    unlimited.write_text("max\n")
    assert _read_int(str(unlimited)) is None
    limited = tmp_path / "memory.max2"
    limited.write_text("8589934592\n")
    assert _read_int(str(limited)) == 8 * GIB
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\nMemFree: 1 kB\n")
    assert _read_int(str(meminfo), "MemTotal:") == 16479424
    assert _read_int(str(tmp_path / "absent")) is None
