"""Session defaults that depend on the machine."""

from archive_query_log_spark.session import MAX_DRIVER_MEMORY_MB, default_driver_memory

GIB = 1 << 30


def test_driver_memory_is_half_of_physical_memory():
    assert default_driver_memory(16 * GIB) == "8192m"
    assert default_driver_memory(15 * GIB + 700 * (1 << 20)) == "8030m"


def test_driver_memory_is_capped_at_24g():
    assert default_driver_memory(64 * GIB) == f"{MAX_DRIVER_MEMORY_MB}m" == "24576m"


def test_driver_memory_falls_back_to_cap_when_unknown():
    assert default_driver_memory(0) == "24576m"


def test_driver_memory_defaults_to_this_machine():
    mb = int(default_driver_memory().removesuffix("m"))
    assert 0 < mb <= MAX_DRIVER_MEMORY_MB
