"""Unit tests of the session defaults that need no Spark session."""

import re

from graphrole_spark.session import default_driver_memory

GIB = 2**30


def test_default_driver_memory_is_half_the_host_capped():
    assert default_driver_memory(16 * GIB) == "8g"
    assert default_driver_memory(int(15.7 * GIB)) == "7g"
    assert default_driver_memory(96 * GIB) == "48g"
    assert default_driver_memory(1024 * GIB) == "48g"
    assert default_driver_memory(GIB) == "1g"
    assert default_driver_memory(GIB // 4) == "1g"


def test_default_driver_memory_reads_this_host():
    got = default_driver_memory()
    assert re.fullmatch(r"\d+g", got)
    assert 1 <= int(got[:-1]) <= 48
