"""Session defaults that do not need a running Spark."""

import re

from word_sketch_lucene_spark.session import default_driver_memory


def test_default_driver_memory_is_half_the_host():
    gib = 1 << 30
    assert default_driver_memory(16 * gib) == "8g"
    # whole GB, rounded down
    assert default_driver_memory(15 * gib) == "7g"
    assert default_driver_memory(64 * gib + 5) == "32g"
    # never below 1g
    assert default_driver_memory(gib) == "1g"
    assert default_driver_memory(0) == "1g"
    # read from the OS when no size is given
    assert re.fullmatch(r"[1-9][0-9]*g", default_driver_memory())
