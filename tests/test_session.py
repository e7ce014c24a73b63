"""Session defaults: the driver heap (no JVM) and the driver JVM's JIT."""

import os

import pytest

from brdrq_spark.session import driver_memory

GIB = 2**30


@pytest.mark.parametrize(
    "physical,heap",
    [(15.6 * GIB, "7g"), (16 * GIB, "8g"), (64 * GIB, "24g"), (1 * GIB, "1g")],
)
def test_driver_memory_is_half_the_machine_within_bounds(physical, heap):
    assert driver_memory(int(physical)) == heap


def test_driver_memory_default_fits_this_machine():
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(driver_memory()[:-1]) * GIB <= max(physical, GIB)


def test_driver_jvm_compiles_with_c1_only(spark):
    flag = "-XX:TieredStopAtLevel=1"
    assert spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions") == flag
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert flag in list(mx.getInputArguments())
