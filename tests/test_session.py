"""Session defaults: the local driver JVM must fit the host it runs on."""

import os

import pytest


def test_default_driver_memory_fits_physical_memory(spark):
    """The driver heap defaults to a size the host can hold: a heap above
    physical memory lets the one long-lived JVM grow until the kernel
    OOM-kills it, and every later test then fails to connect."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        pytest.skip("SPARK_GRAFT_DRIVER_MEM overrides the default")
    value = spark.sparkContext.getConf().get("spark.driver.memory")
    heap = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(value)
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert heap <= phys, f"spark.driver.memory={value} exceeds {phys} bytes of RAM"
