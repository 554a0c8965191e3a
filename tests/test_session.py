"""Session defaults sized from the host."""

from __future__ import annotations

from datachecker_spark.session import CODEGEN_CACHE_ENTRIES, default_driver_mem

GIB = 2**30


def test_default_driver_mem_is_half_of_ram_capped():
    assert default_driver_mem(15 * GIB) == "7680m"
    assert default_driver_mem(4 * GIB) == "2048m"
    # capped at 24g on large hosts
    assert default_driver_mem(64 * GIB) == "24576m"
    assert default_driver_mem(1024 * GIB) == "24576m"
    # never below 512m
    assert default_driver_mem(GIB // 2) == "512m"


def test_default_driver_mem_reads_this_host():
    mb = int(default_driver_mem()[:-1])
    assert 512 <= mb <= 24 * 1024


def test_session_conf(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
