"""The driver-heap default of session.get_spark, checked without a JVM."""

import os

import pytest

from medical_ocr_pipeline_spark import session

GIB = 1 << 30
PAGE = 4096


def _host(monkeypatch, phys_bytes, heap_env=None):
    values = {"SC_PHYS_PAGES": phys_bytes // PAGE, "SC_PAGE_SIZE": PAGE}
    monkeypatch.setattr(os, "sysconf", lambda name: values[name])
    if heap_env is None:
        monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_DRIVER_MEM", heap_env)


def test_small_host_gets_at_most_40_percent(monkeypatch):
    _host(monkeypatch, 16 * GIB)
    heap = session.driver_memory()
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) <= 0.4 * 16 * 1024


def test_large_host_is_capped_at_16g(monkeypatch):
    _host(monkeypatch, 64 * GIB)
    assert session.driver_memory() == "16g"


@pytest.mark.parametrize("phys_gib", [16, 64])
def test_env_override_is_returned_unchanged(monkeypatch, phys_gib):
    _host(monkeypatch, phys_gib * GIB, heap_env="3g")
    assert session.driver_memory() == "3g"
