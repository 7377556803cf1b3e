"""Host sizing of the catalog sweep, and the stop on a dead shared JVM."""

from __future__ import annotations

import subprocess
import sys

from tests.sweep import GIB, REPO, sizing


def test_sizing_fits_the_host():
    # the 4-CPU / 15.7 GiB box: main session + 2 shards at a 3g heap
    assert sizing(4, int(15.7 * GIB)) == ("3g", 2, 2)
    # a 32-CPU box with at least 128 GiB: 8 shards at Spark's 8g default
    for ram_gib in (128, 256, 512):
        assert sizing(32, ram_gib * GIB)[:2] == ("8g", 8)
    for cpus in (2, 3, 4, 6, 8, 12, 16, 24, 32, 48, 64):
        for ram_gib in (8, 10, 12, 15.7, 16, 24, 32, 48, 64, 128, 256, 512):
            heap, shards, threads = sizing(cpus, int(ram_gib * GIB))
            heap_gib = int(heap.removesuffix("g"))
            assert heap_gib >= 1 and shards >= 2 and threads >= 1
            assert (1 + shards) * (heap_gib + 1) <= ram_gib, (cpus, ram_gib)
            assert shards * threads <= max(cpus, 2 * shards), (cpus, ram_gib)


DIES = """
import os
import signal

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="module")
def jvm():
    return (
        SparkSession.builder.master("local[1]")
        .config("spark.driver.memory", "512m")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def test_kills_its_jvm(jvm):
    proc = jvm.sparkContext._gateway.proc
    os.kill(proc.pid, signal.SIGKILL)
    proc.wait()


def test_after_one(jvm):
    jvm.range(1).count()


def test_after_two(jvm):
    jvm.range(1).count()
"""


def test_dead_jvm_stops_the_session(tmp_path):
    (tmp_path / "test_dies.py").write_text(DIES)
    run = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "tests.conftest",
         "-p", "no:cacheprovider", str(tmp_path / "test_dies.py")],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    out = run.stdout + run.stderr
    assert run.returncode != 0, out
    assert "the Spark JVM exited with code -9 (SIGKILL" in out, out
    assert "test_kills_its_jvm" in out, out
    assert "ConnectionRefusedError" not in out, out
