from __future__ import annotations

import pytest
from pyspark import SparkContext

from novi_pdq_etl_project_prod_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

#: test function -> the tests/sweep.py check it asserts
SWEPT = {
    "test_oracle_parity": "parity",
    "test_partitioning_invariance": "invariance",
    "test_partitioning_invariance_no_oracle": "invariance",
}


@pytest.hookimpl(trylast=True)
def pytest_collection_modifyitems(config, items):
    # the parity and invariance names this session selected (trylast:
    # after -k/-m deselection): the sweep_reports fixture runs exactly
    # these, parity first
    config._sweep_selected = selected = {"parity": [], "invariance": []}
    for it in items:
        kind = SWEPT.get(getattr(it, "originalname", None))
        if kind:
            selected[kind].append(it.callspec.params["name"])


@pytest.hookimpl(trylast=True)
def pytest_runtest_logreport(report):
    # once the shared JVM is gone, every later Spark test would fail on a
    # refused py4j connection: stop the session and name the cause
    gateway = SparkContext._gateway
    if report.when != "teardown" or gateway is None:
        return
    rc = gateway.proc.poll()
    if rc is not None:
        cause = " (SIGKILL, usually the kernel OOM killer)" if rc == -9 else ""
        pytest.exit(
            f"the Spark JVM exited with code {rc}{cause} after "
            f"{report.nodeid}; stopping the test session"
        )


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from tests.sweep import host_sizing  # tests.sweep imports this module

    wh = tmp_path_factory.mktemp("spark_warehouse")
    heap, _, _ = host_sizing()
    s = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(wh),
            "spark.driver.memory": heap,
        },
    )
    yield s


@pytest.fixture(scope="session")
def sweep_reports(request):
    """{kind: {name: report}} from one worker pool over the selected
    parity and invariance names, or None to check them inline."""
    from tests import sweep  # tests.sweep imports this module

    selected = request.config._sweep_selected
    if sum(map(len, selected.values())) < sweep.MIN_SELECTED:
        return None
    return sweep.run_pool(selected)
