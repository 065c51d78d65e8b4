"""Tests of the benchmark's own pieces; run with
``python -m pytest perfbench/tests -q`` from the repository root."""

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from cloud_data_quality_spark.sources.session import get_spark

    local = tmp_path_factory.mktemp("spark-local")
    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  extra_conf={"spark.local.dir": str(local),
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()
