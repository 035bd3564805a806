from __future__ import annotations

import pytest


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: spark-submit subprocess tests (minutes each)"
    )


@pytest.fixture(scope="session")
def spark():
    from ocr_endpoint_project_spark.session import build_session

    s = build_session(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
