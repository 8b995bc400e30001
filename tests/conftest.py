from __future__ import annotations

import pytest

from etl_wlg_metlink_spark.session import build_session
from etl_wlg_metlink_spark.streaming import runners

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return build_session(app_name="etl_wlg_metlink_spark-tests", shuffle_partitions=4)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def made_dirs(monkeypatch):
    """Every temp dir runners creates during the test."""
    made = []
    real = runners._tracked_mkdtemp

    def tracked(prefix):
        made.append(real(prefix))
        return made[-1]

    monkeypatch.setattr(runners, "_tracked_mkdtemp", tracked)
    return made
