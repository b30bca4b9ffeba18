from __future__ import annotations

import tempfile

import pytest

from spanner_data_validator_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="sdv-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def temp_dirs_in_tmp_path(tmp_path, monkeypatch):
    """Every ``tempfile.mkdtemp`` of the test lands under its ``tmp_path``,
    which pytest prunes, instead of the system temp dir, which nothing
    cleans."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
