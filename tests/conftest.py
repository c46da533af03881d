from __future__ import annotations

import sys
import pathlib

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


def pytest_configure(config):
    # a DeprecationWarning raised from engine code (e.g. NumPy's
    # out-of-bound int conversion) is a latent bug: fail the test
    config.addinivalue_line("filterwarnings", "error::DeprecationWarning:engine")


@pytest.fixture(scope="session")
def spark():
    from engine.session import get_spark

    s = get_spark("local[4]", shuffle_partitions=4, app_name="engine-tests")
    yield s
