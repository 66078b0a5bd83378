"""Python-worker interpreter choice in ``session.get_spark``, checked on the
environment it sets (no session is started)."""

import os
import sys

import pytest

from geopull_spark import session

WRAPPER = os.path.join(os.path.dirname(os.path.abspath(session.__file__)), "pyworker.sh")


@pytest.fixture
def env(monkeypatch):
    for k in ("PYSPARK_PYTHON", "GEOPULL_BASE_PYTHON", "GEOPULL_WORKER_PYTHON"):
        monkeypatch.delenv(k, raising=False)
    return monkeypatch


def test_wrapper_wraps_driver_interpreter_by_default(env):
    """No PYSPARK_PYTHON: the wrapper runs the driver's own interpreter,
    not whatever ``python`` resolves to."""
    env.setattr(session, "_pyspark_zipped", lambda: False)
    assert session._worker_python() == WRAPPER
    assert os.environ["PYSPARK_PYTHON"] == WRAPPER
    assert os.environ["GEOPULL_BASE_PYTHON"] == sys.executable


def test_wrapper_wraps_configured_interpreter(env):
    env.setattr(session, "_pyspark_zipped", lambda: False)
    env.setenv("PYSPARK_PYTHON", "/usr/local/bin/python3.11")
    assert session._worker_python() == WRAPPER
    assert os.environ["GEOPULL_BASE_PYTHON"] == "/usr/local/bin/python3.11"
    # a second session keeps wrapping the same interpreter
    assert session._worker_python() == WRAPPER
    assert os.environ["GEOPULL_BASE_PYTHON"] == "/usr/local/bin/python3.11"


def test_zipped_pyspark_leaves_workers_alone(env):
    """pyspark served from SPARK_HOME's pyspark.zip: the wrapper would strip
    the zip from the worker path, so it is not engaged."""
    env.setattr(session, "_pyspark_zipped", lambda: True)
    assert session._worker_python() is None
    assert "PYSPARK_PYTHON" not in os.environ
    assert "GEOPULL_BASE_PYTHON" not in os.environ


def test_explicit_worker_python_wins(env):
    env.setenv("GEOPULL_WORKER_PYTHON", "/usr/bin/python3")
    assert session._worker_python() == "/usr/bin/python3"
    assert os.environ["PYSPARK_PYTHON"] == "/usr/bin/python3"


def test_zipped_detection_matches_import_path():
    import pyspark

    assert session._pyspark_zipped() == (".zip" + os.sep in pyspark.__file__)
