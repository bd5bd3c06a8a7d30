from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from churn_model_evaluation_platform_spark.session import get_spark

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_AUDIT_TEST = "test_full_registry_type_parity"
_AUDIT_SF = "/root/testdata/sf0.001"
_audit: dict = {}


def _audit_data_copy() -> str:
    """A copy of the audit's dataset under its own directory name.

    Registry queries key their scratch tables and fixtures under /tmp by
    the dataset directory's basename, so a copy named apart lets the
    audit run beside tests that drive the same queries on the original.
    The copy keeps file mtimes, so the fixture cache keys stay stable."""
    dest = os.path.join(
        tempfile.gettempdir(), "churnspark_type_audit", "sf0_001_audit"
    )
    shutil.copytree(_AUDIT_SF, dest, dirs_exist_ok=True)
    return dest


def pytest_collection_finish(session):
    """Start the full type-parity audit (tests/test_type_parity_full.py)
    as soon as it is selected. It runs for minutes in its own JVM; at
    low priority beside the rest of the suite it uses cores the suite
    leaves idle, and its test only collects the result."""
    if session.config.option.collectonly or not any(
        item.name == _AUDIT_TEST for item in session.items
    ):
        return
    out = tempfile.TemporaryFile(mode="w+")
    proc = subprocess.Popen(
        [
            sys.executable,
            os.path.join(_ROOT, "tools", "type_parity_audit.py"),
            _audit_data_copy(),
        ],
        stdout=out,
        stderr=subprocess.STDOUT,
        cwd=_ROOT,
        preexec_fn=lambda: os.nice(10),
    )
    _audit.update(proc=proc, out=out)


def pytest_sessionfinish(session):
    proc = _audit.get("proc")
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait()


@pytest.fixture
def type_parity_audit():
    """(returncode, output) of the audit started at collection."""
    proc, out = _audit["proc"], _audit["out"]
    proc.wait(timeout=1200)
    out.seek(0)
    return proc.returncode, out.read()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="churn_model_evaluation_platform_spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def churn_rows():
    """FIXTURES.md F5: 4-row churn-shaped frame, every feature [1,2,3,4],
    churn [0,1,0,1]."""
    from churn_model_evaluation_platform_spark.schema import NUMERICAL_COLUMNS

    cols = NUMERICAL_COLUMNS + ["churn"]
    rows = [tuple(float(i + 1) for _ in NUMERICAL_COLUMNS) + (i % 2,) for i in range(4)]
    return cols, rows


@pytest.fixture
def churn_df(spark, churn_rows):
    cols, rows = churn_rows
    return spark.createDataFrame(rows, cols)
