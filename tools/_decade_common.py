"""What the tools under tools/ share: the test data paths (decade.py,
ab.py, plans.py) and handing the repo to Spark's Python workers before
a session starts (every tool that starts one)."""

from __future__ import annotations

import os

# Test data location, resolved as tests/conftest.py resolves it:
# ORACLE_SF_DIR names the sf0.001 set, the other scale factors sit next
# to it.
ORACLE_SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


def sf_dir(name: str) -> str:
    """The test data directory of scale factor ``name`` (e.g. "sf0.1")."""
    return os.path.join(os.path.dirname(ORACLE_SF_DIR), name)


def data_dir(default: str) -> str:
    """``$SPARK_GRAFT_SF_DIR`` (bench.py's test data variable) if set,
    else the scale factor ``default`` next to ``ORACLE_SF_DIR``."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or sf_dir(default)


def export_repo_to_workers(repo: str | None = None) -> None:
    """Put ``repo`` (default: this repo) on the PYTHONPATH of a JVM not
    yet started.

    Spark's Python workers start in the JVM's working directory; a tool
    run from anywhere else must hand them the repo, or they cannot
    unpickle the package's UDFs and Python data sources."""
    repo = repo or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p
    )
