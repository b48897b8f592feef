"""Shared Spark REST stage-metric scraping, test data paths and the
no-option command line for the tools/*_decade.py evidence harnesses
(tools/ab.py and tools/plans.py use the test data paths).

Every decade harness measures the same way: cumulative completed-stage
metrics from the status REST API, deltas around a timed block.  One
copy here instead of one per harness, so a fix (a renamed REST field,
counting failed stages, a new metric) lands everywhere at once.
"""

from __future__ import annotations

import argparse
import json
import os
import urllib.request

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


def parse_cli(doc: str) -> None:
    """The harnesses take no options: ``--help`` prints the module
    docstring and exits before any Spark session starts."""
    argparse.ArgumentParser(
        description=doc, formatter_class=argparse.RawDescriptionHelpFormatter
    ).parse_args()


def api(spark, path):
    """GET a status REST endpoint for the live application."""
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/{path}") as r:
        return json.load(r)


def stages_by_id(spark):
    """All completed stages keyed by stageId (for per-stage diffing)."""
    return {st["stageId"]: st for st in api(spark, "stages?status=complete")}


def stage_totals(spark):
    """Cumulative input/shuffle totals over all completed stages."""
    tot = {
        "inputBytes": 0,
        "inputRecords": 0,
        "shuffleRead": 0,
        "shuffleWrite": 0,
    }
    for st in api(spark, "stages?status=complete"):
        tot["inputBytes"] += st.get("inputBytes", 0)
        tot["inputRecords"] += st.get("inputRecords", 0)
        tot["shuffleRead"] += st.get("shuffleReadBytes", 0)
        tot["shuffleWrite"] += st.get("shuffleWriteBytes", 0)
    return tot


def delta(before, after):
    """Per-key difference of two stage_totals() snapshots."""
    return {k: after[k] - before[k] for k in before}
