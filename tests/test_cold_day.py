"""What a fresh process's first ETL day loads.

A driver pod runs one day per process, so any one-time initialisation
the day triggers is paid in full every day.  Two that the day does not
need are kept out:

- Spark's ICU case mapping, whose first ``upper``/``lower`` builds a
  title-case table over every code point (``get_spark`` turns
  ``spark.sql.icu.caseMappings.enabled`` off);
- the ANTLR SQL parser, which a ``Column.cast`` with a type *string*
  starts (the day-path modules cast with ``pyspark.sql.types``
  instances).

The first test runs one small synthetic day through ``pipeline.run``
in a fresh interpreter and JVM, as a pod does, and reads the driver's
class-load log.  The second checks the day-path sources without Spark.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "cloud_native_medical_data_etl_pipeline_spark")

# the modules a pipeline day runs that build Column expressions
DAY_MODULES = (
    "functions/medical.py",
    "operators/transforms.py",
    "operators/enrich.py",
    "operators/quality.py",
)

# loaded by ICU case mapping's table and by the SQL parser's start-up
NOT_LOADED = (
    "com.ibm.icu.lang.UCharacter",
    "org.antlr.v4.runtime.atn.ATNDeserializer",
)


def _child(work: str) -> None:
    """One day in this fresh process; prints the run's status and
    leaves the driver's class-load log at ``work/class-load.log``."""
    sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]
    import gen

    from cloud_native_medical_data_etl_pipeline_spark import schemas, session
    from cloud_native_medical_data_etl_pipeline_spark.plans import pipeline
    from cloud_native_medical_data_etl_pipeline_spark.sources import lake

    size = gen.DaySize(events=200, trials=40, drugs=30, conditions=20)
    date = gen.write_day(work, 7, 0, size)
    log = os.path.join(work, "class-load.log")
    spark = session.get_spark(
        app_name="cold-day",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"{session.driver_java_options()} -Xlog:class+load=info:file={log}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    fda, ct = (
        lake.read_partition(spark, f"{work}/raw/{source}", date, schema=schema, fmt="json")
        for source, schema in (
            ("fda", schemas.FDA_EVENTS),
            ("clinicaltrials", schemas.CLINICAL_TRIALS),
        )
    )
    result = pipeline.run(spark, date, fda, ct, os.path.join(work, "lake"))
    print(json.dumps({"status": result.status, "enriched": result.enriched_records}))
    spark.stop()


def test_a_fresh_day_loads_neither_icu_case_mapping_nor_the_sql_parser(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(tmp),
        SPARK_DRIVER_MEMORY="1g",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
    )
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(tmp_path)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    run = json.loads(proc.stdout.strip().splitlines()[-1])
    assert run["status"] == "success" and run["enriched"] > 0, run

    with open(tmp_path / "class-load.log") as fh:
        loaded = {line.split()[1] for line in fh if "[class,load]" in line}
    # the log is the driver's: it saw the session and the day's jobs
    assert "org.apache.spark.SparkContext" in loaded
    assert "org.apache.spark.sql.execution.datasources.json.JsonFileFormat" in loaded
    assert [name for name in NOT_LOADED if name in loaded] == []


def string_casts(source: str, filename: str) -> list[str]:
    """``file:line`` of every ``.cast(...)`` whose argument is a string
    literal: Spark parses the type string with its SQL parser."""
    return [
        f"{filename}:{node.lineno}"
        for node in ast.walk(ast.parse(source, filename))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "cast"
        and any(isinstance(a, ast.Constant) and isinstance(a.value, str) for a in node.args)
    ]


@pytest.mark.parametrize("module", DAY_MODULES)
def test_day_modules_cast_with_type_instances(module):
    with open(os.path.join(PACKAGE, module)) as fh:
        assert string_casts(fh.read(), module) == []


def test_string_casts_finds_literal_type_strings():
    source = 'a.cast("double")\nb.cast(T.LongType())\nc.cast(\n    "long"\n)\n'
    assert string_casts(source, "m.py") == ["m.py:1", "m.py:3"]


if __name__ == "__main__":
    _child(sys.argv[1])
