"""One timed set-up: process start to a usable session.

Set-up is the imports, ``session.get_spark`` on ``local[4]`` with four
shuffle partitions, and importing ``__spark_entry__`` plus building its
query registry. It stops before the first Spark job, which belongs to
the cold op.

``run.py`` calls :func:`timed_setup` in its own process and also runs
this file as a child, so that every sample starts from a fresh
interpreter and a fresh JVM::

    python3 perfbench/probe.py <repo root> <work dir>

prints one JSON line with the sample and exits after stopping the JVM.
"""

from __future__ import annotations

import json
import os
import sys
import time

CPUS = 4


def session_conf(work: str, event_log: str | None = None) -> dict[str, str]:
    """Spark conf for a benchmark session: the warehouse stays inside
    ``work``, the console stays quiet, and ``event_log`` (a directory)
    turns Spark's event log on."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def child_env(work: str) -> dict[str, str]:
    """Environment for the Spark driver: temp files of Python and of every JVM
    (the launcher's too) stay in ``work``, and the driver heap and its
    young generation are sized before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = tmp
    # a fixed young generation: left to G1's pause-time sizing, the
    # driver's peak RSS spread 35 % between runs of the same code
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn256m"
    env["SPARK_DRIVER_MEMORY"] = "2g"
    env["PYSPARK_PYTHON"] = sys.executable
    return env


def timed_setup(root: str, conf: dict[str, str], t_start: float | None = None):
    """Run the set-up and return ``(spark, timings)``.

    ``t_start`` is the process-start reference; it defaults to now."""
    t0 = time.perf_counter() if t_start is None else t_start
    if root not in sys.path:
        sys.path.insert(0, root)
    from cloud_native_medical_data_etl_pipeline_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    import __spark_entry__

    __spark_entry__.queries()
    t3 = time.perf_counter()
    return spark, {
        "import_s": t1 - t0,
        "get_spark_s": t2 - t1,
        "entry_s": t3 - t2,
        "setup_s": t3 - t0,
    }


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the JVM exits when its stdin closes
    proc.stdin.close()
    proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    t0 = time.perf_counter()
    root, work = argv[1], argv[2]
    spark, timings = timed_setup(root, session_conf(work), t0)
    print(json.dumps(timings), flush=True)
    stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
