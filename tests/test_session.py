import os

import pytest

from cloud_native_medical_data_etl_pipeline_spark import session


def _management(spark):
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory


def test_driver_jvm_runs_with_one_c2_compiler_thread(spark):
    # get_spark passes its JIT budget and collector as
    # spark.driver.extraJavaOptions; this reads the flags the running
    # driver JVM was started with.
    args = list(_management(spark).getRuntimeMXBean().getInputArguments())
    assert "-XX:CICompilerCount=2" in args, args
    for option in session.driver_java_options().split():
        assert option in args, args


def test_driver_jvm_runs_the_parallel_collector(spark):
    for var in session._JVM_ENV_OPTIONS:
        if session.driver_java_options({var: os.environ.get(var, "")}) == session.DRIVER_JIT_OPTIONS:
            pytest.skip(f"{var} names the driver's collector")
    beans = _management(spark).getGarbageCollectorMXBeans()
    assert sorted(gc.getName() for gc in beans) == ["PS MarkSweep", "PS Scavenge"]


@pytest.mark.parametrize("var", ["JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS"])
@pytest.mark.parametrize("flag", ["-XX:+UseG1GC", "-XX:+UseSerialGC", "-XX:-UseParallelGC"])
def test_a_collector_named_in_the_jvm_environment_wins(var, flag):
    # a second collector on the command line would stop the JVM from
    # starting; the JIT budget stays either way
    options = session.driver_java_options({var: f"-Xmx1g {flag} -Dx=y"})
    assert options == "-XX:CICompilerCount=2"


def test_other_jvm_environment_options_keep_the_collector():
    environ = {"JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Xmn256m", "_JAVA_OPTIONS": ""}
    expected = "-XX:CICompilerCount=2 -XX:+UseParallelGC"
    assert session.driver_java_options(environ) == expected
    assert session.driver_java_options({}) == expected


ICU_CASE_MAPPINGS = "spark.sql.icu.caseMappings.enabled"
CACHED_PLAN_PARTITIONING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

# (input, upper, lower, initcap); initcap's ICU result is given where it
# differs from the JVM's. ASCII first, then a fixed non-ASCII sample:
# the sharp s, a Greek word ending in capital sigma (lower case ends
# in the final sigma), an accented capital, a CJK ideograph, Greek
# lower case and the dotted capital I.
CASE_SAMPLES = [
    ("hello world", "HELLO WORLD", "hello world", "Hello World"),
    ("o'neil mcdonald-smith", "O'NEIL MCDONALD-SMITH", "o'neil mcdonald-smith",
     "O'neil Mcdonald-smith"),
    ("  Phase 2/3\tEARLY_PHASE1 ", "  PHASE 2/3\tEARLY_PHASE1 ",
     "  phase 2/3\tearly_phase1 ", "  Phase 2/3\tearly_phase1 "),
    ("123abc x9Y", "123ABC X9Y", "123abc x9y", "123abc X9y"),
    # the JVM title-cases one code point to one, ICU to a full mapping
    ("ß", "SS", "ß", {"false": "ß", "true": "Ss"}),
    ("ΟΔΟΣ", "ΟΔΟΣ", "οδος", "Οδος"),
    ("É", "É", "é", "É"),
    ("中", "中", "中", "中"),
    ("δζ", "ΔΖ", "δζ", "Δζ"),
    # lower case keeps the dot as U+0307; the JVM title-cases the
    # lowered pair, ICU maps the letter back to U+0130 whole
    ("\u0130", "\u0130", "i\u0307", {"false": "I\u0307", "true": "\u0130"}),
]


def test_sessions_map_case_on_the_jvm(spark):
    # get_spark's session skips ICU case mapping's one-time table
    assert spark.conf.get(ICU_CASE_MAPPINGS) == "false"


def test_sessions_let_aqe_size_cached_frames(spark):
    # get_spark's session lets AQE coalesce a persisted frame's last
    # shuffle (a tiny day writes one file per partition)
    assert spark.conf.get(CACHED_PLAN_PARTITIONING) == "true"


def test_icu_and_jvm_case_mappings_agree_on_the_sample(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(s[0],) for s in CASE_SAMPLES], "s string")
    got = {}
    try:
        for value in ("true", "false"):
            spark.conf.set(ICU_CASE_MAPPINGS, value)
            rows = df.select("s", F.upper("s"), F.lower("s"), F.initcap("s")).collect()
            got[value] = {r[0]: tuple(r[1:]) for r in rows}
    finally:
        spark.conf.set(ICU_CASE_MAPPINGS, "false")
    for value in ("true", "false"):
        expected = {
            s: (up, low, cap[value] if isinstance(cap, dict) else cap)
            for s, up, low, cap in CASE_SAMPLES
        }
        assert got[value] == expected, value
