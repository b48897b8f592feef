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
