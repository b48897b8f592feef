def test_driver_jvm_runs_with_one_c2_compiler_thread(spark):
    # get_spark passes its JIT budget as spark.driver.extraJavaOptions;
    # this reads the flags the running driver JVM was started with.
    jvm = spark.sparkContext._jvm
    args = list(
        jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    assert "-XX:CICompilerCount=2" in args, args
