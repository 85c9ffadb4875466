"""Session factory: the driver JVM's JIT flags and the shared SQL-conf table."""

from knowledge_graph_studio_spark.session import SQL_CONF, tune_sql_conf

# JDK 17's tier-4 (C2) defaults 5000 / 600 / 15000 / 40000, each x10
TIER4_FLAGS = [
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
]


def test_driver_jvm_launched_with_tier4_thresholds(spark):
    """get_spark's JVM carries every raised C2 threshold, and no later
    flag on the command line overrides one of them."""
    args = [str(a) for a in spark._jvm.java.lang.management.ManagementFactory
            .getRuntimeMXBean().getInputArguments()]
    for flag in TIER4_FLAGS:
        name = flag.split("=")[0] + "="
        last = [a for a in args if a.startswith(name)][-1:]
        assert last == [flag], (flag, args)


def test_tune_sql_conf_applies_the_get_spark_table(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    assert all(spark.conf.get(k) == v for k, v in SQL_CONF.items())
    spark.conf.set(key, "7")
    try:
        tune_sql_conf(spark)
        assert spark.conf.get(key) == SQL_CONF[key]
    finally:
        spark.conf.set(key, SQL_CONF[key])
