"""The session JVM runs with the JIT policy ``get_spark`` passes it."""

from __future__ import annotations

from synthetic_data_pipeline_spark.session import JIT_POLICY


def test_jit_policy_in_live_jvm(spark):
    """Every flag of ``JIT_POLICY`` is on the running JVM's command line:
    Spark ignores ``spark.driver.extraJavaOptions`` once a JVM is up, so
    a session built another way would drop the policy silently."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = set(bean.getRuntimeMXBean().getInputArguments())
    flags = JIT_POLICY.split()
    assert flags and set(flags) <= args, sorted(args)
