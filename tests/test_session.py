"""Session defaults that reach the JVM processes, not only the SQL conf."""

import os


def test_session_caps_malloc_arenas_for_driver_and_executors(spark):
    cap = os.environ["MALLOC_ARENA_MAX"]
    assert spark.conf.get("spark.executorEnv.MALLOC_ARENA_MAX") == cap
    # the driver JVM was launched from this process and inherited the cap
    assert spark.sparkContext._jvm.java.lang.System.getenv("MALLOC_ARENA_MAX") == cap
