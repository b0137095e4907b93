"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB north star, not just local tests:

* AQE on (runtime coalesce, skew-join splitting, dynamic broadcast) —
  replaces the reference's hand-tuned batch sizes (producer_Final.py:291).
* ``spark.sql.session.timeZone=UTC`` — the reference mixes pandas ns
  timestamps and DuckDB µs timestamps (SURVEY.md §7.2); we pin everything
  to UTC µs so results are reproducible across engines.
* Arrow enabled — every Python-side exchange (Pandas UDFs, toPandas) is
  columnar-batched, never row-at-a-time.
* Shuffle partitions default to 2×cores locally; on a real cluster this is
  overridden by AQE coalescing from an intentionally-high initial number.
* Codegen cache of ``CODEGEN_CACHE_ENTRIES`` classes.  Spark keeps every
  generated class in one JVM-wide LRU, 100 entries by default, and a
  class evicted from it is compiled again and runs un-JITed.  At the
  default, one ``redset_replay`` hop of ``perfbench/`` compiled 92-100
  classes and one pass of the ``analyst_queries`` mix 305-311 of its
  working set of 379: every op recompiled its code.  With 1000 entries a
  hop compiles 3 and a pass 6.  The cache is sized once per JVM, from
  ``SQLConf.get`` on whichever thread compiles first; a thread with no
  active session (a pool thread planning ``df.rdd``, as
  ``llm.compute.parallelize_compute`` does) reads Spark's fallback conf
  and fixes it at 100 whatever the session says.  ``get_spark`` therefore
  initialises Spark's ``CodeGenerator`` singleton eagerly, on its own
  thread where the session is active, with a static field read.  It runs
  no job, but it loads the ~900 classes the first compile would load,
  which moves about half a second from the first query to session start.
  The conf is static, so a session built elsewhere (the external driver's
  vanilla session, see ``tables._ensure_session_confs``) keeps Spark's
  default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At least 2.5x the largest measured working set (379 classes, see above).
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "utn-analytics-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) for tests; on a cluster, leave unset and submit normally.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
        except ValueError:
            n = 0
        shuffle_partitions = max(32, n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata stores nanosecond timestamps; Spark refuses NANOS
        # columns unless read as long (converted to µs in tables.load_table,
        # matching DuckDB's silent ns→µs truncation)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Build the codegen cache now, on this thread where the session is
    # active (see the module docstring).  Private surface: a Spark upgrade
    # that moves it must fail here, loudly.
    spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.MAX_JVM_METHOD_PARAMS_LENGTH()
    return spark
