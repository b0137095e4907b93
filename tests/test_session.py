"""Session lifecycle checks, each in a fresh Python process with its own JVM.

* session.get_spark sizes Spark's codegen cache to the engine's working
  set.  Spark builds its generated-class cache once per JVM, from the SQL
  conf of the first thread that compiles; the shared test session's JVM
  has long done that.
* The package's memos survive ``spark.stop()`` and a new session without
  serving or pinning the stopped session's frames; stopping the shared
  test session would end every later test.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_DEFAULT_ENTRIES = 100
N_QUERIES = 120  # one generated class each, so one pass outgrows Spark's default

SCRIPT = textwrap.dedent(
    """
    import json, sys, threading
    sys.path.insert(0, {repo!r})
    from data_engineering_project_utn_spark.llm.compute import parallelize_compute
    from data_engineering_project_utn_spark.session import get_spark
    from data_engineering_project_utn_spark.tables import load_table

    spark = get_spark(
        app_name="codegen-cache", master="local[2]", shuffle_partitions=2,
        extra_conf={{"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"}},
    )
    spark.sparkContext.setLogLevel("ERROR")
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    # The first compile of the process, from a thread with no active session:
    # df.rdd plans and compiles outside any SQL execution.
    errors = []
    def first():
        try:
            parallelize_compute(load_table(spark, {sf_dir!r}, "documents"))
        except Exception as exc:
            errors.append(repr(exc))
    t = threading.Thread(target=first)
    t.start()
    t.join()
    assert not errors, errors

    def one_pass():  # df.rdd compiles a query's whole-stage class and runs no job
        before = compiles.getCount()
        for i in range({n}):
            spark.range(2).selectExpr(f"id * {{i}} + {{i}} AS x").rdd
        return compiles.getCount() - before

    print(json.dumps({{"first": one_pass(), "second": one_pass()}}))
    spark.stop()
    """
)


def test_codegen_cache_holds_a_working_set_above_spark_default(sf_dir):
    script = SCRIPT.format(repo=REPO, sf_dir=sf_dir, n=N_QUERIES)
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    counts = json.loads(proc.stdout.strip().splitlines()[-1])
    assert counts["first"] > SPARK_DEFAULT_ENTRIES, counts  # the pass outgrows the default
    assert counts["second"] == 0, counts  # and every class is reused warm


MEMO_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from data_engineering_project_utn_spark.plans import all_queries
    from data_engineering_project_utn_spark.plans.events_shared import _OUTPUT_TABLE_CACHE
    from data_engineering_project_utn_spark.session import get_spark
    from data_engineering_project_utn_spark.tables import load_table

    def session():
        spark = get_spark(
            app_name="memo-after-stop", master="local[2]", shuffle_partitions=2,
            extra_conf={{"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"}},
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def builds(spark):
        return [
            sorted(map(repr, df.collect()))
            for df in (all_queries()["ri_output_freshness"].build(spark, {sf_dir!r}),
                       load_table(spark, {sf_dir!r}, "orders"))
        ]

    spark = session()
    cold = builds(spark)
    spark.stop()
    spark = session()
    warm = builds(spark)
    stale = [k for k, (_, df) in _OUTPUT_TABLE_CACHE.items() if df.sparkSession is not spark]
    print(json.dumps({{"equal": warm == cold, "rows": [len(r) for r in warm], "stale": stale}}))
    spark.stop()
    """
)


def test_memos_reused_after_stop_serve_the_new_session(sf_dir):
    script = MEMO_SCRIPT.format(repo=REPO, sf_dir=sf_dir)
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["equal"] and min(out["rows"]) > 0, out  # equal to the cold builds
    assert out["stale"] == [], out  # no frame of the stopped session is kept
