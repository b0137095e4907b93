#!/usr/bin/env python
"""Registry runner: one loop over registered queries, three verbs.

Usage::

    python tools/run.py time  <sf_dir> (<name>... | --tag T | --all) [--reps N]
    python tools/run.py check <sf_dir> (<name>... | --tag T | --all)
    python tools/run.py plan  <sf_dir> (<name>... | --tag T | --all) [--out DIR]

For each query the runner releases the tracked persists (``persist.py``),
clears Spark's cache, builds the query under the job group
``run:<verb>:<name>`` and acts on it:

* ``time`` computes the result in full through the ``noop`` sink, ``--reps``
  times (``count()`` would let the optimizer prune columns and whole
  operators), and records each rep's seconds, their minimum and median,
  the Spark jobs one build-and-compute launches (``jobs``), those of them
  launched inside ``q.build`` (``build_jobs``, run under the job group
  ``run:time:<name>:build``) and the classes Spark's code generator
  compiled for it (``compiles``), all of the last rep.  Job counts do not
  depend on machine load, so they are the evidence for a change that
  removes jobs from a driver loop or from a build.  ``compiles`` is the
  rise of ``CodegenMetrics.METRIC_COMPILATION_TIME``'s count, which Spark
  bumps once per generated class it compiles, that is once per miss of
  its JVM-wide codegen cache; a warm rep whose classes all stay cached
  reads 0.
* ``check`` compares the result with the query's DuckDB oracle
  (``tests.oracle_harness.compare``: row count, column set and an
  order-insensitive full-precision value hash).
* ``plan`` counts hash, range and round-robin exchanges, broadcast
  exchanges, sort-merge joins and plan hazards in the executed plan; with
  ``--out DIR`` it also writes ``.explain("formatted")`` to
  ``DIR/<name>.txt``.

Each query prints one JSON line whose ``status`` is OK, FAIL (oracle
mismatch) or ERROR (the lookup, build, action or oracle raised; the
traceback goes to stderr and the loop goes on).  The run ends with one
summary line and exits non-zero unless every query is OK.

The end-to-end benchmark is ``perfbench/``; this tool isolates queries.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_project_utn_spark.persist import release_persisted  # noqa: E402
from data_engineering_project_utn_spark.plans import all_queries  # noqa: E402
from data_engineering_project_utn_spark.session import get_spark  # noqa: E402
from tests.oracle_harness import compare  # noqa: E402

EXCHANGES = (
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "Exchange RoundRobinPartitioning",
)
HAZARDS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "Exchange SinglePartition",
)


def _build(spark, q, sf_dir):
    release_persisted()  # drop the tracked handles before the cache they name
    spark.catalog.clearCache()
    return q.build(spark, sf_dir)


def _time(spark, q, sf_dir, group, reps, out):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    compiled = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    build_group = f"{group}:build"
    secs = []
    for _ in range(reps):
        before = set(tracker.getJobIdsForGroup(group))
        build_before = set(tracker.getJobIdsForGroup(build_group))
        compiled_before = compiled.getCount()
        t0 = time.perf_counter()
        sc.setJobGroup(build_group, q.name)  # run() clears the group if this raises
        df = _build(spark, q, sf_dir)
        sc.setJobGroup(group, q.name)
        df.write.format("noop").mode("overwrite").save()
        secs.append(round(time.perf_counter() - t0, 3))
        build_jobs = len(set(tracker.getJobIdsForGroup(build_group)) - build_before)
        jobs = build_jobs + len(set(tracker.getJobIdsForGroup(group)) - before)
        compiles = compiled.getCount() - compiled_before
    return {
        "status": "OK",
        "reps": secs,
        "min": min(secs),
        "median": round(statistics.median(secs), 3),
        "jobs": jobs,  # of the last rep
        "build_jobs": build_jobs,  # of the last rep
        "compiles": compiles,  # of the last rep
    }


def _check(spark, q, sf_dir, group, reps, out):
    if q.oracle is None:
        raise ValueError(f"{q.name} has no oracle")
    r = compare(_build(spark, q, sf_dir), q.oracle, sf_dir)
    if r["rows_match"] and r["cols_match"] and r["values_match"]:
        return {"status": "OK"}
    keys = ("rows_match", "cols_match", "values_match", "first_diff")
    return {"status": "FAIL", **{k: r[k] for k in keys}}


def _plan(spark, q, sf_dir, group, reps, out):
    qe = _build(spark, q, sf_dir)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    if out:
        os.makedirs(out, exist_ok=True)
        formatted = spark.sparkContext._jvm.PythonSQLUtils.explainString(qe, "formatted")
        with open(os.path.join(out, f"{q.name}.txt"), "w", encoding="utf-8") as fh:
            fh.write(formatted)
    return {
        "status": "OK",
        "exchanges": sum(plan.count(x) for x in EXCHANGES),
        "broadcasts": plan.count("BroadcastExchange"),
        "smj": plan.count("SortMergeJoin"),
        "hazards": {h: plan.count(h) for h in HAZARDS if h in plan},
    }


VERBS = {"time": _time, "check": _check, "plan": _plan}


def run(spark, verb, sf_dir, names, reps=5, out=None):
    """Run ``verb`` over ``names`` in order; return (records, summary)."""
    queries = all_queries()
    act = VERBS[verb]
    sc = spark.sparkContext
    records = {}
    t_run = time.perf_counter()
    for name in names:
        group = f"run:{verb}:{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            rec = act(spark, queries[name], sf_dir, group, reps, out)
        except Exception as exc:  # noqa: BLE001 - one query must not stop the run
            traceback.print_exc()
            rec = {"status": "ERROR", "error": f"{type(exc).__name__}: {exc}"[:300]}
        finally:
            sc.setJobGroup(None, None)
        records[name] = {"query": name, **rec, "sec": round(time.perf_counter() - t0, 3)}
        print(json.dumps(records[name]), flush=True)
    status = Counter(r["status"] for r in records.values())
    summary = {
        "summary": verb,
        "sf": sf_dir,
        "queries": len(records),
        "ok": status["OK"],
        "failed": status["FAIL"],
        "errors": status["ERROR"],
        "total_sec": round(time.perf_counter() - t_run, 1),
    }
    print(json.dumps(summary), flush=True)
    return records, summary


def parse_args(argv=None):
    """Parse the command line; return (args, query names in run order).
    Options may sit between positionals (``time <dir> --reps 2 q1 q2``)."""
    p = argparse.ArgumentParser(
        description="Run registry queries: time, check against the oracle, or audit plans."
    )
    p.add_argument("verb", choices=VERBS)
    p.add_argument("sf_dir")
    p.add_argument("names", nargs="*", help="query names, in run order")
    p.add_argument("--tag", help="every query carrying this registry tag")
    p.add_argument("--all", action="store_true", help="the whole registry")
    p.add_argument("--reps", type=int, default=5, help="timed builds per query (time)")
    p.add_argument("--out", help="directory for formatted explains (plan)")
    args = p.parse_intermixed_args(argv)
    if sum((bool(args.names), args.tag is not None, args.all)) != 1:
        p.error("select queries by name, by --tag or by --all, exactly one way")
    if args.reps < 1:
        p.error("--reps must be at least 1")
    if args.out and args.verb != "plan":
        p.error("--out applies to plan only")
    if args.names:
        names = list(dict.fromkeys(args.names))
    else:
        names = sorted(
            n for n, q in all_queries().items() if args.all or args.tag in q.tags
        )
    if not names:
        p.error(f"no query carries the tag {args.tag!r}")
    return args, names


def main(argv=None) -> int:
    args, names = parse_args(argv)
    spark = get_spark(app_name=f"utn-run-{args.verb}")
    spark.sparkContext.setLogLevel("ERROR")
    _, summary = run(spark, args.verb, args.sf_dir, names, args.reps, args.out)
    return 0 if summary["ok"] == summary["queries"] else 1


if __name__ == "__main__":
    sys.exit(main())
