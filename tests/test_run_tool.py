"""tools/run.py, the registry runner: its three verbs run in-process on the
test session, and a query that cannot run is an ERROR that does not stop
the loop."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from data_engineering_project_utn_spark.plans.registry import Query

CHEAP = ["rl_pricing_summary", "rl_nation_revenue"]


@pytest.fixture(scope="module")
def run_tool():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "run.py")
    spec = importlib.util.spec_from_file_location("run_tool", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_check_reports_ok_and_writes_sweep_record(run_tool, spark, sf_dir, capsys):
    """The sweep record is stdout: one JSON line per query, then the summary."""
    records, summary = run_tool.run(spark, "check", sf_dir, CHEAP)
    assert [records[n]["status"] for n in CHEAP] == ["OK", "OK"]
    assert (summary["queries"], summary["ok"], summary["failed"], summary["errors"]) == (2, 2, 0, 0)
    lines = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert lines == [records[n] for n in CHEAP] + [summary]


def test_time_records_reps_and_jobs(run_tool, spark, sf_dir):
    records, summary = run_tool.run(spark, "time", sf_dir, CHEAP[:1], reps=1)
    rec = records[CHEAP[0]]
    assert rec["status"] == "OK" and summary["ok"] == 1
    assert len(rec["reps"]) == 1 and rec["min"] == rec["median"] == rec["reps"][0]
    assert rec["jobs"] >= 1


def test_time_warm_rep_compiles_nothing(run_tool, spark, sf_dir):
    records, _ = run_tool.run(spark, "time", sf_dir, CHEAP[1:], reps=2)
    assert records[CHEAP[1]]["compiles"] == 0  # the first rep's classes stay cached


def test_time_warm_rep_builds_without_jobs(run_tool, spark, sf_dir):
    records, _ = run_tool.run(spark, "time", sf_dir, CHEAP[1:], reps=2)
    rec = records[CHEAP[1]]
    # its four load_table calls reuse the schemas the first rep inferred
    assert rec["build_jobs"] == 0 and rec["jobs"] >= 1


def test_plan_counts_exchanges_and_writes_explain(run_tool, spark, sf_dir, tmp_path):
    records, _ = run_tool.run(spark, "plan", sf_dir, CHEAP[:1], out=str(tmp_path))
    rec = records[CHEAP[0]]
    assert rec["status"] == "OK"
    assert {"exchanges", "broadcasts", "smj", "hazards"} <= set(rec)
    assert rec["exchanges"] >= 1  # a group-by aggregate shuffles
    assert "Physical Plan" in (tmp_path / f"{CHEAP[0]}.txt").read_text()


def test_unknown_or_raising_query_is_an_error_not_a_stop(
    run_tool, spark, sf_dir, monkeypatch
):
    def boom(spark, sf_dir):
        raise RuntimeError("build failed")

    registry = run_tool.all_queries()
    registry["boom"] = Query("boom", boom, "SELECT 1")
    monkeypatch.setattr(run_tool, "all_queries", lambda: registry)
    names = ["no_such_query", "boom", CHEAP[0]]
    records, summary = run_tool.run(spark, "check", sf_dir, names)
    assert [records[n]["status"] for n in names] == ["ERROR", "ERROR", "OK"]
    assert "KeyError" in records["no_such_query"]["error"]
    assert "build failed" in records["boom"]["error"]
    assert (summary["ok"], summary["errors"]) == (1, 2)
    assert summary["ok"] < summary["queries"]  # main() exits 1


def test_options_may_sit_between_positionals(run_tool, sf_dir):
    args, names = run_tool.parse_args(["time", sf_dir, "--reps", "1", CHEAP[0]])
    assert (args.verb, args.sf_dir, args.reps, names) == ("time", sf_dir, 1, [CHEAP[0]])


@pytest.mark.parametrize("verb", ["time", "check"])
def test_out_is_a_usage_error_except_for_plan(run_tool, sf_dir, verb, capsys):
    with pytest.raises(SystemExit) as exc:
        run_tool.parse_args([verb, sf_dir, CHEAP[0], "--out", "x"])
    assert exc.value.code == 2
    assert "--out applies to plan only" in capsys.readouterr().err
