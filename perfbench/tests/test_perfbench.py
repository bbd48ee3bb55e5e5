"""Tests of the benchmark itself (not of the program).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, session  # noqa: E402
from perfbench.spans import Tracer, parse_metric, self_seconds, Span  # noqa: E402
from perfbench.workloads import EagerOps, RulesFold, StreamStores  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = session.start(ROOT, str(tmp_path_factory.mktemp("perfbench")))
    yield s
    session.stop(s)


def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    names = [f for f in cmp.common_files]
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors and all(_same_tree(f"{a}/{d}", f"{b}/{d}") for d in cmp.common_dirs)


@pytest.mark.parametrize("wl", [RulesFold, EagerOps, StreamStores])
def test_generators_are_deterministic_per_seed(tmp_path, wl):
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        w = wl()
        w.generate(seed, str(tmp_path / tag))
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_rules_read_earlier_writes():
    rules = gen.fold_rules(3, 24)
    written = {v for r in rules for k, v in r.actions if k == "l_tag" and "`" not in v}
    assert any(f"l_tag = '{t}'" in r.condition for r in rules for t in written - set(gen.TAGS))
    assert any("`" in v for r in rules for _, v in r.actions)
    assert any(k.startswith("l_meta.") for r in rules for k, _ in r.actions)


def _engine_fold(spark, path, rules):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sparkplug_spark import SparkPlug
    from sparkplug_spark.models import rules_from_json_lines

    obs = Observation("t")
    df = spark.read.parquet(path)
    out = (
        SparkPlug.builder(spark).enable_plug_details().enable_metrics(obs).create()
        .plug(df, rules_from_json_lines(r.to_json() for r in rules))
    )
    row = out.agg(F.expr(oracle.row_digest_sql("spark")).alias("d"), F.count(F.lit(1)).alias("n")).collect()[0]
    return out, {"digest": row["d"], "n": row["n"], "changed": obs.get["changed"]}


def test_twin_agrees_on_order_and_null_conditions(spark, tmp_path):
    import numpy as np
    import pyarrow.parquet as pq

    path = str(tmp_path / "fold.parquet")
    pq.write_table(gen.fold_table(np.random.default_rng(5), 300), path)
    rules = [
        gen.Rule("first", "v1", "l_quantity > 10", (("l_tag", "tA"),)),
        # reads rule "first"'s write: order matters
        gen.Rule("second", "v1", "l_tag = 'tA'", (("l_returnflag", "Z"), ("l_meta.prio", "TOP"))),
        # NULL tag -> NULL condition -> no write, no details entry
        gen.Rule("third", "v2", "l_tag = 't1' OR l_tag IS NULL AND l_quantity < 0",
                 (("l_tag", "`l_tag || '-x'`"), ("l_discount", "0.07"))),
    ]
    out, got = _engine_fold(spark, path, rules)
    assert got == oracle.fold_twin(path, rules)
    counts = out.selectExpr(
        "count_if(l_returnflag = 'Z') AS z", "count_if(l_quantity > 10) AS q",
        "count_if(l_tag IS NULL AND size(plugDetails) > 0) AS null_changed",
    ).collect()[0]
    assert counts["z"] == counts["q"] > 0
    assert counts["null_changed"] == 0
    # the same rules in the other order give a different fold, and the
    # twin follows it
    swapped = [rules[1], rules[0], rules[2]]
    assert oracle.fold_twin(path, swapped) != oracle.fold_twin(path, rules)
    assert _engine_fold(spark, path, swapped)[1] == oracle.fold_twin(path, swapped)


def _small_fold(tmp_path) -> RulesFold:
    wl = RulesFold()
    wl.n_orders, wl.n_rules = 300, 8
    wl.generate(11, str(tmp_path / "in"))
    wl.oracle()
    return wl


def test_planted_wrong_rule_is_reported(spark, tmp_path):
    from perfbench.run import Run

    run = Run("rules_fold", 11, 1.0, False, [])
    run.work = str(tmp_path / "work")
    run.wl = _small_fold(tmp_path)
    run.spark = spark
    off = Tracer(spark, enabled=False)
    assert run.one_pass(off)[0] is not None and run.failed == 0
    lines = open(run.wl.rules_path).read().splitlines()
    rule = json.loads(lines[0])
    rule["condition"] = f"NOT ({rule['condition']})"
    lines[0] = json.dumps(rule)
    with open(run.wl.rules_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    run.one_pass(off)
    assert (run.attempted, run.failed) == (2, 1)


def test_metric_names_and_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [
        w["name"] for w in spec["workloads"]
    ]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(set(names)) == len(names)
    assert all(re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert {"setup_s", "cold_run_s", "run_s"} <= {m["name"] for m in spec["end_to_end"]}


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_tracing_off_launches_the_programs_jobs_only(spark, tmp_path):
    from pyspark.sql import functions as F

    from sparkplug_spark import SparkPlug
    from sparkplug_spark.sources import read_plug_rules
    from sparkplug_spark.validation import validate_rules

    wl = _small_fold(tmp_path)

    def plain():
        rules = read_plug_rules(spark, wl.rules_path)
        df = spark.read.parquet(wl.data)
        assert not validate_rules(df.schema, rules, spark=spark)
        out = SparkPlug.builder(spark).enable_plug_details().enable_metrics().create().plug(df, rules)
        out.agg(F.expr(oracle.row_digest_sql("spark")), F.count(F.lit(1))).collect()

    plain()  # warm the session
    n_plain = _jobs(spark, "plain", plain)
    n_off = _jobs(spark, "off", lambda: wl.run_pass(spark, Tracer(spark, enabled=False), str(tmp_path)))
    assert n_plain == n_off > 0
    on = Tracer(spark, enabled=True)
    on.trace_id = "t"
    with on.span("pass"):
        wl.run_pass(spark, on, str(tmp_path))
    assert len(on.jobs(on.pass_spans("t"))) == n_plain


def test_self_time_and_metric_parsing():
    parent = Span("t", 1, None, "p", 0.0, 10.0)
    kids = [Span("t", 2, 1, "a", 1.0, 4.0), Span("t", 3, 1, "b", 3.0, 5.0)]
    assert self_seconds(parent, kids) == pytest.approx(6.0)
    assert parse_metric("total (min, med, max (stageId: taskId))\n8.8 s (2.1 s, 2.2 s)") == pytest.approx(8.8)
    assert parse_metric("536.9 KiB") == pytest.approx(536.9 / 1024)
    assert parse_metric("44 ms") == pytest.approx(0.044)
