"""Validation's one-analysis dry run reports exactly what the per-rule dry
run reports.

``validate_rules`` analyzes every rule in ONE projection over one empty
frame and, only when that analysis fails, dry-runs the rules one by one.
Whatever the bad rule and wherever it sits in the set, the returned list
must equal ``validate_rule_sql`` applied rule by rule: same rules, same
order, byte-identical messages once expression ids are masked (an analysis
error prints the plan, and every new frame and analysis allocates fresh
``#<id>``s, so two per-rule dry runs of one rule never share them either).
"""

import re

import pytest

from sparkplug_spark import PlugAction, PlugRule
from sparkplug_spark.validation import validate_rule_sql, validate_rules

SCHEMA_DDL = (
    "id long, price double, qty long, status string, "
    "meta struct<reviewed: boolean, level: struct<n: int>>"
)
VIEW = "dry_run_parity_orders"


def _good_rules():
    return [
        PlugRule("fix-qty", "v1", "qty < 0", (PlugAction("qty", "0"),)),
        PlugRule(
            "flag-big", "v2", "price * qty > 1000 and status = 'open'",
            (
                PlugAction("status", "review"),
                PlugAction("meta.reviewed", "`qty > 100`"),
            ),
        ),
        PlugRule(
            "deep", "v1", "meta.level.n > 2",
            (PlugAction("meta.level.n", "`meta.level.n + 1`"),),
        ),
        # the full-SQL surface, as in examples/rules_engine.py
        PlugRule(
            "above-avg", "v1", f"price > (select avg(price) from {VIEW})",
            (PlugAction("status", "pricey"),),
        ),
        PlugRule(
            "qty-rank", "v1", "true",
            (PlugAction(
                "status",
                "`concat(status, '#', cast(row_number() over "
                "(order by qty desc, id) as string))`",
            ),),
        ),
    ]


BAD_RULES = {
    "undefined_function": PlugRule(
        "bad", "v1", "true", (PlugAction("status", "`no_such_fn(status)`"),)
    ),
    "unresolved_condition_column": PlugRule(
        "bad", "v1", "no_such_col > 1", (PlugAction("qty", "1"),)
    ),
    "uncoercible_case_branch": PlugRule(
        "bad", "v1", "qty > 1", (PlugAction("qty", "`array(1, 2)`"),)
    ),
    "parse_error": PlugRule(
        "bad", "v1", "qty >>> (", (PlugAction("qty", "1"),)
    ),
}


@pytest.fixture(scope="module")
def schema(spark):
    df = spark.createDataFrame([], SCHEMA_DDL)
    df.createOrReplaceTempView(VIEW)
    yield df.schema
    spark.catalog.dropTempView(VIEW)


def _masked(errors):
    return [(e.name, re.sub(r"#\d+L?", "#", e.error)) for e in errors]


def _per_rule(spark, schema, rules):
    return [e for r in rules for e in validate_rule_sql(spark, schema, r)]


def test_valid_set_with_subquery_and_window_is_clean(spark, schema):
    rules = _good_rules()
    assert _per_rule(spark, schema, rules) == []
    assert validate_rules(schema, rules, spark=spark) == []


@pytest.mark.parametrize("position", ["first", "middle", "last"])
@pytest.mark.parametrize("kind", sorted(BAD_RULES))
def test_one_bad_rule_matches_per_rule_dry_run(spark, schema, kind, position):
    rules = _good_rules()
    at = {"first": 0, "middle": len(rules) // 2, "last": len(rules)}[position]
    rules.insert(at, BAD_RULES[kind])
    got = validate_rules(schema, rules, spark=spark)
    assert _masked(got) == _masked(_per_rule(spark, schema, rules))
    assert [e.name for e in got] == ["bad"]
    assert got[0].error.startswith("[SQL Error] ")


def test_every_bad_rule_is_reported_in_order(spark, schema):
    rules = _good_rules()
    for i, (kind, bad) in enumerate(sorted(BAD_RULES.items())):
        rules.insert(2 * i, PlugRule(f"bad-{kind}", bad.version, bad.condition, bad.actions))
    got = validate_rules(schema, rules, spark=spark)
    assert _masked(got) == _masked(_per_rule(spark, schema, rules))
    assert [e.name for e in got] == [f"bad-{k}" for k in sorted(BAD_RULES)]
