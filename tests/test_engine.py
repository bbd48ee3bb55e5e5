"""End-to-end engine behavior — pytest port of the reference's contract
(``SparkPlugSpec.scala``, matrix in SURVEY §5)."""

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from sparkplug_spark import (
    PlugAction,
    PlugRule,
    PlugRuleValidationException,
    SparkPlug,
)
from pyspark.sql import Observation


def products_df(spark):
    # TestRow fixture (SparkPlugSpec.scala:24)
    return spark.createDataFrame(
        [
            ("iPhone", "Apple", 300),
            ("Galaxy", "Samsung", 200),
            ("Lumia", "Nokia", 100),
        ],
        schema=T.StructType(
            [
                T.StructField("title", T.StringType()),
                T.StructField("brand", T.StringType()),
                T.StructField("price", T.IntegerType()),
            ]
        ),
    )


def nested_df(spark):
    # TestRowWithStruct fixture (SparkPlugSpec.scala:40-45); includes a NULL struct.
    schema = T.StructType(
        [
            T.StructField("title", T.StringType()),
            T.StructField("brand", T.StringType()),
            T.StructField(
                "price",
                T.StructType(
                    [
                        T.StructField("minPrice", T.DoubleType()),
                        T.StructField("maxPrice", T.DoubleType()),
                        T.StructField("availability", T.StringType()),
                    ]
                ),
            ),
        ]
    )
    return spark.createDataFrame(
        [
            ("iPhone", "Apple", (300.0, 400.0, "available")),
            ("Galaxy", "Samsung", (200.0, 300.0, "not available")),
            ("Lumia", "Nokia", None),
        ],
        schema=schema,
    )


RULE1 = PlugRule(
    "rule1",
    "version1",
    "title like '%iPhone%'",
    (PlugAction("title", "Apple iPhone"), PlugAction("price", "1000")),
)
RULE2 = PlugRule("rule2", "version1", "title like '%Galaxy%'", (PlugAction("price", "700"),))


def test_empty_rules_is_identity(spark):
    # SparkPlugSpec.scala:114-118
    df = products_df(spark)
    out = SparkPlug.builder(spark).create().plug(df, [])
    assert out.collect() == df.collect()
    assert out.schema == df.schema


def test_plug_details_column_added(spark):
    # SparkPlugSpec.scala:120-133
    df = products_df(spark)
    out = SparkPlug.builder(spark).enable_plug_details().create().plug(df, [])
    assert "plugDetails" in out.columns
    assert out.schema["plugDetails"].dataType.simpleString() == (
        "array<struct<name:string,version:string,fieldNames:array<string>>>"
    )
    assert all(r["plugDetails"] == [] for r in out.collect())

    out2 = (
        SparkPlug.builder(spark)
        .enable_plug_details(column="overrideDetails")
        .create()
        .plug(df, [])
    )
    assert "overrideDetails" in out2.columns


def test_basic_rule_application(spark):
    # SparkPlugSpec.scala:194-219
    df = products_df(spark)
    out = SparkPlug.builder(spark).create().plug(df, [RULE1, RULE2])
    rows = {r["brand"]: r for r in out.collect()}
    assert rows["Apple"]["title"] == "Apple iPhone"
    assert rows["Apple"]["price"] == 1000
    assert rows["Samsung"]["price"] == 700
    assert rows["Nokia"]["price"] == 100
    assert out.schema == df.schema  # no residual columns


def test_sequential_visibility(spark):
    # rule k+1 sees rule k's writes (SparkPlug.scala:42-50)
    df = products_df(spark)
    r1 = PlugRule("a", "v1", "title = 'Lumia'", (PlugAction("brand", "Microsoft"),))
    r2 = PlugRule("b", "v1", "brand = 'Microsoft'", (PlugAction("price", "42"),))
    out = SparkPlug.builder(spark).create().plug(df, [r1, r2])
    row = [r for r in out.collect() if r["title"] == "Lumia"][0]
    assert row["brand"] == "Microsoft" and row["price"] == 42


def test_validation_errors_surface(spark):
    # SparkPlugSpec.scala:135-161
    df = products_df(spark)
    plugger = SparkPlug.builder(spark).enable_rules_validation().create()
    bad_field = PlugRule("r", "v", "true", (PlugAction("nope", "1"),))
    with pytest.raises(PlugRuleValidationException) as ei:
        plugger.plug(df, [bad_field])
    assert 'Field "nope" not found in the schema.' in str(ei.value)

    bad_value = PlugRule("r", "v", "true", (PlugAction("price", "abc"),))
    with pytest.raises(PlugRuleValidationException) as ei:
        plugger.plug(df, [bad_value])
    assert 'Value "abc" cannot be assigned to field price.' in str(ei.value)


def test_one_version_per_rule(spark):
    # SparkPlugSpec.scala:163-192
    df = products_df(spark)
    plugger = SparkPlug.builder(spark).enable_rules_validation().create()
    r_a = PlugRule("dup", "v1", "true", (PlugAction("price", "1"),))
    r_b = PlugRule("dup", "v2", "true", (PlugAction("price", "2"),))
    with pytest.raises(PlugRuleValidationException) as ei:
        plugger.plug(df, [r_a, r_b])
    assert "Only one version per rule should be applied." in str(ei.value)


def test_sql_dry_run_validation(spark):
    # SparkPlugSpec.scala:315-329 — undefined function 'conc'
    df = products_df(spark)
    plugger = SparkPlug.builder(spark).enable_rules_validation().create()
    bad_sql = PlugRule(
        "r", "v", "true", (PlugAction("title", "`conc(brand, ' ', title)`"),)
    )
    with pytest.raises(PlugRuleValidationException) as ei:
        plugger.plug(df, [bad_sql])
    assert "[SQL Error]" in str(ei.value)


def test_derived_values_backtick_sql(spark):
    # SparkPlugSpec.scala:331-357
    df = products_df(spark)
    rule = PlugRule(
        "r", "v", "true", (PlugAction("title", "`concat(brand, ' ', title)`"),)
    )
    out = SparkPlug.builder(spark).create().plug(df, [rule])
    titles = {r["brand"]: r["title"] for r in out.collect()}
    assert titles == {
        "Apple": "Apple iPhone",
        "Samsung": "Samsung Galaxy",
        "Nokia": "Nokia Lumia",
    }


def test_keep_old_field(spark):
    # SparkPlugSpec.scala:221-253
    df = products_df(spark)
    out = (
        SparkPlug.builder(spark)
        .keep_old_field()
        .create()
        .plug(df, [RULE1, RULE2])
    )
    assert "title_rule1_old" in out.columns
    assert "price_rule1_old" in out.columns
    assert "price_rule2_old" in out.columns
    rows = {r["brand"]: r for r in out.collect()}
    assert rows["Apple"]["title_rule1_old"] == "iPhone"
    assert rows["Apple"]["price_rule1_old"] == 300
    # rule2's old column sees rule1's output (sequential semantics)
    assert rows["Apple"]["price_rule2_old"] == 1000


def test_struct_field_override_and_null_struct_preserved(spark):
    # SparkPlugSpec.scala:359-395
    df = nested_df(spark)
    rule = PlugRule(
        "r", "v", "title like '%iPhone%'", (PlugAction("price.minPrice", "1000.0"),)
    )
    out = SparkPlug.builder(spark).create().plug(df, [rule])
    rows = {r["title"]: r for r in out.collect()}
    assert rows["iPhone"]["price"]["minPrice"] == 1000.0
    assert rows["iPhone"]["price"]["maxPrice"] == 400.0
    assert rows["Galaxy"]["price"]["minPrice"] == 200.0
    assert rows["Lumia"]["price"] is None  # null struct stays null
    assert out.schema == df.schema


def test_two_actions_same_struct(spark):
    # reference quirk Q2 (README.md:143-159) — fixed by chained withField
    df = nested_df(spark)
    rule = PlugRule(
        "r",
        "v",
        "title = 'iPhone'",
        (
            PlugAction("price.minPrice", "1000.0"),
            PlugAction("price.maxPrice", "2000.0"),
        ),
    )
    out = SparkPlug.builder(spark).create().plug(df, [rule])
    row = {r["title"]: r for r in out.collect()}["iPhone"]
    assert row["price"]["minPrice"] == 1000.0
    assert row["price"]["maxPrice"] == 2000.0
    assert row["price"]["availability"] == "available"


def test_plug_details_recorded_per_rule(spark):
    # SparkPlugSpec.scala:397-533
    df = products_df(spark)
    out = (
        SparkPlug.builder(spark)
        .enable_plug_details()
        .create()
        .plug(df, [RULE1, RULE2])
    )
    rows = {r["brand"]: r for r in out.collect()}
    apple = rows["Apple"]["plugDetails"]
    assert len(apple) == 1
    assert apple[0]["name"] == "rule1"
    assert apple[0]["version"] == "version1"
    assert list(apple[0]["fieldNames"]) == ["title", "price"]
    assert len(rows["Samsung"]["plugDetails"]) == 1
    assert rows["Nokia"]["plugDetails"] == []


def test_plug_details_change_gate_null_safe(spark):
    # a rule matching but writing an identical value does NOT append details
    # (<=> gate, PlugRule.scala:58; accumulator test SparkPlugSpec.scala:282-313)
    df = products_df(spark)
    noop_rule = PlugRule(
        "noop", "v1", "title = 'iPhone'", (PlugAction("price", "300"),)
    )
    out = (
        SparkPlug.builder(spark)
        .enable_plug_details()
        .create()
        .plug(df, [noop_rule])
    )
    assert all(r["plugDetails"] == [] for r in out.collect())


def test_custom_plug_details_entry(spark):
    # custom UDF extension point (SparkPlugSpec.scala:47-65) as a callback
    from pyspark.sql import Column

    def entry(rule) -> Column:
        return F.struct(
            F.lit(rule.name).alias("ruleId"),
            F.array(*[F.lit(k) for k in rule.field_names]).alias("fieldNames"),
            F.lit(rule.version).alias("ruleVersion"),
        )

    ddl = "array<struct<ruleId:string,fieldNames:array<string>,ruleVersion:string>>"
    df = products_df(spark)
    out = (
        SparkPlug.builder(spark)
        .enable_plug_details(column="overrideDetails", entry_builder=entry, schema_ddl=ddl)
        .create()
        .plug(df, [RULE1])
    )
    row = {r["brand"]: r for r in out.collect()}["Apple"]
    assert row["overrideDetails"][0]["ruleId"] == "rule1"
    assert row["overrideDetails"][0]["ruleVersion"] == "version1"


def test_metrics_changed_count(spark):
    # accumulator semantics via observe (SparkPlugSpec.scala:282-313):
    # 3rd rule matches but writes an already-set value -> not counted
    df = products_df(spark)
    obs = Observation("sparkplug-test")
    rule3 = PlugRule("rule3", "v1", "title = 'Apple iPhone'", (PlugAction("price", "1000"),))
    plugger = SparkPlug.builder(spark).enable_metrics(obs).create()
    out = plugger.plug(df, [RULE1, RULE2, rule3])
    out.count()  # trigger action
    assert obs.get["changed"] == 2
    assert obs.get["total"] == 3


def test_metrics_without_details_auto_enables(spark):
    # direct construction with metrics but no details must not AttributeError
    # (details are implied, as enable_metrics documents)
    df = products_df(spark)
    obs = Observation("sparkplug-direct")
    out = SparkPlug(spark, metrics_observation=obs).plug(df, [RULE1, RULE2])
    out.count()
    assert obs.get["changed"] == 2


def test_checkpointing_path(spark, tmp_path):
    # SparkPlugSpec.scala:255-280
    df = products_df(spark)
    out = (
        SparkPlug.builder(spark)
        .enable_checkpointing(str(tmp_path / "ckpt"), rules_per_stage=1, num_partitions=2)
        .create()
        .plug(df, [RULE1, RULE2])
    )
    rows = {r["brand"]: r for r in out.collect()}
    assert rows["Apple"]["price"] == 1000 and rows["Samsung"]["price"] == 700


def test_lenient_coercion_writes_null(spark):
    # reference quirk Q3 (PlugRule.scala:129) behind lenient=True
    df = products_df(spark)
    rule = PlugRule("r", "v", "title = 'iPhone'", (PlugAction("price", "abc"),))
    out = SparkPlug(spark, lenient=True).plug(df, [rule])
    row = {r["brand"]: r for r in out.collect()}["Apple"]
    assert row["price"] is None
    with pytest.raises(PlugRuleValidationException):
        SparkPlug(spark).plug(df, [rule])  # strict mode raises


def test_deep_nested_struct_override(spark):
    # reference quirk Q4 fixed: arbitrary depth in validate AND apply
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField(
                "a",
                T.StructType(
                    [
                        T.StructField(
                            "b",
                            T.StructType([T.StructField("c", T.IntegerType())]),
                        )
                    ]
                ),
            ),
        ]
    )
    df = spark.createDataFrame([(1, ((5,),)), (2, None)], schema=schema)
    rule = PlugRule("deep", "v", "id = 1", (PlugAction("a.b.c", "9"),))
    out = SparkPlug.builder(spark).create().plug(df, [rule])
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["a"]["b"]["c"] == 9
    assert rows[2]["a"] is None


def test_plug_on_driver_part_table(spark, sf_dir):
    # the ONE end-to-end slice on driver testdata (SURVEY §7.1 step 3)
    df = spark.read.parquet(f"{sf_dir}/part.parquet")
    rules = [
        PlugRule(
            "brand23_price",
            "v1",
            "p_brand = 'Brand#23' and p_retailprice < 1000",
            (PlugAction("p_retailprice", "999.99"),),
        ),
        PlugRule(
            "rename_large",
            "v1",
            "p_size >= 40",
            (PlugAction("p_name", "`concat('XL ', p_name)`"),),
        ),
    ]
    out = (
        SparkPlug.builder(spark).enable_plug_details().create().plug(df, rules)
    )
    res = out.filter(F.size("plugDetails") > 0)
    assert res.count() > 0
    bad = out.filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_retailprice") < 999.99)
    )
    assert bad.count() == 0


def test_long_rule_chain_fuses(spark, sf_dir):
    # 100 sequential rules must stay a narrow fused plan (no shuffle) and
    # analyze in seconds, not minutes (SURVEY 7.3 scale risk)
    from sparkplug_spark import PlugAction, PlugRule, SparkPlug

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    rules = [
        PlugRule(
            f"r{i}", "v1", f"p_size = {i % 50}",
            (PlugAction("p_retailprice", f"`p_retailprice + {i}.0`"),),
        )
        for i in range(100)
    ]
    out = SparkPlug.builder(spark).create().plug(part, rules)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert out.count() == part.count()


def test_rule_condition_scalar_subquery(spark):
    """Conditions may contain scalar subqueries over registered views —
    the reference's temp-view executor (SparkPlug.scala:104-107) gets
    this implicitly; the F.expr path must preserve it."""
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 60.0, "c")],
        ["id", "price", "tag"],
    )
    df.createOrReplaceTempView("subq_probe_v")
    rule = PlugRule(
        "above_avg", "v1",
        "price > (select avg(price) from subq_probe_v)",
        (PlugAction("tag", "HI"),),
    )
    out = {r["id"]: r["tag"] for r in
           SparkPlug.builder(spark).create().plug(df, [rule]).collect()}
    assert out == {1: "a", 2: "b", 3: "HI"}  # avg = 30


def test_rule_value_window_function(spark):
    """Backtick values may contain window functions — the reference's
    generated SELECT (PlugRule.scala:123) hosts them the same way."""
    df = spark.createDataFrame(
        [(1, "x", 10.0, "t"), (2, "x", 20.0, "t"), (3, "y", 5.0, "t")],
        ["id", "brand", "price", "tag"],
    )
    rule = PlugRule(
        "rank_tag", "v1", "true",
        (PlugAction(
            "tag",
            "`cast(row_number() over (partition by brand order by price, id)"
            " as string)`",
        ),),
    )
    out = SparkPlug.builder(spark).create().plug(df, [rule])
    assert sorted((r["id"], r["tag"]) for r in out.collect()) == [
        (1, "1"), (2, "2"), (3, "1"),
    ]


def test_long_rule_chain_fuses_and_computes(spark):
    """60 sequential rules: the fold must stay ONE codegen'd stage
    (whole-stage codegen fuses the per-rule Projects), apply in order
    (rule k+1 sees rule k's write), and finish plan construction fast (the one-schema-analysis
    fold — per-rule analysis would be O(rules^2) py4j round-trips)."""
    import re as _re
    import time

    from sparkplug_spark.engine import SparkPlug
    from sparkplug_spark.models import PlugAction, PlugRule

    rules = [
        PlugRule(f"inc{i}", "v1", "v >= 0", (PlugAction("v", f"`v + 1`"),))
        for i in range(60)
    ]
    df = spark.createDataFrame([(0,), (100,), (-5,)], ["v"])
    t0 = time.perf_counter()
    out = SparkPlug.builder(spark).create().plug(df, rules)
    build_s = time.perf_counter() - t0
    got = sorted(r["v"] for r in out.collect())
    # -5 never matches; 0 and 100 gain 60 each
    assert got == [-5, 60, 160]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert len(set(_re.findall(r"\*\((\d+)\)", plan))) == 1  # one codegen span
    assert build_s < 20.0  # O(rules), not O(rules^2) plan analysis


def test_expression_action_retype_then_literal_write(spark):
    """A backtick expression may RETYPE a column (bigint -> double); a
    later literal write must coerce against the NEW type, not the stale
    pre-fold map (regression: the one-analysis fold poisoned this)."""
    from sparkplug_spark.engine import SparkPlug
    from sparkplug_spark.models import PlugAction, PlugRule

    rules = [
        PlugRule("retype", "v1", "true", (PlugAction("v", "`cast(v as double) + 0.25`"),)),
        PlugRule("write", "v1", "v > 0", (PlugAction("v", "1.5"),)),
    ]
    df = spark.createDataFrame([(1,), (-3,)], ["v"])
    got = sorted(
        r["v"]
        for r in SparkPlug.builder(spark).create().plug(df, rules).collect()
    )
    assert got == [-2.75, 1.5]


def test_keep_old_struct_field_referencable_by_later_rule(spark):
    """keep_old of a struct column registers its NESTED paths too, so a
    later rule may read/write <parent>_<rule>_old.x."""
    from pyspark.sql import types as T

    from sparkplug_spark.engine import SparkPlug
    from sparkplug_spark.models import PlugAction, PlugRule

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "s", T.StructType([T.StructField("x", T.LongType())])
            ),
        ]
    )
    df = spark.createDataFrame([(1, (10,))], schema)
    rules = [
        PlugRule("rA", "v1", "true", (PlugAction("s.x", "99"),)),
        PlugRule("rB", "v1", "s_rA_old.x = 10", (PlugAction("id", "7"),)),
    ]
    out = (
        SparkPlug.builder(spark)
        .keep_old_field()
        .create()
        .plug(df, rules)
        .collect()[0]
    )
    assert out["id"] == 7 and out["s"]["x"] == 99 and out["s_rA_old"]["x"] == 10
