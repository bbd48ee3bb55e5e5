"""The SparkPlug engine: sequential conditional-override rules, Spark-first.

Reference semantics (``SparkPlug.scala``, ``PlugRule.scala``) re-expressed as
native Column expressions — NO SQL-string codegen, NO temp views, NO UDFs:

- one rule = one ``df.withColumns({...})`` projection in which every
  expression references the rule's *input* columns (identical to the
  reference's single generated ``select``, ``SparkPlug.scala:98-107``);
- rules fold sequentially, so rule k+1 observes rule k's writes
  (``SparkPlug.scala:42-50``);
- the optimized plan keeps one ``Project`` per rule: ``CollapseProject``
  will not inline a rule whose condition several of its outputs reuse.
  Whole-stage codegen then fuses that Project chain into ONE narrow,
  shuffle-free stage (the reference needed checkpoint cadence because
  per-rule temp views + UDF boundaries defeated fusion; we keep the
  cadence only as an opt-in knob for 100+-rule chains,
  ``SparkPlug.scala:109-125``);
- each rule's update Columns are built by ONE helper shared by
  :func:`apply_rule`, :meth:`SparkPlug.plug` and the validation dry run;
  the Columns a fold rebuilds for every rule (``F.col(name)``, typed
  nulls) are built once per fold, because every Column method costs a
  dozen py4j round trips in PySpark 4.1 (call-site capture);
- plug-details audit appends via ``concat(details, array(struct(...)))``
  gated on ``condition AND any value actually changed`` using null-safe
  equality (``PlugRule.scala:49-77``, ``SparkPlugUDFs.scala:14-31``);
- changed-row metrics via ``DataFrame.observe`` — piggybacks on the caller's
  action instead of the reference's extra accumulator job
  (``SparkPlug.scala:52-62``).

Documented deviations (SURVEY §2.1 Q1-Q4): struct keys work at any depth in
both validate and apply; old-value columns drop correctly; coercion failures
raise unless ``lenient=True`` (reference silently wrote SQL ``null``).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from functools import reduce
from typing import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .models import (
    DEFAULT_PLUG_DETAILS_COLUMN,
    PLUG_DETAILS_SCHEMA_DDL,
    PlugRule,
    PlugRuleValidationError,
)
from .validation import (
    CoercionError,
    build_fields_map,
    coerce_action_value,
    validate_rules,
)

__all__ = [
    "SparkPlug",
    "CheckpointConfig",
    "PlugDetailsConfig",
    "PlugRuleValidationException",
    "apply_rule",
    "apply_rule_reference_compat",
    "plug",
    "default_details_entry",
]


class PlugRuleValidationException(Exception):
    """Raised by :meth:`SparkPlug.plug` when validation is enabled and fails
    (pythonic replacement for the reference's ``Either``,
    ``SparkPlug.scala:29-40``)."""

    def __init__(self, errors: list[PlugRuleValidationError]):
        self.errors = errors
        super().__init__("; ".join(f"{e.name}: {e.error}" for e in errors))


@dataclass(frozen=True)
class CheckpointConfig:
    """Lineage-control cadence (reference ``SparkPlugCheckpointDetails``,
    ``SparkPlug.scala:14``, ``:109-125``).  Rarely needed here because
    whole-stage codegen fuses the rule chain into one stage, but kept for
    very long rule pipelines at large scale."""

    checkpoint_dir: str
    rules_per_stage: int
    num_partitions: int


def default_details_entry(rule: PlugRule) -> Column:
    """Audit entry appended per matched rule — shape of ``PlugDetail``
    (reference ``SparkPlugUDFs.scala:19-25``).  ``named_struct`` takes its
    field names as literals, so no per-field ``alias`` round trip."""
    return F.named_struct(
        F.lit("name"), F.lit(rule.name),
        F.lit("version"), F.lit(rule.version),
        F.lit("fieldNames"), F.array(*[F.lit(k) for k in rule.field_names]),
    )


@dataclass(frozen=True)
class PlugDetailsConfig:
    """Audit-column config; ``entry_builder`` is the extension point the
    reference modeled as a custom UDF subclass (``SparkPlugUDFs.scala:14-25``,
    README.md:108-136) — here just a ``rule -> Column(struct)`` callback plus
    the matching array schema DDL."""

    column: str = DEFAULT_PLUG_DETAILS_COLUMN
    schema_ddl: str = PLUG_DETAILS_SCHEMA_DDL
    entry_builder: Callable[[PlugRule], Column] = default_details_entry


def _cast(c: Column, data_type: T.DataType) -> Column:
    """``c.cast(data_type)``; an atomic type goes by its DDL string, which
    skips the JSON round trip of a ``DataType`` (same Cast in the plan)."""
    if isinstance(data_type, T.AtomicType):
        return c.cast(data_type.simpleString())
    return c.cast(data_type)


def _value_column(
    action, data_type: T.DataType, lenient: bool
) -> Column:
    """Action value → Column: backtick SQL expression passthrough, else a
    typed literal (reference ``PlugRule.scala:126-141``)."""
    if action.is_expression:
        return F.expr(action.expression)
    try:
        return _cast(F.lit(coerce_action_value(action.value, data_type)), data_type)
    except CoercionError:
        if lenient:
            # Reference quirk Q3: unvalidated coercion failure writes null
            # (PlugRule.scala:129).
            return _null_of(data_type)
        raise


def _null_of(data_type: T.DataType) -> Column:
    return _cast(F.lit(None), data_type)


class _FoldColumns:
    """The Columns a fold rebuilds for every rule, built once per fold.

    A name reference or a typed null is an unresolved, immutable
    expression that resolves against whichever plan it lands in, so one
    instance serves every rule of the fold."""

    def __init__(self) -> None:
        self._cols: dict[str, Column] = {}
        self._nulls: dict[T.DataType, Column] = {}

    def col(self, name: str) -> Column:
        if name not in self._cols:
            self._cols[name] = F.col(name)
        return self._cols[name]

    def null(self, data_type: T.DataType) -> Column:
        if data_type not in self._nulls:
            self._nulls[data_type] = _null_of(data_type)
        return self._nulls[data_type]


def _rule_updates(
    rule: PlugRule,
    fields: dict[str, T.DataType],
    cols: _FoldColumns,
    details_column: str | None = None,
    details_entry_builder: Callable[[PlugRule], Column] = default_details_entry,
    keep_old_field: bool = False,
    lenient: bool = False,
) -> dict[str, Column]:
    """ONE rule's ``withColumns`` map: top-level column -> replacement.

    Every expression reads the rule's INPUT columns (the reference computes
    values, change predicates and the audit entry inside one select —
    ``PlugRule.scala:49-77``).  ``fields`` maps each dotted path of the
    input schema to its type."""
    cond = F.expr(rule.condition)
    value_cols: dict[str, Column] = {}
    for action in rule.actions:
        dt = fields.get(action.key)
        if dt is None:
            raise PlugRuleValidationException(
                [
                    PlugRuleValidationError(
                        rule.name, f'Field "{action.key}" not found in the schema.'
                    )
                ]
            )
        try:
            value_cols[action.key] = _value_column(action, dt, lenient)
        except CoercionError:
            raise PlugRuleValidationException(
                [
                    PlugRuleValidationError(
                        rule.name,
                        f'Value "{action.value}" cannot be assigned to '
                        f"field {action.key}.",
                    )
                ]
            ) from None

    # Group actions by top-level column; build one replacement Column each.
    by_parent: dict[str, list] = {}
    for action in rule.actions:
        by_parent.setdefault(action.update_key, []).append(action)

    updates: dict[str, Column] = {}
    for parent, actions in by_parent.items():
        cur = cols.col(parent)
        touched_nested = False
        for action in actions:
            v = value_cols[action.key]
            if action.key == parent:
                # whole-column override
                cur = F.when(cond, v).otherwise(cur)
            else:
                # nested struct field, arbitrary depth via withField
                # (fixes reference Q2/Q4 — PlugRule.scala:102-124 handled
                # exactly 2 levels and collided on multi-action structs).
                inner = action.key.split(".", 1)[1]
                touched_nested = True
                cur = cur.withField(
                    inner, F.when(cond, v).otherwise(cols.col(action.key))
                )
        if touched_nested:
            # Null parent stays null; the action does not materialize the
            # struct (PlugRule.scala:111, SparkPlugSpec.scala:394).
            cur = F.when(
                cols.col(parent).isNull(), cols.null(fields[parent])
            ).otherwise(cur)
        updates[parent] = cur

        if keep_old_field:
            # <updateKey>_<ruleName>_old (PlugRule.scala:83,153; README:186-194)
            updates[f"{parent}_{rule.name}_old"] = cols.col(parent)

    if details_column is not None:
        # Null-safe change gate: not(key <=> value)  (PlugRule.scala:58)
        preds = [
            ~cols.col(a.key).eqNullSafe(value_cols[a.key]) for a in rule.actions
        ]
        changed = reduce(lambda a, b: a | b, preds) if preds else F.lit(False)
        details = cols.col(details_column)
        updates[details_column] = F.when(
            cond & changed,
            F.concat(details, F.array(details_entry_builder(rule))),
        ).otherwise(details)

    return updates


def apply_rule(
    df: DataFrame,
    rule: PlugRule,
    details_column: str | None = None,
    details_entry_builder: Callable[[PlugRule], Column] = default_details_entry,
    keep_old_field: bool = False,
    lenient: bool = False,
    fields: dict[str, T.DataType] | None = None,
) -> DataFrame:
    """Apply ONE rule as a single projection over ``df``.

    Equivalent of the reference's generated
    ``select *, if(cond, v, col) as col_new, ... from __plug_table__`` plus
    the rename dance (``SparkPlug.scala:98-102``, ``PlugRule.scala:49-97``) —
    but expressed directly with ``withColumns`` so every expression reads the
    rule's input row.  Consecutive rules stay one ``Project`` each in the
    optimized plan, and whole-stage codegen fuses them into one stage.

    ``fields`` is the dotted-path -> DataType map of ``df``'s schema; pass it
    when folding many rules so each step skips the ``df.schema`` analysis
    round-trip.  Caveat: only LITERAL writes preserve column types — a
    backtick EXPRESSION action can retype its column, after which a cached
    map is stale for that column's subtree and must be rebuilt from the
    current schema before coercing later literal writes to it
    (``SparkPlug.plug`` tracks this automatically).
    """
    if fields is None:
        fields = build_fields_map(df.schema)
    return df.withColumns(
        _rule_updates(
            rule, fields, _FoldColumns(), details_column,
            details_entry_builder, keep_old_field, lenient,
        )
    )


def apply_rule_reference_compat(
    df: DataFrame,
    rule: PlugRule,
    details_column: str | None = None,
    details_entry_builder: Callable[[PlugRule], Column] = default_details_entry,
    keep_old_field: bool = False,
    lenient: bool = False,
) -> DataFrame:
    """Apply ONE rule with the REFERENCE's exact mechanics — migration-parity
    mode (``SparkPlug(compat="reference")``) for users porting live rule sets
    from the Scala engine who need byte-for-byte identical output, quirks
    included.

    Reproduces the generated ``select *, <new cols>`` followed by the
    per-action rename/drop fold (``SparkPlug.scala:98-102``,
    ``PlugRule.scala:79-97``) using the same DataFrame operations, so the
    documented quirks fall out structurally rather than being simulated:

    - **Q1** (``PlugRule.scala:83-87`` vs ``:11,153``): the post-rename drop
      uses the FULL dotted action key (``drop("price.min_<rule>_old")``, a
      column that never exists), so struct actions leave a residual
      ``<parent>_<rule>_old`` column even without ``keepOldField`` — and the
      new value column moves to the END of the column order (it was appended
      as ``<parent>_new`` and renamed in place).
    - **Q2** (``PlugRule.scala:121``, README.md:143-159): two actions on the
      same struct parent in one rule each emit their own
      ``named_struct(...) AS <parent>_new``; the duplicate aliases then feed
      a rename fold whose ``withColumnRenamed`` calls rename EVERY matching
      column, so the parent column is destroyed exactly the way the
      reference destroys it (no test covered the advertised case).
    - Struct keys are limited to exactly TWO levels: the reference's
      ``val Array(parent, child) = x.split('.')`` throws ``MatchError`` on
      deeper keys (Q4, ``PlugRule.scala:107`` vs validation ``:146-151``);
      here that surfaces as a ``ValueError`` naming the quirk instead of a
      Scala stack trace.

    The default engine (:func:`apply_rule`) fixes all of this; this path
    exists so a migration can first prove output parity against the Scala
    engine, then flip to ``compat="fixed"`` deliberately.  Per-rule analysis
    cost matches the reference's per-rule temp-view codegen — this is a
    migration aid, not the 100 TB path.
    """
    fields = build_fields_map(df.schema)
    cond = F.expr(rule.condition)
    new_cols: list[Column] = []
    changed_preds: list[Column] = []
    for action in rule.actions:
        dt = fields.get(action.key)
        if dt is None:
            raise PlugRuleValidationException(
                [
                    PlugRuleValidationError(
                        rule.name, f'Field "{action.key}" not found in the schema.'
                    )
                ]
            )
        try:
            v = _value_column(action, dt, lenient)
        except CoercionError:
            raise PlugRuleValidationException(
                [
                    PlugRuleValidationError(
                        rule.name,
                        f'Value "{action.value}" cannot be assigned to '
                        f"field {action.key}.",
                    )
                ]
            ) from None
        changed_preds.append(~F.col(action.key).eqNullSafe(v))
        if "." in action.key:
            parts = action.key.split(".")
            if len(parts) != 2:
                raise ValueError(
                    f"compat='reference' supports struct keys of exactly two "
                    f"levels, got {action.key!r} (the Scala engine throws "
                    "MatchError here — PlugRule.scala:107; use the default "
                    "engine for N-level keys)"
                )
            parent, child = parts
            parent_dt = fields[parent]
            members = [
                (
                    F.when(cond, v).otherwise(F.col(action.key)).alias(f.name)
                    if f.name == child
                    else F.col(f"{parent}.{f.name}").alias(f.name)
                )
                for f in parent_dt.fields
            ]
            new_cols.append(
                F.when(F.col(parent).isNull(), _null_of(parent_dt))
                .otherwise(F.struct(*members))
                .alias(f"{parent}_new")
            )
        else:
            new_cols.append(
                F.when(cond, v)
                .otherwise(F.col(action.key))
                .alias(f"{action.key}_new")
            )

    if details_column is not None:
        changed = (
            reduce(lambda a, b: a | b, changed_preds)
            if changed_preds
            else F.lit(False)
        )
        details = F.col(details_column)
        new_cols.append(
            F.when(
                cond & changed,
                F.concat(details, F.array(details_entry_builder(rule))),
            )
            .otherwise(details)
            .alias(f"{details_column}_updated")
        )

    out = df.select("*", *new_cols)

    # The reference's rename/drop fold (PlugRule.scala:79-97), operation for
    # operation.  withColumnRenamed renames EVERY matching column — load-
    # bearing for Q2.
    for action in rule.actions:
        uk = action.update_key
        out = out.withColumnRenamed(uk, f"{uk}_{rule.name}_old")
        out = out.withColumnRenamed(f"{uk}_new", uk)
        if not keep_old_field:
            # Q1: full dotted key — a no-op drop for struct actions
            out = out.drop(f"{action.key}_{rule.name}_old")
    if details_column is not None:
        out = out.drop(details_column).withColumnRenamed(
            f"{details_column}_updated", details_column
        )
    return out


@dataclass(frozen=True)
class SparkPlug:
    """Engine facade + builder (reference ``SparkPlug.scala:129-159``).

    >>> plugged = (SparkPlug.builder(spark)
    ...            .enable_plug_details()
    ...            .enable_rules_validation()
    ...            .create()
    ...            .plug(df, rules))
    """

    spark: SparkSession
    plug_details: PlugDetailsConfig | None = None
    validate_rules: bool = False
    checkpoint: CheckpointConfig | None = None
    metrics_observation: Observation | None = None
    keep_old_field_enabled: bool = False
    lenient: bool = False
    #: "fixed" (default) = the documented-deviation engine (Q1-Q4 repaired);
    #: "reference" = byte-for-byte Scala-engine parity, quirks included
    #: (see apply_rule_reference_compat) — for proving migration parity.
    compat: str = "fixed"

    def __post_init__(self) -> None:
        # metrics need the details column to count changed rows; auto-enable
        # it (as enable_metrics does) so direct construction / one-shot
        # plug(..., metrics_observation=...) kwargs don't hit a None deref
        if self.metrics_observation is not None and self.plug_details is None:
            object.__setattr__(
                self,
                "plug_details",
                PlugDetailsConfig(
                    DEFAULT_PLUG_DETAILS_COLUMN,
                    PLUG_DETAILS_SCHEMA_DDL,
                    default_details_entry,
                ),
            )

    # -- builder -----------------------------------------------------------
    @staticmethod
    def builder(spark: SparkSession) -> "SparkPlug":
        return SparkPlug(spark)

    def enable_plug_details(
        self,
        column: str = DEFAULT_PLUG_DETAILS_COLUMN,
        entry_builder: Callable[[PlugRule], Column] = default_details_entry,
        schema_ddl: str = PLUG_DETAILS_SCHEMA_DDL,
    ) -> "SparkPlug":
        return replace(
            self,
            plug_details=PlugDetailsConfig(column, schema_ddl, entry_builder),
        )

    def enable_rules_validation(self) -> "SparkPlug":
        return replace(self, validate_rules=True)

    def enable_checkpointing(
        self, checkpoint_dir: str, rules_per_stage: int, num_partitions: int
    ) -> "SparkPlug":
        return replace(
            self,
            checkpoint=CheckpointConfig(
                checkpoint_dir, rules_per_stage, num_partitions
            ),
        )

    def enable_metrics(self, observation: Observation | None = None) -> "SparkPlug":
        """Changed-row count via ``observe`` — replaces the reference's
        accumulator + extra ``foreach`` job (``SparkPlug.scala:52-62``) with
        a zero-cost observation on the caller's own action.  Implies plug
        details (as the reference's ``enableAccumulators`` did)."""
        out = self if self.plug_details is not None else self.enable_plug_details()
        return replace(out, metrics_observation=observation or Observation("sparkplug"))

    def keep_old_field(self) -> "SparkPlug":
        return replace(self, keep_old_field_enabled=True)

    def with_compat(self, mode: str) -> "SparkPlug":
        """``"fixed"`` (default) or ``"reference"`` (Scala-engine parity,
        quirks Q1/Q2 reproduced — see :func:`apply_rule_reference_compat`)."""
        if mode not in ("fixed", "reference"):
            raise ValueError(f"compat must be 'fixed' or 'reference', got {mode!r}")
        return replace(self, compat=mode)

    def create(self) -> "SparkPlug":
        """No-op for builder-API symmetry with the reference."""
        return self

    # -- API ---------------------------------------------------------------
    def validate(
        self, schema: T.StructType, rules: Sequence[PlugRule]
    ) -> list[PlugRuleValidationError]:
        """Validate against the INPUT schema (reference contract,
        ``PlugRule.scala:46-47``): a literal write to a column that an
        earlier backtick expression retypes mid-fold is reported as a
        coercion error here even though the unvalidated engine path
        handles the retype — the reference validated the same way, and a
        rule set that only type-checks against a mid-fold schema is
        fragile by construction."""
        return validate_rules(schema, list(rules), spark=self.spark)

    def plug(self, df: DataFrame, rules: Iterable[PlugRule]) -> DataFrame:
        rules = list(rules)
        if self.validate_rules:
            errors = self.validate(df.schema, rules)
            if errors:
                raise PlugRuleValidationException(errors)

        if self.checkpoint is not None and not df.isStreaming:
            self.spark.sparkContext.setCheckpointDir(self.checkpoint.checkpoint_dir)

        out = self._pre_process(df)

        if self.compat == "reference":
            # Migration-parity path: the reference re-analyzed per rule
            # (temp view + codegen each step); so do we — no fields-map
            # bookkeeping survives the rename dance anyway.
            for i, rule in enumerate(rules):
                out = apply_rule_reference_compat(
                    out,
                    rule,
                    details_column=(
                        self.plug_details.column if self.plug_details else None
                    ),
                    details_entry_builder=(
                        self.plug_details.entry_builder
                        if self.plug_details
                        else default_details_entry
                    ),
                    keep_old_field=self.keep_old_field_enabled,
                    lenient=self.lenient,
                )
                out = self._repartition_and_checkpoint(out, i)
            return self._observe_metrics(out, df)

        # ONE schema analysis for the whole fold: LITERAL rule writes never
        # change column types, so the dotted-path -> type map stays valid
        # across rules (per-rule df.schema calls re-analyze the growing
        # plan — a driver-side O(rules^2) py4j tax on long chains).
        # EXPRESSION actions (backtick values) CAN retype a column, so
        # every path under such an action's top-level column is marked
        # stale and the map is re-analyzed only when a later rule actually
        # touches a stale path — the common all-literal chain stays O(rules).
        fields = build_fields_map(out.schema)
        stale: set[str] = set()
        cols = _FoldColumns()
        pd = self.plug_details
        for i, rule in enumerate(rules):
            if stale and any(
                a.key in stale or a.update_key in stale for a in rule.actions
            ):
                fields = build_fields_map(out.schema)
                stale.clear()
            out = out.withColumns(
                _rule_updates(
                    rule,
                    fields,
                    cols,
                    details_column=pd.column if pd else None,
                    details_entry_builder=(
                        pd.entry_builder if pd else default_details_entry
                    ),
                    keep_old_field=self.keep_old_field_enabled,
                    lenient=self.lenient,
                )
            )
            for a in rule.actions:
                if a.is_expression:
                    # the expression's result type is unknown without
                    # analysis; poison the whole top-level column subtree
                    stale.update(
                        p for p in fields if p == a.update_key
                        or p.startswith(a.update_key + ".")
                    )
            if self.keep_old_field_enabled:
                # keep-old copies add real columns mid-fold; keep the map
                # (including nested struct paths) in sync so later rules
                # may reference them.
                for parent in {a.update_key for a in rule.actions}:
                    old = f"{parent}_{rule.name}_old"
                    fields[old] = fields[parent]
                    if isinstance(fields[parent], T.StructType):
                        fields.update(
                            build_fields_map(fields[parent], prefix=f"{old}.")
                        )
                    if parent in stale:
                        stale.add(old)
            out = self._repartition_and_checkpoint(out, i)

        return self._observe_metrics(out, df)

    # -- internals ----------------------------------------------------------
    def _observe_metrics(self, out: DataFrame, source: DataFrame) -> DataFrame:
        if self.metrics_observation is None or source.isStreaming:
            return out
        dc = self.plug_details.column
        return out.observe(
            self.metrics_observation,
            F.count(F.when(F.size(F.col(dc)) > 0, True)).alias("changed"),
            F.count(F.lit(1)).alias("total"),
        )

    def _pre_process(self, df: DataFrame) -> DataFrame:
        if self.plug_details is None:
            return df
        # Initialize the audit column to [] (reference SparkPlug.scala:88-91;
        # empty-details UDF replaced by a cast literal).
        pd = self.plug_details
        return df.withColumn(pd.column, F.array().cast(pd.schema_ddl))

    def _repartition_and_checkpoint(self, df: DataFrame, rule_number: int) -> DataFrame:
        cd = self.checkpoint
        if cd is None or df.isStreaming:
            return df
        out = df
        if (rule_number + 1) % cd.rules_per_stage == 0:
            out = out.repartition(cd.num_partitions)
        if (rule_number + 1) % (2 * cd.rules_per_stage) == 0:
            out = out.checkpoint()
        return out


def plug(
    spark: SparkSession,
    df: DataFrame,
    rules: Iterable[PlugRule],
    **builder_kwargs,
) -> DataFrame:
    """One-shot functional entry point: ``plug(spark, df, rules)``."""
    return SparkPlug(spark, **builder_kwargs).plug(df, rules)
