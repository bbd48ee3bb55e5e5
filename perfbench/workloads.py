"""The three workloads.  Each has:

- ``warmup``: untimed passes after the cold pass; ``min_passes``: the
  fewest timed warm passes, whatever ``--seconds`` says;
- ``generate(seed, out)``: seeded inputs, written before any timed pass;
- ``oracle()``: expected outputs from DuckDB, once per seed;
- ``run_pass(spark, tracer, out)``: one timed pass through the program's
  public functions, each call wrapped in a span named after its layer;
- ``check(result)``: compare the pass's outputs with the oracle;
- ``layers(spark, tracer, trace_id, result)``: the workload's own
  per-layer metrics of one traced pass.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field

from . import gen, oracle


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


@dataclass
class PassResult:
    outputs: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


class RulesFold:
    """The paper's operator: a JSON-lines rule file loaded, validated and
    folded over lineitem rows with plug details and metrics on; the
    action computes the output digest the DuckDB twin checks."""

    name = "rules_fold"
    # passes keep speeding up for ~5 passes after the cold one, at a pace
    # that differs from process to process
    warmup, min_passes = 3, 1
    n_orders = 2_000  # ~8k rows
    n_rules = 24

    def generate(self, seed: int, out: str) -> None:
        self.seed = seed
        self.data, self.rules_path = gen.fold_inputs(seed, self.n_orders, self.n_rules, out)

    def oracle(self) -> None:
        self.expected = oracle.fold_twin(self.data, gen.fold_rules(self.seed, self.n_rules))

    def run_pass(self, spark, tracer, out: str) -> PassResult:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from sparkplug_spark import SparkPlug
        from sparkplug_spark.sources import read_plug_rules
        from sparkplug_spark.validation import validate_rules

        with tracer.span("models.load"):
            rules = read_plug_rules(spark, self.rules_path)
        df = spark.read.parquet(self.data)
        with tracer.span("validation.validate"):
            errors = validate_rules(df.schema, rules, spark=spark)
        if errors:
            raise ValueError(f"rule validation failed: {errors[:3]}")
        obs = Observation("perfbench_fold")
        with tracer.span("engine.plug"):
            plugged = (
                SparkPlug.builder(spark).enable_plug_details().enable_metrics(obs)
                .create().plug(df, rules)
            )
        with tracer.span("engine.action"):
            row = plugged.agg(
                F.expr(oracle.row_digest_sql("spark")).alias("digest"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            observed = obs.get
        return PassResult(
            {"digest": row["digest"], "n": row["n"], "changed": observed["changed"],
             "total": observed["total"]},
            {"plugged": plugged, "errors": len(errors)},
        )

    def check(self, r: PassResult) -> bool:
        e, o = self.expected, r.outputs
        return (o["digest"], o["n"], o["changed"], o["total"]) == (
            e["digest"], e["n"], e["changed"], e["n"]
        )

    def layers(self, spark, tracer, trace_id, r: PassResult) -> dict:
        plan = r.extra["plugged"]._jdf.queryExecution().optimizedPlan().toString()
        return {
            "validation.errors": r.extra["errors"],
            "engine.plan_chars": len(plan),
            "metrics.changed_rows": r.outputs["changed"],
            "metrics.total_rows": r.outputs["total"],
        }


class EagerOps:
    """Two ``__spark_entry__.queries()`` entries whose plans are built by
    eager jobs: the integer rank loop and entity-resolution golden
    records."""

    name = "eager_ops"
    # a pass is ~10 s and the first warm one is still ~20% slower than the
    # next: skip it, then take the median of two
    warmup, min_passes = 1, 2
    queries = ("pagerank_exact", "golden_records")
    frac = 0.03

    def generate(self, seed: int, out: str) -> None:
        self.tables = gen.tables(seed, self.frac, out)

    def oracle(self) -> None:
        self.expected = oracle.entry_oracles(self.tables, list(self.queries))

    def run_pass(self, spark, tracer, out: str) -> PassResult:
        import __spark_entry__ as entry

        fns = entry.queries()
        frames = {}
        for q in self.queries:
            with tracer.span(f"entry.{q}.build"):
                df = fns[q](spark, self.tables)
            with tracer.span(f"entry.{q}.action"):
                df.write.format("noop").mode("overwrite").save()
            frames[q] = df
        return PassResult(extra={"frames": frames})

    def check(self, r: PassResult) -> bool:
        # collects the returned frames while their blocks are still
        # persisted, so the check re-runs only each final plan
        return all(
            oracle.matches(oracle.spark_digest(df), self.expected[q])
            for q, df in r.extra["frames"].items()
        )

    def layers(self, spark, tracer, trace_id, r: PassResult) -> dict:
        out = {}
        spans = tracer.pass_spans(trace_id)
        for q in self.queries:
            build = [s for s in spans if s.name == f"entry.{q}.build"]
            action = [s for s in spans if s.name == f"entry.{q}.action"]
            out[f"entry.{q}.build_s"] = sum(s.seconds for s in build)
            out[f"entry.{q}.build_jobs"] = len(tracer.jobs(build))
            out[f"entry.{q}.action_s"] = sum(s.seconds for s in action)
        return out


class StreamStores:
    """Merge-on-write sketch stores fed by file streams over more
    micro-batches than the oracle replays use, read back with
    ``read_store``, beside a rule fold per micro-batch into a file sink."""

    name = "stream_stores"
    warmup, min_passes = 0, 1
    frac = 0.04
    doc_frac = 0.15
    n_batches = 4
    plug_orders = 1_000
    stores = ("histogram", "cms", "kmv")

    def generate(self, seed: int, out: str) -> None:
        self.seed = seed
        self.tables = gen.tables(seed, self.frac, f"{out}/tables", doc_frac=self.doc_frac)
        self.src = gen.stream_sources(seed, self.tables, self.n_batches, self.plug_orders, f"{out}/src")

    def oracle(self) -> None:
        self.expected = oracle.entry_oracles(
            self.tables, ["histogram_rollup", "cms_tokens", "kmv_distinct_tokens"]
        )
        self.expected["plug"] = oracle.fold_twin(
            f"{self.src['plug']}/*.parquet", gen.fold_rules(self.seed, gen.PLUG_RULES, "plug_rules")
        )

    def _stream(self, spark, src: str, schema):
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

    def run_pass(self, spark, tracer, out: str) -> PassResult:
        from pyspark.sql import functions as F

        from sparkplug_spark.functions.text import tokens_pd, word_shingles_pd
        from sparkplug_spark.operators import (
            cms_estimate, kmv_distinct, rollup_histogram_percentiles,
        )
        from sparkplug_spark.sources import read_plug_rules, read_store
        from sparkplug_spark.streaming import (
            plug_stream, streaming_cms_sketches, streaming_histogram_sketches,
            streaming_kmv_sketches,
        )

        li_schema = "l_orderkey long, l_returnflag string, l_linestatus string, l_extendedprice double"
        doc_schema = "doc_id long, text string, source string"
        store = {s: f"{out}/store_{s}" for s in self.stores}
        tokens = lambda df: df.select(
            F.explode(F.filter(tokens_pd(F.col("text")), lambda t: t != F.lit(""))).alias("token")
        )
        with tracer.span("engine.stream_plug"):
            plugged = plug_stream(
                spark,
                self._stream(spark, self.src["plug"], gen.FOLD_DDL),
                read_plug_rules(spark, self.src["plug_rules"]),
            )
        # the fold of every store is commutative (counter adds, bottom-k
        # of a union), so file order within the stream cannot change them
        writers = {
            "histogram": streaming_histogram_sketches(
                self._stream(spark, self.src["lineitem"], li_schema), store["histogram"],
                ["l_returnflag", "l_linestatus"], "l_extendedprice", lo=0.0, hi=105000.0, bins=128,
            ),
            "cms": streaming_cms_sketches(
                tokens(self._stream(spark, self.src["documents"], doc_schema)),
                store["cms"], "token", depth=4, width=512,
            ),
            "kmv": streaming_kmv_sketches(
                self._stream(spark, self.src["documents"], doc_schema).select(
                    "source", F.explode(word_shingles_pd(F.col("text"), 3)).alias("sh")
                ),
                store["kmv"], "sh", by=("source",), k=256,
            ),
            "plug": plugged.writeStream.format("parquet").option("path", f"{out}/sink_plug"),
        }
        # the four queries run side by side in the one application, as
        # store-maintenance streams would; each drains its input
        # (availableNow) and stops
        with tracer.span("streaming.queries"):
            queries = {
                name: w.option("checkpointLocation", f"{out}/chk_{name}")
                .trigger(availableNow=True).start()
                for name, w in writers.items()
            }
            for name, q in queries.items():
                tracer.attach_group(str(q.runId))
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(f"stream {name} failed: {q.exception()}")
        progress = {
            name: [p for p in q.recentProgress if p["numInputRows"] > 0]
            for name, q in queries.items()
        }
        run_ids = {name: str(q.runId) for name, q in queries.items()}

        outputs = {}
        with tracer.span("sources.read_store"):
            hist = rollup_histogram_percentiles(
                read_store(spark, store["histogram"]).drop("__last_batch"),
                ["l_returnflag"], [50, 95, 99], lo=0.0, hi=105000.0, bins=128,
            )
            outputs["histogram_rollup"] = oracle.spark_digest(hist)
            # as streaming_cms_replay does: true counts from the batch table,
            # estimates from the store
            docs = spark.read.parquet(f"{self.tables}/documents.parquet")
            top = (
                tokens(docs).groupBy("token")
                .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
                .orderBy(F.desc("true_count"), F.asc("token")).limit(50)
            )
            est = cms_estimate(
                read_store(spark, store["cms"]).drop("__last_batch"), top.select("token"),
                "token", depth=4, width=512,
            )
            outputs["cms_tokens"] = oracle.spark_digest(top.join(est, "token").select(
                "token", "true_count", "cms_est",
                (F.col("cms_est") - F.col("true_count")).cast("long").alias("overcount"),
            ))
            kmv = kmv_distinct(
                read_store(spark, store["kmv"]).drop("__last_batch"), by=("source",), k=256
            )
            outputs["kmv_distinct_tokens"] = oracle.spark_digest(kmv)
            row = spark.read.parquet(f"{out}/sink_plug").agg(
                F.expr(oracle.row_digest_sql("spark")).alias("digest"),
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.size("plugDetails") > 0, True)).alias("changed"),
            ).collect()[0]
            outputs["plug"] = {"digest": row["digest"], "n": row["n"], "changed": row["changed"]}
        return PassResult(outputs, {"progress": progress, "store": store, "run_ids": run_ids})

    def check(self, r: PassResult) -> bool:
        return all(oracle.matches(r.outputs[k], v) for k, v in self.expected.items())

    def layers(self, spark, tracer, trace_id, r: PassResult) -> dict:
        from .spans import spark_counters

        executions = tracer.executions(trace_id)
        out = {}
        store_out_mb = 0.0
        for name, prog in r.extra["progress"].items():
            batch_s = _median(p["durationMs"]["triggerExecution"] / 1e3 for p in prog)
            out[f"streaming.{name}.batch_s"] = batch_s
            if name == "plug":
                continue
            jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(r.extra["run_ids"][name])
            out[f"streaming.{name}.batches"] = len(prog)
            out[f"streaming.{name}.jobs_per_batch"] = len(jobs) / max(1, len(prog))
            store_out_mb += spark_counters(spark, jobs, executions)["output_mb"]
        store_mb = sum(_du_mb(p) for p in r.extra["store"].values())
        out["sources.store_mb"] = store_mb
        out["sources.write_amp"] = store_out_mb / store_mb if store_mb else 0.0
        return out


WORKLOADS = {w.name: w for w in (RulesFold, EagerOps, StreamStores)}


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
