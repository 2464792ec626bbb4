"""The benchmark workloads, each driven only through the engine's public
functions. Each layer dominates one workload and is minor or absent in the
other:

- ``corpus_validate``: the CLI ``validate --preflight-k --quarantine`` path
  on the parquet corpus: ``sampled_validation_gate``, ``ValidationJob.run``,
  then ``ValidationJob.quarantine`` writing ``accepted/`` and
  ``quarantined/``. Parquet nested-array decode and encode, native check
  columns, the uniqueness shuffle, the referential check, the stats
  profile, the gate and the routed writes all do real work; no Python runs
  per row.
- ``json_ingest``: ``ValidationJob.run`` on JSONL read with
  ``sources.jsonl.read_jsonl``, ``doc`` declared a string so it arrives as
  raw JSON text and is validated by ``compiler.kernel`` with the Python
  evaluator. Parquet decode, the shuffle and the routed writes are absent.

A workload's ``run_pass`` is what the untraced run times. ``traced_pass``
makes the same public calls in the same order, each inside a span, so a
Spark job is attributed to the call that started it.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.benchlib import CORPUS_SPEC_DICT
from jsonschema_spark.operators import stats as stats_ops
from jsonschema_spark.operators.checks import sampled_validation_gate
from jsonschema_spark.plans.job import ValidationJob
from jsonschema_spark.plans.plan import TableSpec, compile_table_spec
from jsonschema_spark.sources.corpus import dim_source
from jsonschema_spark.sources.jsonl import read_jsonl

from perfbench import inputs

GATE_K = 1024          # CLI --preflight-k
GATE_BUDGET = 0.05     # CLI --preflight-budget default
JSON_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.StringType()), T.StructField("doc", T.StringType())]
)


@dataclass
class Context:
    """What set-up hands to every pass."""

    spark: object
    path: str
    df: object
    job: ValidationJob
    out_dir: str
    expected: dict
    compile_s: float


def _mismatches(observed: dict, expected: dict) -> dict:
    return {k: (observed.get(k), v) for k, v in expected.items() if observed.get(k) != v}


class Workload:
    name: str
    rows: int
    spec: dict
    # untimed passes after the cold one, then timed ones; both sized so one
    # run fits the benchmark's time budget. Pass times still fall by a
    # seventh to a fifth over the second and third pass as the JIT settles.
    warm_passes: int
    timed_passes: int

    def prepare(self, spark, cache_dir: str, seed: int) -> str:
        """Generate (or reuse) the seeded input; returns its path."""
        raise NotImplementedError

    def read(self, spark, path: str):
        raise NotImplementedError

    def dims(self, spark) -> dict:
        return {}

    def expected(self) -> dict:
        """Closed-form counts every pass must reproduce."""
        raise NotImplementedError

    def setup(self, spark, path: str, out_dir: str) -> Context:
        """Read the input, compile the TableSpec and build the dimension
        tables — the work a CLI invocation does before its first pass."""
        df = self.read(spark, path)
        t0 = time.perf_counter()
        plan = compile_table_spec(TableSpec.from_dict(self.spec), df.schema)
        compile_s = time.perf_counter() - t0
        job = ValidationJob(plan, dims=self.dims(spark))
        return Context(spark, path, df, job, out_dir, self.expected(), compile_s)

    def scan_columns(self, ctx: Context) -> list:
        return list(ctx.df.columns)

    def bare_scan(self, ctx: Context) -> None:
        """Decode the columns the checks read, and nothing else."""
        ctx.df.select(*self.scan_columns(ctx)).write.format("noop").mode("overwrite").save()

    def scan_bytes(self, ctx: Context) -> int:
        """Stored bytes of the columns ``bare_scan`` reads."""
        return inputs.parquet_column_bytes(ctx.path, self.scan_columns(ctx))

    def run_pass(self, ctx: Context):
        """One pass, the part that is timed; returns what ``observe`` reads."""
        raise NotImplementedError

    def traced_pass(self, ctx: Context, tracer) -> tuple:
        """One pass with a span per public call; returns (what ``observe``
        reads, per-layer values that are not span times)."""
        raise NotImplementedError

    def observe(self, ctx: Context, result) -> dict:
        """The counts ``check`` compares, read after the timed part."""
        raise NotImplementedError

    def check(self, observed: dict, ctx: Context) -> dict:
        """Empty when the pass matched its closed-form counts."""
        return _mismatches(observed, ctx.expected)


class _ValidateRun(Workload):
    """``ValidationJob.run``; traced, it is replayed as its own sequence of
    public calls inside spans (mirrors plans/job.py ``run`` step for step)."""

    def run_pass(self, ctx: Context) -> dict:
        return ctx.job.run(ctx.df, ctx.out_dir)

    def _traced_run(self, ctx: Context, tracer) -> tuple:
        spark, job, df, out = ctx.spark, ctx.job, ctx.df, ctx.out_dir
        path = lambda name: os.path.join(out, name)  # noqa: E731
        dup_counts, orphan_counts = {}, {}
        with tracer.span("plans.row_pass"):
            annotated = job.annotate(df)
            job.partition_lineage(annotated).write.mode("overwrite").parquet(path("lineage"))
        with tracer.span("plans.violations"):
            job.violations(annotated).write.mode("overwrite").parquet(path("violations"))
        if job.plan.unique:
            with tracer.span("operators.uniqueness"):
                for key, dups in job.uniqueness(df).items():
                    dups.write.mode("overwrite").parquet(path(f"duplicates_{key}"))
                    dup_counts[key] = spark.read.parquet(path(f"duplicates_{key}")).count()
        if job.plan.references:
            with tracer.span("operators.referential"):
                for col, orphans in job.referential(df).items():
                    orphans.write.mode("overwrite").parquet(path(f"orphans_{col}"))
                    orphan_counts[col] = (
                        spark.read.parquet(path(f"orphans_{col}"))
                        .agg(F.sum("n_rows")).collect()[0][0] or 0
                    )
        with tracer.span("operators.profile"):
            stats_ops.column_profile(df, None).write.mode("overwrite").parquet(path("profile"))
        with tracer.span("plans.summary"):
            job.drift(df)
            totals = spark.read.parquet(path("lineage")).agg(
                F.sum("n_rows").alias("n"), F.sum("n_valid").alias("v")
            ).collect()[0]
        summary = {
            "n_rows": totals.n or 0,
            "n_invalid": (totals.n or 0) - (totals.v or 0),
            "duplicates": dup_counts,
            "orphans": orphan_counts,
        }
        return summary, {}


class CorpusValidate(_ValidateRun):
    """The CLI ``validate --preflight-k --quarantine`` path: the sampled
    gate, then ``ValidationJob.run``, then ``ValidationJob.quarantine``."""

    name = "corpus_validate"
    rows = 5_000
    warm_passes = 1
    timed_passes = 3
    spec = CORPUS_SPEC_DICT

    def prepare(self, spark, cache_dir: str, seed: int) -> str:
        return inputs.corpus_parquet(spark, cache_dir, self.rows, seed)

    def read(self, spark, path: str):
        return spark.read.parquet(path)

    def dims(self, spark) -> dict:
        return {"dim_source": dim_source(spark)}

    def expected(self) -> dict:
        full = inputs.corpus_expected(self.rows)
        return {
            **full,
            "gate_n_sampled": min(GATE_K, self.rows),
            "gate_within_budget": True,
            "routed_rows": self.rows,
            "quarantined": full["n_invalid"],
        }

    def _gate(self, ctx: Context):
        return sampled_validation_gate(
            ctx.df, "doc_id", ctx.job.annotate, sample_k=GATE_K, budget=GATE_BUDGET
        ).collect()[0]

    def _route(self, ctx: Context) -> None:
        accepted, quarantined = ctx.job.quarantine(ctx.job.annotate(ctx.df))
        accepted.write.mode("overwrite").parquet(os.path.join(ctx.out_dir, "accepted"))
        quarantined.write.mode("overwrite").parquet(os.path.join(ctx.out_dir, "quarantined"))

    def run_pass(self, ctx: Context) -> dict:
        gate = self._gate(ctx)
        if not gate["within_budget"]:  # the CLI stops here, writing nothing
            return {"gate": gate}
        summary = ctx.job.run(ctx.df, ctx.out_dir)
        self._route(ctx)
        return {"gate": gate, **summary}

    def traced_pass(self, ctx: Context, tracer) -> tuple:
        with tracer.span("pass"):
            with tracer.span("operators.gate"):
                gate = self._gate(ctx)
            summary, extra = self._traced_run(ctx, tracer)
            with tracer.span("plans.quarantine_write"):
                self._route(ctx)
        extra["operators.gate_rows"] = gate["n_sampled"]
        return {"gate": gate, **summary}, extra

    def observe(self, ctx: Context, result: dict) -> dict:
        gate = result["gate"]
        observed = {
            "gate_n_sampled": gate["n_sampled"],
            "gate_within_budget": gate["within_budget"],
        }
        if not gate["within_budget"]:
            return observed
        n_accepted, n_quarantined = (
            inputs.parquet_rows(os.path.join(ctx.out_dir, name))
            for name in ("accepted", "quarantined")
        )
        return {
            **observed,
            "n_rows": result["n_rows"],
            "n_invalid": result["n_invalid"],
            "duplicates": result["duplicates"].get("doc_id"),
            "orphans": result["orphans"].get("source"),
            "routed_rows": n_accepted + n_quarantined,
            "quarantined": n_quarantined,
        }


class JsonIngest(_ValidateRun):
    name = "json_ingest"
    rows = 8_000
    warm_passes = 1
    timed_passes = 5
    spec = inputs.JSON_TABLE_SPEC

    def prepare(self, spark, cache_dir: str, seed: int) -> str:
        return inputs.jsonl_text(spark, cache_dir, self.rows, seed)

    def read(self, spark, path: str):
        return read_jsonl(spark, path, JSON_SCHEMA)

    def expected(self) -> dict:
        return inputs.jsonl_expected(self.rows)

    def scan_columns(self, ctx: Context) -> list:
        return ["doc_id", "doc"]

    def scan_bytes(self, ctx: Context) -> int:
        return inputs.input_bytes(ctx.path)  # text: every line is read whole

    def observe(self, ctx: Context, summary: dict) -> dict:
        # a malformed line is the only row that fails `required_doc_id`
        lineage = os.path.join(ctx.out_dir, "lineage")
        malformed = inputs.parquet_column_sum(lineage, "fail_required_doc_id")
        return {
            "n_rows": summary["n_rows"],
            "n_invalid": summary["n_invalid"],
            "n_malformed": malformed,
        }

    def traced_pass(self, ctx: Context, tracer) -> tuple:
        with tracer.span("pass"):
            return self._traced_run(ctx, tracer)


WORKLOADS = {w.name: w for w in (CorpusValidate(), JsonIngest())}
