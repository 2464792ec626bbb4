"""TableSpec — the engine's declarative query language — and its compiled
form.

A TableSpec is to this engine what the schema document is to the reference
(/root/reference/raw_schema.go:85-120): a JSON-serializable constraint
specification. Instead of addressing one JSON document by pointer, it
addresses a *table* by column name, and adds the table-scope checks the
north rule requires (uniqueness, referential, drift, stats).

Compilation happens once, driver-side (the reference's compile-once contract,
compiler.go:48-247): every per-column draft-4 spec lowers to a native Column
predicate via compiler/columns.py; a column spec that cannot lower natively
(cyclic refs, regex-dialect-gated patterns, ...) falls back to an
Arrow-batched kernel that validates the raw string VALUE with the
pure-Python evaluator *only if* the column is a string column — otherwise
compilation fails loudly. (JSON-text columns are the separate, explicit
``json_columns`` path.)

Example::

    spec = TableSpec.from_dict({
        "columns": {
            "doc_id": {"type": "string", "pattern": "^doc-[0-9]{12}$"},
            "tokens": {"type": "array", "minItems": 1,
                        "items": {"type": "integer", "minimum": 0,
                                  "maximum": 50256}},
            "n_tok":  {"type": "integer", "minimum": 1, "maximum": 2048},
        },
        "required": ["doc_id", "tokens", "n_tok", "source"],
        "row_checks": {"len_consistent": "n_tok = size(tokens)"},
        "unique": ["doc_id"],
        "references": {"source": {"dim": "dim_source", "key": "source_id"}},
        "drift": {"n_tok": {"bins": 64, "lo": 0, "hi": 2560},
                   "token_freq": true},
    })
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.compiler.columns import (
    LoweringError,
    PrecisionWarning,
    lower_dynamic_key_violations,
    lower_named_predicates,
    lower_predicate,
)
from jsonschema_spark.compiler.kernel import json_validation_kernel, value_validation_kernel
from jsonschema_spark.spec.compile import SpecError, compile_spec


@dataclass
class TableSpec:
    columns: dict = field(default_factory=dict)       # col -> draft-4 keyword dict
    required: list = field(default_factory=list)      # cols that must be non-null
    row_checks: dict = field(default_factory=dict)    # name -> SQL boolean expr
    json_columns: dict = field(default_factory=dict)  # col of JSON text -> spec
    unique: list = field(default_factory=list)        # key columns, each unique
    references: dict = field(default_factory=dict)    # col -> {"dim": name, "key": col}
    drift: dict = field(default_factory=dict)         # col -> {bins, lo, hi}; "token_freq": bool

    @classmethod
    def from_dict(cls, raw: dict) -> "TableSpec":
        known = {
            "columns", "required", "row_checks", "json_columns", "unique",
            "references", "drift",
        }
        unknown = set(raw) - known
        if unknown:
            raise SpecError(f"unknown TableSpec keys: {sorted(unknown)}")
        return cls(**{k: raw[k] for k in known if k in raw})

    @classmethod
    def from_json(cls, text: str) -> "TableSpec":
        return cls.from_dict(json.loads(text))


@dataclass
class CompiledPlan:
    """Named boolean check columns plus table-check descriptors; the verdict
    select is one projection over the scan (zero extra passes)."""

    spec: TableSpec
    checks: dict          # check name -> Column (True = pass; never NULL)
    kernel_checks: dict   # check name -> Column (pandas-UDF backed)
    unique: list
    references: dict
    drift: dict
    # check name -> {json-pointer path -> Column}: per-field predicates for
    # struct columns (conjunction == the check), so violations can report
    # the failing field path (reference's path-wrapped errors)
    detail: dict = field(default_factory=dict)
    # check name -> {path -> spec-fragment JSON}: the constraint text at
    # each detailed path (compile-time constant; the reference's keyword-
    # bearing error messages, README.md:41-42)
    detail_specs: dict = field(default_factory=dict)
    # check name -> verdict STRUCT Column (valid, n_violations, first_path,
    # first_keyword, first_message) for kernel-backed checks — annotate
    # materializes the struct once and derives the boolean from it, so
    # violations() can report the evaluator's own path/keyword/message
    kernel_verdicts: dict = field(default_factory=dict)
    # check name -> array<struct<path,detail>> Column of per-key failures on
    # map keys matched only dynamically (patternProperties /
    # additionalProperties) — their names exist only at runtime, so these
    # paths can't live in `detail`'s static dict. Invariant (pinned by
    # tests/test_violation_paths.py): AND(detail[name].values()) AND
    # size(detail_dynamic[name]) == 0 == checks[name].
    detail_dynamic: dict = field(default_factory=dict)

    @property
    def check_names(self) -> list:
        return list(self.checks) + list(self.kernel_checks)

    def annotate(self, df: DataFrame) -> DataFrame:
        """df + one boolean check column per check + the `_valid`
        conjunction (see the verdict-frame helpers below). Kernel checks
        with a verdict struct land as `_verdict_<name>` + the derived
        boolean — the kernel runs ONCE for both."""
        out = df
        for name, pred in self.checks.items():
            out = out.withColumn(check_column(name), pred)
        for name, pred in self.kernel_checks.items():
            verdict = self.kernel_verdicts.get(name)
            if verdict is not None:
                out = out.withColumn(_VERDICT + name, verdict)
                pred = F.col(_VERDICT + name).getField("valid")
            out = out.withColumn(check_column(name), pred)
        return with_valid(out)


# ---- the verdict frame ---------------------------------------------------
#
# An annotated frame is the input plus one boolean `chk_<check>` column per
# check, a `_verdict_<check>` struct per kernel check that reports its own
# error location, and the `_valid` conjunction. This module is the only one
# that spells those names: every reader goes through the helpers below, and
# all of them count a NULL verdict as a failure (reject on unknown, the
# reference's fail-fast accept/reject, validate.go:15-21).

_CHECK = "chk_"
_VERDICT = "_verdict_"
_VALID = "_valid"


def check_column(name: str) -> str:
    """Column name of check ``name`` in an annotated frame."""
    return _CHECK + name


def check_columns(df: DataFrame) -> list:
    """The check columns of an annotated frame, in frame order."""
    return [c for c in df.columns if c.startswith(_CHECK)]


def _passed(col_name: str) -> Column:
    return F.coalesce(F.col(col_name), F.lit(False))


def check_failures(df: DataFrame) -> dict:
    """check name -> Column that is true when the row fails that check (a
    NULL verdict fails), in frame order."""
    return {c.removeprefix(_CHECK): ~_passed(c) for c in check_columns(df)}


def with_valid(df: DataFrame) -> DataFrame:
    """(Re)compute `_valid` as the conjunction of every check column."""
    valid = F.lit(True)
    for c in check_columns(df):
        valid = valid & _passed(c)
    return df.withColumn(_VALID, valid)


def is_valid() -> Column:
    """The row verdict of an annotated frame; a NULL `_valid` rejects."""
    return _passed(_VALID)


def failed_checks(df: DataFrame) -> Column:
    """Sorted array of the names of the checks a row fails — evaluated in
    the scan stage, bounded by the number of checks."""
    failures = check_failures(df)
    return F.filter(
        F.array(*[F.when(failures[n], F.lit(n)) for n in sorted(failures)]),
        lambda x: x.isNotNull(),
    )


def verdict_counts(df: DataFrame) -> list:
    """Aggregate columns ``n_rows``, ``n_valid`` and one ``fail_<check>``
    per check (frame order) — the lineage / window summary shape."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(is_valid().cast("long")).alias("n_valid"),
    ] + [
        F.sum(failed.cast("long")).alias(f"fail_{name}")
        for name, failed in check_failures(df).items()
    ]


def kernel_verdict(df: DataFrame, name: str) -> Optional[Column]:
    """The materialized verdict struct of kernel check ``name``, if any."""
    col_name = _VERDICT + name
    return F.col(col_name) if col_name in df.columns else None


def annotation_columns(df: DataFrame) -> list:
    """Every column annotation added — strip these to recover the payload."""
    return [c for c in df.columns if c.startswith((_CHECK, _VERDICT)) or c == _VALID]


def compile_table_spec(spec: TableSpec, schema: T.StructType) -> CompiledPlan:
    checks: dict = {}
    kernel_checks: dict = {}
    detail: dict = {}
    detail_dynamic: dict = {}
    detail_specs: dict = {}
    fields = {f.name: f.dataType for f in schema.fields}

    for col_name, col_spec in spec.columns.items():
        if col_name not in fields:
            raise SpecError(f"column {col_name!r} not in table schema")
        compiled = compile_spec(col_spec)
        name = f"col_{col_name}"
        detail_specs[name] = {"": _spec_fragment_at(col_spec, "")}
        try:
            import warnings

            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                native = lower_predicate(
                    compiled, F.col(col_name), fields[col_name]
                )
            precision_lost = any(
                issubclass(c.category, PrecisionWarning) for c in caught
            )
            for c in caught:  # pass through anything we didn't handle
                if not issubclass(c.category, PrecisionWarning):
                    warnings.warn_explicit(c.message, c.category, c.filename, c.lineno)
            if precision_lost and not isinstance(
                fields[col_name], (T.StructType, T.MapType)
            ):
                # a bound beyond Spark's exact range (long / Decimal(38))
                # would compile to a double approximation — route the check
                # to the evaluator kernel's exact-Fraction math instead
                # (reference: internal/jsonequal/equal.go:39-79 compares
                # 1e1000 exactly via big.Rat)
                kernel_checks[name] = value_validation_kernel(
                    col_spec, F.col(col_name)
                )
                continue
            checks[name] = native
            if isinstance(fields[col_name], (T.StructType, T.MapType)):
                dyn = lower_dynamic_key_violations(
                    compiled, F.col(col_name), fields[col_name], raw_spec=col_spec
                )
                named = lower_named_predicates(
                    compiled,
                    F.col(col_name),
                    fields[col_name],
                    dynamic_paths=dyn is not None,
                )
                if dyn is not None:
                    detail_dynamic[name] = dyn
                if len(named) > 1 or dyn is not None:
                    detail[name] = named
                    detail_specs[name] = {
                        path: _spec_fragment_at(col_spec, path) for path in named
                    }
        except LoweringError:
            if isinstance(fields[col_name], T.StringType):
                # kernel fallback validates the cell as a raw string VALUE
                # (json_columns is the explicit JSON-text path) — used when
                # the native lowering refuses, e.g. the regex dialect gate
                kernel_checks[name] = value_validation_kernel(
                    col_spec, F.col(col_name)
                )
            else:
                raise

    for col_name in spec.required:
        if col_name not in fields:
            raise SpecError(f"required column {col_name!r} not in table schema")
        checks[f"required_{col_name}"] = F.col(col_name).isNotNull()

    for name, expr in spec.row_checks.items():
        checks[f"row_{name}"] = F.coalesce(F.expr(expr), F.lit(False))
        detail_specs[f"row_{name}"] = {"": expr}

    kernel_verdicts: dict = {}
    for col_name, col_spec in spec.json_columns.items():
        if not isinstance(fields.get(col_name), T.StringType):
            raise SpecError(f"json column {col_name!r} must be a string column")
        verdict = json_validation_kernel(col_spec, F.col(col_name))
        kernel_verdicts[f"json_{col_name}"] = verdict
        kernel_checks[f"json_{col_name}"] = verdict.getField("valid")

    for col_name in spec.unique:
        if col_name not in fields:
            raise SpecError(f"unique column {col_name!r} not in table schema")
    for col_name, ref in spec.references.items():
        if col_name not in fields:
            raise SpecError(f"reference column {col_name!r} not in table schema")
        if not isinstance(ref, dict) or "dim" not in ref or "key" not in ref:
            raise SpecError(f"reference for {col_name!r} needs {{'dim','key'}}")

    return CompiledPlan(
        spec=spec,
        checks=checks,
        kernel_checks=kernel_checks,
        unique=list(spec.unique),
        references=dict(spec.references),
        drift=dict(spec.drift),
        detail=detail,
        detail_dynamic=detail_dynamic,
        detail_specs=detail_specs,
        kernel_verdicts=kernel_verdicts,
    )


def _spec_fragment_at(raw_spec: dict, path: str) -> Optional[str]:
    """Compact JSON of the subschema a detail path points at — walks the raw
    spec's nested `properties` chain ('' -> the whole spec). Paths reached
    only via patternProperties/additionalProperties yield None (the path
    alone still locates the failure)."""
    node = raw_spec
    if path:
        for token in path.lstrip("/").split("/"):
            props = node.get("properties") if isinstance(node, dict) else None
            if not isinstance(props, dict) or token not in props:
                return None
            node = props[token]
    try:
        return json.dumps(node, sort_keys=True, separators=(",", ":"))
    except (TypeError, ValueError):
        return None
