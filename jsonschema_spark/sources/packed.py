"""Packed-binary token storage — an opt-in accelerated scan layout.

The headline validation pass is scan-bound: Parquet's nested-array encoding
of ``tokens array<int>`` forces per-element assembly (definition/repetition
levels, one cell per token) and saturates single-box memory bandwidth well
before 32 cores (BASELINE.md: 8→32 efficiency 0.38 with the verdict
expressions alone scaling 4.8x). Packing each document's tokens into ONE
little-endian int32 BLOB turns the hot column into a flat byte column:
Parquet stores/streams it as plain byte arrays, and the token-level checks
run as numpy views over Arrow buffers (zero-copy per batch, one
``frombuffer`` + ``reduceat`` per check).

Semantics are unchanged and proven: ``packed_validation_pass`` produces the
same verdict counts as the array-layout pass, and unpack(pack(x)) == x is
the engine's per-row token-array-equality invariant (BASELINE.json
input_hint), asserted in tests/test_packed.py.

Layout contract: ``tokens_bin = tobytes(int32 little-endian)``; n_tok and
all other columns unchanged. ``octet_length(tokens_bin) = 4 * size(tokens)``
makes the length-consistency row check NATIVE on the packed layout.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

TOKEN_BYTES = 4


def pack_tokens(col: Column) -> Column:
    """array<int> -> binary (little-endian int32). Arrow-batched."""

    @pandas_udf(T.BinaryType())
    def _pack(tokens: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if t is None else np.asarray(t, dtype="<i4").tobytes()
                for t in tokens
            ]
        )

    return _pack(col)


def unpack_tokens(col: Column) -> Column:
    """binary -> array<int> (inverse of pack_tokens)."""

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _unpack(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if b is None else np.frombuffer(b, dtype="<i4")
                for b in blobs
            ]
        )

    return _unpack(col)


def token_bounds_kernel(lo: int, hi: int):
    """Vectorized bounds check over packed blobs: one frombuffer over the
    batch's concatenated bytes + per-document segment min/max via
    np.minimum/maximum.reduceat — no per-token Python, no per-document loop.
    NULL blob -> False (the spec requires the member)."""

    @pandas_udf(T.BooleanType())
    def _ok(blobs: pd.Series) -> pd.Series:
        n = len(blobs)
        lens = np.fromiter(
            (0 if b is None else len(b) // TOKEN_BYTES for b in blobs),
            dtype=np.int64,
            count=n,
        )
        isnull = np.fromiter((b is None for b in blobs), dtype=bool, count=n)
        total = int(lens.sum())
        out = np.zeros(n, dtype=bool)
        if total:
            flat = np.frombuffer(
                b"".join(b for b in blobs if b), dtype="<i4"
            )
            offsets = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            nonempty = lens > 0
            starts = offsets[nonempty]
            seg_min = np.minimum.reduceat(flat, starts)
            seg_max = np.maximum.reduceat(flat, starts)
            out[nonempty] = (seg_min >= lo) & (seg_max <= hi)
        # empty-but-present blobs: no tokens violate bounds (minItems is a
        # separate native check on octet_length)
        out[(lens == 0) & ~isnull] = True
        return pd.Series(out)

    return _ok


def pack_corpus(spark: SparkSession, corpus_path: str, packed_path: str) -> str:
    """One-time layout conversion of a materialized corpus. Besides the
    blob, the writer folds in ZONE-MAP statistics computed natively from
    the source array (tok_min / tok_max / n_bytes) — the ingest-time
    validation contract: once the payload is statistics-stamped, a
    re-validation pass reads ONLY the small metadata columns and never
    touches the blob (see packed_stats_validation_pass)."""
    marker = os.path.join(packed_path, "_SUCCESS")
    if not os.path.exists(marker):
        df = spark.read.parquet(corpus_path)
        df.select(
            "doc_id",
            pack_tokens(F.col("tokens")).alias("tokens_bin"),
            "n_tok",
            "source",
            F.array_min("tokens").alias("tok_min"),
            F.array_max("tokens").alias("tok_max"),
            (F.size("tokens").cast("long") * TOKEN_BYTES).alias("n_bytes"),
        ).write.mode("overwrite").parquet(packed_path)
    return packed_path


def _corpus_checks_from(
    df, bounds_ok_col: Column, len_col: Column, tokens_present: Column,
    max_tokens: int,
):
    """Shared verdict assembly for the packed passes: every check except
    the token-content one is identical native SQL."""
    from jsonschema_spark.operators.referential import domain_flag
    from jsonschema_spark.plans.plan import check_column, with_valid
    from jsonschema_spark.sources.corpus import dim_source

    checks = {
        "col_doc_id": F.col("doc_id").rlike("^doc-[0-9]{12}$"),
        "col_tokens": bounds_ok_col,
        "col_n_tok": (F.col("n_tok") >= 1) & (F.col("n_tok") <= max_tokens),
        "required_doc_id": F.col("doc_id").isNotNull(),
        "required_tokens": tokens_present,
        "required_n_tok": F.col("n_tok").isNotNull(),
        "required_source": F.col("source").isNotNull(),
        "row_len_consistent": F.col("n_tok") * TOKEN_BYTES == len_col,
    }
    annotated = df
    for name, pred in checks.items():
        annotated = annotated.withColumn(
            check_column(name), F.coalesce(pred, F.lit(False))
        )
    annotated = domain_flag(
        annotated, "source", dim_source(df.sparkSession), "source_id",
        check_column("ref_source"),
    )
    return with_valid(annotated)


def packed_stats_validation_pass(spark: SparkSession, packed_path: str):
    """Metadata-only re-validation of a statistics-stamped packed corpus —
    the 100TB shape: token bounds come from the ingest-time zone maps
    (tok_min / tok_max), length consistency from n_bytes, so the pass scans
    ONLY the six small metadata columns and the multi-GB blob column is
    never read (Parquet column pruning; verify with .explain ReadSchema).
    Verdict counts equal the full-rescan passes by construction — asserted
    in tests/test_packed.py. Trust model: the zone maps are derived from
    the same bytes at pack time; use packed_validation_pass when the file's
    provenance is untrusted.

    Returns (n_rows, n_valid, n_tokens, n_dups)."""
    from jsonschema_spark.operators.uniqueness import duplicate_keys
    from jsonschema_spark.plans.plan import verdict_counts
    from jsonschema_spark.sources.corpus import MAX_TOKENS, VOCAB_SIZE

    df = spark.read.parquet(packed_path)
    bounds_ok = (
        (F.col("n_bytes") >= TOKEN_BYTES)
        & (F.col("tok_min") >= 0)
        & (F.col("tok_max") <= VOCAB_SIZE - 1)
    )
    annotated = _corpus_checks_from(
        df,
        bounds_ok,
        F.col("n_bytes"),
        F.col("n_bytes").isNotNull(),
        MAX_TOKENS,
    )
    row = annotated.agg(
        *verdict_counts(annotated), F.sum("n_tok").alias("n_tokens")
    ).collect()[0]
    n_dups = duplicate_keys(df.select("doc_id"), "doc_id").count()
    return row.n_rows, row.n_valid, row.n_tokens or 0, n_dups


def packed_validation_pass(spark: SparkSession, packed_path: str):
    """Full-rescan validation on the packed layout — same checks, same
    verdict counts as benchlib.corpus_validation_pass on the array layout:
    token value bounds run in the Arrow reduceat kernel over the blobs;
    everything else is native. Use when the zone-map stamps can't be
    trusted (packed_stats_validation_pass is the fast path otherwise).

    Measured honestly (BASELINE.md): on a single box this roughly TIES the
    array layout — shipping every blob byte through Arrow to Python costs
    about what Parquet nested-array assembly saves. The layout's win is
    the stats pass (blob never read), not the rescan.

    Returns (n_rows, n_valid, n_tokens, n_dups).
    """
    from jsonschema_spark.operators.uniqueness import duplicate_keys
    from jsonschema_spark.plans.plan import verdict_counts
    from jsonschema_spark.sources.corpus import MAX_TOKENS, VOCAB_SIZE

    df = spark.read.parquet(packed_path)
    bounds_ok = token_bounds_kernel(0, VOCAB_SIZE - 1)
    annotated = _corpus_checks_from(
        df,
        (F.octet_length("tokens_bin") >= TOKEN_BYTES)
        & F.coalesce(bounds_ok(F.col("tokens_bin")), F.lit(False)),
        F.octet_length("tokens_bin").cast("long"),
        F.col("tokens_bin").isNotNull(),
        MAX_TOKENS,
    )
    row = annotated.agg(
        *verdict_counts(annotated), F.sum("n_tok").alias("n_tokens")
    ).collect()[0]
    n_dups = duplicate_keys(df, "doc_id").count()
    return row.n_rows, row.n_valid, row.n_tokens or 0, n_dups
