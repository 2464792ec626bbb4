"""Seeded benchmark inputs, generated inside Spark and cached on disk.

Both inputs place their defects at row positions ``i`` with
``(i + 1) % p == 0`` for a prime ``p`` per defect kind, so every expected
count is a closed form in the row count alone: the seed moves the content
(lengths, tokens, field values), never the defect positions.

Inputs are cached per (input kind, rows, seed) under the benchmark's work
directory behind a completion marker that is written only after Spark's
write succeeded, so an interrupted generation is redone, never reused.
"""

from __future__ import annotations

import math
import os
import shutil
from itertools import combinations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from jsonschema_spark.sources import corpus as corpus_src

MARKER = "_PERFBENCH_COMPLETE"
FILES = 8  # four cores read two files each; a fixed layout for every seed

# ---- closed forms ----------------------------------------------------------


def count_positions(n_rows: int, primes) -> int:
    """Rows ``i < n_rows`` with ``(i + 1)`` divisible by any of ``primes``
    (inclusion-exclusion; the primes are distinct, so lcm = product)."""
    total = 0
    for k in range(1, len(primes) + 1):
        for subset in combinations(primes, k):
            total += (-1) ** (k + 1) * (n_rows // math.prod(subset))
    return total


def corpus_expected(n_rows: int) -> dict:
    """Verdict counts of ``sources.corpus.corpus`` under
    ``benchlib.CORPUS_SPEC_DICT``.

    A row is invalid when its ``n_tok`` is out of bounds, disagrees with
    ``size(tokens)``, or its source is unregistered; duplicate ids are a
    table-level finding and leave the row valid."""
    injected = corpus_src.expected_violation_counts(n_rows)
    return {
        "n_rows": n_rows,
        "n_invalid": count_positions(
            n_rows, (corpus_src.NTOK_MOD, corpus_src.LEN_MOD, corpus_src.SRC_MOD)
        ),
        "duplicates": injected["dup_doc_id"],
        "orphans": injected["bad_source"],
    }


# JSONL defects: one prime per kind (~1% schema-invalid, ~0.5% malformed)
MALFORMED_MOD = 199   # line truncated: not JSON at all
SCORE_MOD = 389       # score above its maximum
NO_KIND_MOD = 397     # required member "kind" missing
EXTRA_KEY_MOD = 401   # root member outside the declared properties
META_N_MOD = 409      # nested meta.n below its minimum
JSON_DEFECT_MODS = (MALFORMED_MOD, SCORE_MOD, NO_KIND_MOD, EXTRA_KEY_MOD, META_N_MOD)


def jsonl_expected(n_rows: int) -> dict:
    """Verdict counts of ``jsonl_lines`` under ``JSON_TABLE_SPEC``:
    every defect makes its row invalid, and a malformed line arrives with
    every data column null, so it also fails ``required``."""
    return {
        "n_rows": n_rows,
        "n_invalid": count_positions(n_rows, JSON_DEFECT_MODS),
        "n_malformed": n_rows // MALFORMED_MOD,
    }


# ---- generators --------------------------------------------------------------


def _u(i, seed: int, tag: int):
    """Uniform double in [0, 1) from (row id, seed, stream tag)."""
    h = F.xxhash64(i, F.lit(seed), F.lit(tag))
    return F.pmod(h, F.lit(1_000_000_007)).cast("double") / 1_000_000_007.0


def _at(i, seed: int, tag: int, options: list):
    idx = F.pmod(F.xxhash64(i, F.lit(seed), F.lit(tag)), F.lit(len(options)))
    return F.element_at(F.array(*[F.lit(o) for o in options]), idx.cast("int") + 1)


def _pareto(u, scale: float, alpha: float, cap: int):
    """Power-law size: ``scale * (1 - u) ** (-1 / alpha)``, capped."""
    return F.least(
        F.lit(cap), F.floor(F.lit(scale) * F.pow(F.lit(1.0) - u, F.lit(-1.0 / alpha)))
    ).cast("int")


def _hit(i, mod: int):
    return F.pmod(i + F.lit(1), F.lit(mod)) == 0


KINDS = ["article", "comment", "review", "post", "note", "answer"]
LANGS = ["en", "de", "fr", "es", "ja", "pt-BR", "zh-Hant"]
DOC_SOURCES = ["crawl", "api", "upload", "mirror", "partner"]


def jsonl_lines(spark: SparkSession, n_rows: int, seed: int, partitions: int = FILES):
    """One ``value`` string per row: ``{"doc_id": ..., "doc": {...}}``.

    Document size follows a power law through the ``body`` length
    (Pareto, alpha 1.3, 48 to 16384 characters) and the ``tags`` count
    (Pareto, alpha 1.5, 0 to 63 tags)."""
    i = F.col("id")
    body_len = _pareto(_u(i, seed, 1), 48.0, 1.3, 16384)
    body = F.substring(
        F.repeat(
            _at(i, seed, 2, ["lorem ", "ipsum ", "dolor ", "sit amet "]),
            (body_len / F.lit(6)).cast("int") + 1,
        ),
        1,
        body_len,
    )
    n_tags = _pareto(_u(i, seed, 3), 1.0, 1.5, 64) - 1
    tags = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_tags),
            lambda k: F.format_string('"t%d"', F.pmod(F.xxhash64(i, F.lit(seed), k), F.lit(500))),
        ),
        ",",
    )
    tags = F.when(n_tags > 0, tags).otherwise(F.lit(""))
    score = F.when(_hit(i, SCORE_MOD), F.lit("150.5")).otherwise(
        F.format_number(F.lit(100.0) * _u(i, seed, 4), 2)
    )
    kind = F.when(_hit(i, NO_KIND_MOD), F.lit("")).otherwise(
        F.concat(F.lit('"kind":"'), _at(i, seed, 5, KINDS), F.lit('",'))
    )
    extra = F.when(_hit(i, EXTRA_KEY_MOD), F.lit(',"extra":true')).otherwise(F.lit(""))
    meta_n = F.when(_hit(i, META_N_MOD), F.lit(-1)).otherwise(
        F.pmod(F.xxhash64(i, F.lit(seed), F.lit(6)), F.lit(10_000))
    )
    doc = F.concat(
        F.lit('{"id":'), i.cast("string"), F.lit(","),
        kind,
        F.lit('"score":'), score,
        F.lit(',"meta":{"lang":"'), _at(i, seed, 7, LANGS),
        F.lit('","n":'), meta_n.cast("string"),
        F.lit(',"src":"'), _at(i, seed, 8, DOC_SOURCES), F.lit('"}'),
        F.lit(',"body":"'), body, F.lit('"'),
        F.lit(',"tags":['), tags, F.lit("]"),
        extra,
        F.lit("}"),
    )
    line = F.concat(
        F.lit('{"doc_id":"'), F.format_string("j-%010d", i), F.lit('","doc":'), doc, F.lit("}")
    )
    # a malformed line is the valid line cut short of its two closing braces
    cut = F.expr("substring(line, 1, length(line) - 2)")
    return (
        spark.range(0, n_rows, 1, partitions)
        .select(i, line.alias("line"))
        .select(F.when(_hit(i, MALFORMED_MOD), cut).otherwise(F.col("line")).alias("value"))
    )


def _cached(path: str, write) -> str:
    if not os.path.exists(os.path.join(path, MARKER)):
        shutil.rmtree(path, ignore_errors=True)
        write(path)
        with open(os.path.join(path, MARKER), "w") as fh:
            fh.write("ok\n")
    return path


def corpus_parquet(spark: SparkSession, root: str, n_rows: int, seed: int) -> str:
    """``sources.corpus.corpus(seed)`` as parquet, cached."""
    return _cached(
        os.path.join(root, f"corpus_n{n_rows}_s{seed}"),
        lambda p: corpus_src.corpus(spark, n_rows, seed=seed, num_partitions=FILES)
        .write.parquet(p),
    )


def jsonl_text(spark: SparkSession, root: str, n_rows: int, seed: int) -> str:
    """``jsonl_lines`` as newline-delimited text files, cached."""
    return _cached(
        os.path.join(root, f"jsonl_n{n_rows}_s{seed}"),
        lambda p: jsonl_lines(spark, n_rows, seed).write.text(p),
    )


def input_bytes(path: str) -> int:
    """Bytes of the data files under a cached input directory."""
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith(("_", "."))
    )


def _parquet_files(path: str) -> list:
    return [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory, from the file footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


def parquet_column_sum(path: str, column: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        int(pq.read_table(f, columns=[column]).column(0).to_numpy().sum())
        for f in _parquet_files(path)
    )


def parquet_column_bytes(path: str, columns: list) -> int:
    """Compressed bytes of ``columns`` in the parquet files under ``path``
    (nested columns count every leaf)."""
    import pyarrow.parquet as pq

    total = 0
    for f in _parquet_files(path):
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            for c in range(group.num_columns):
                chunk = group.column(c)
                if chunk.path_in_schema.split(".")[0] in columns:
                    total += chunk.total_compressed_size
    return total


# The document contract. It stays inside the subset compiler/variant.py
# lowers (object/required/properties with scalar type gates, bounds,
# lengths, root additionalProperties:false), so a native variant path for
# json_columns can be measured against the kernel path on this input.
DOC_SPEC = {
    "type": "object",
    "required": ["id", "kind", "score", "meta", "body"],
    "additionalProperties": False,
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "kind": {"type": "string", "minLength": 1, "maxLength": 16},
        "score": {"type": "number", "minimum": 0, "maximum": 100},
        "meta": {
            "type": "object",
            "required": ["lang", "n"],
            "properties": {
                "lang": {"type": "string", "minLength": 2, "maxLength": 8},
                "n": {"type": "integer", "minimum": 0},
                "src": {"type": "string", "maxLength": 32},
            },
        },
        "body": {"type": "string", "maxLength": 20000},
        "tags": {},
    },
}

JSON_TABLE_SPEC = {
    "columns": {"doc_id": {"type": "string", "pattern": "^j-[0-9]{10}$"}},
    "required": ["doc_id", "doc"],
    "json_columns": {"doc": DOC_SPEC},
}
