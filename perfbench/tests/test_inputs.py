from __future__ import annotations

import json
import re

import pytest

from perfbench import inputs


def _brute(n_rows, primes):
    return sum(1 for i in range(n_rows) if any((i + 1) % p == 0 for p in primes))


@pytest.mark.parametrize("n_rows", [0, 1, 198, 199, 5_000, 80_000])
def test_count_positions_matches_brute_force(n_rows):
    for primes in [inputs.JSON_DEFECT_MODS, (331, 613, 347), (2, 3, 5)]:
        assert inputs.count_positions(n_rows, primes) == _brute(n_rows, primes)


def test_jsonl_generator_matches_its_closed_form_counts(spark):
    """An oracle independent of the engine's Spark path: parse every line
    with ``json`` and validate the document with the evaluator."""
    from jsonschema_spark.spec.compile import compile_spec
    from jsonschema_spark.spec.evaluate import validate_value

    n_rows = 4_000
    lines = [r.value for r in inputs.jsonl_lines(spark, n_rows, seed=7, partitions=2).collect()]
    assert len(lines) == n_rows
    spec = compile_spec(inputs.DOC_SPEC)
    doc_id = re.compile(inputs.JSON_TABLE_SPEC["columns"]["doc_id"]["pattern"])
    malformed = invalid = 0
    sizes = []
    for line in lines:
        try:
            row = json.loads(line)
        except json.JSONDecodeError:
            malformed += 1
            invalid += 1
            continue
        sizes.append(len(line))
        if not doc_id.match(row["doc_id"]) or validate_value(spec, row["doc"]):
            invalid += 1
    expected = inputs.jsonl_expected(n_rows)
    assert malformed == expected["n_malformed"] == n_rows // inputs.MALFORMED_MOD
    assert invalid == expected["n_invalid"]
    # power-law sizes: a long tail well above the median line
    sizes.sort()
    assert sizes[-1] > 10 * sizes[len(sizes) // 2]


def test_jsonl_generator_is_a_function_of_the_seed(spark):
    def lines(seed):
        return [r.value for r in inputs.jsonl_lines(spark, 300, seed=seed, partitions=3).collect()]

    assert lines(3) == lines(3)
    assert lines(3) != lines(4)


def test_doc_spec_stays_inside_the_variant_subset(spark):
    from pyspark.sql import functions as F

    from jsonschema_spark.compiler.variant import variant_validation_predicate

    variant_validation_predicate(inputs.DOC_SPEC, F.col("doc"))  # raises outside the subset
