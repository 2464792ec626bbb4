"""Table-level acceptance checks beyond plain counts: per-group violation
rates with Wilson confidence bounds, IQR outlier detection, and per-key
monotonicity validation (new semantics per the north rule — the reference
validates single documents, SURVEY.md §2.3 extends to table scale).

Scale shapes:
- ``wilson_rates``: one groupBy on a low-cardinality group column →
  map-side partial aggregation; the Wilson arithmetic runs on ≤ groups
  rows. No skew exposure (a hot group still reduces to one row per
  partition before the shuffle).
- ``iqr_bounds`` / ``iqr_outlier_counts``: exact per-group percentiles
  (one shuffle on the group key), then the per-row flagging joins the
  ≤ groups bounds table back with an explicit broadcast — the big table
  is never shuffled for the flagging pass.
- ``monotonic_violations``: one window shuffle partitioned by the entity
  key; state per key is a single lag value, so skew is bounded by the
  largest single entity (same contract as any sessionization pass).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def wilson_rates(
    df: DataFrame,
    group_col: str,
    fail_col: Column,
    z: float = 1.96,
    decimals: int = 6,
) -> DataFrame:
    """Per-group failure rate with the Wilson score interval
    ``(group, n, fails, rate, wilson_lo, wilson_hi)``.

    The Wilson interval is the right acceptance gate for violation rates
    at very different group sizes: a 2/10 group gets a wide bound while a
    2000/10^7 group gets a tight one, so one threshold on ``wilson_hi``
    works across sources (a raw rate threshold would flap on small
    sources). All arithmetic is native Column expressions over the
    already-aggregated per-group row.
    """
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(fail_col.cast("long")).alias("fails"),
    )
    n = F.col("n").cast("double")
    p = F.col("fails") / n
    z2 = F.lit(float(z) * float(z))
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n))
        / denom
    )
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("n"),
        F.col("fails"),
        F.round(p, decimals).alias("rate"),
        F.round(F.greatest(center - half, F.lit(0.0)), decimals).alias("wilson_lo"),
        F.round(F.least(center + half, F.lit(1.0)), decimals).alias("wilson_hi"),
    )


def iqr_bounds(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 1.5,
) -> DataFrame:
    """Exact per-group Tukey fences ``(group, q1, q3, lo, hi)`` with
    ``lo = q1 - k*IQR``, ``hi = q3 + k*IQR``. Uses exact interpolated
    ``percentile`` (one shuffle on the group key) so the DuckDB
    ``quantile_cont`` twin matches bit-for-bit."""
    qs = F.percentile(value_col, F.array(F.lit(0.25), F.lit(0.75)))
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.element_at(qs, 1).alias("q1"), F.element_at(qs, 2).alias("q3")
    )
    iqr = F.col("q3") - F.col("q1")
    return agg.select(
        F.col("grp").alias(group_col),
        "q1",
        "q3",
        (F.col("q1") - F.lit(float(k)) * iqr).alias("lo"),
        (F.col("q3") + F.lit(float(k)) * iqr).alias("hi"),
    )


def iqr_outlier_counts(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 1.5,
    decimals: int = 6,
) -> DataFrame:
    """Per-group outlier summary ``(group, q1, q3, lo, hi, n, n_outliers)``.

    The bounds table (≤ groups rows) is broadcast back onto the raw table,
    so the second pass is a scan + broadcast hash join — the raw rows are
    shuffled exactly once (for the percentile), never for the flagging.
    """
    bounds = iqr_bounds(df, value_col, group_col, k)
    v = F.col(value_col).cast("double")
    out = (F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi"))
    return (
        df.select(F.col(group_col), v.alias("v"))
        .join(F.broadcast(bounds), on=group_col)
        .groupBy(group_col)
        .agg(
            F.round(F.first("q1"), decimals).alias("q1"),
            F.round(F.first("q3"), decimals).alias("q3"),
            F.round(F.first("lo"), decimals).alias("lo"),
            F.round(F.first("hi"), decimals).alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.sum(out.cast("long")).alias("n_outliers"),
        )
    )


def iqr_outlier_rows(
    df: DataFrame, value_col: str, group_col: str, k: float = 1.5
) -> DataFrame:
    """The flagged raw rows themselves (original columns + ``lo``/``hi``),
    for routing to a violations sink. Same broadcast-join shape as
    :func:`iqr_outlier_counts`."""
    bounds = iqr_bounds(df, value_col, group_col, k)
    v = F.col(value_col).cast("double")
    return (
        df.join(F.broadcast(bounds), on=group_col)
        .filter((v < F.col("lo")) | (v > F.col("hi")))
        .drop("q1", "q3")
    )


def token_parity(
    current: DataFrame,
    golden: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Per-row token-array equality between two snapshots of the same
    corpus — the engine's per-row invariant (SURVEY §2.2 jsonequal: the
    reference compares documents structurally; for a tokens payload that
    is element-wise array equality) lifted to a cross-snapshot validation:
    after a re-tokenization, storage migration, or resumed run, every
    ``doc_id`` must carry byte-identical tokens. Returns ONLY violation
    rows: ``(doc_id, status, len_current, len_golden, first_diff_pos)``
    with status ∈ missing_current / missing_golden / token_mismatch and
    ``first_diff_pos`` the 1-based first divergent position (a strict
    prefix diverges at len(shorter)+1, so pure length drift is caught by
    the same probe).

    Scale shape: ONE full-outer sort-merge join on the (near-unique,
    uniform) id — both sides shuffle-partition on the same key, so a
    bucketed/Iceberg-sorted layout makes it shuffle-free; the element-wise
    compare is a let-bound zip_with (evaluated once per row, no
    interpreted-HOF double eval) inside the join's project, and matching
    rows are filtered before anything else moves. Output volume is the
    violation count, not the corpus size.
    """
    from ..functions.text import let_

    cur = current.select(F.col(id_col).alias("id"), F.col(tokens_col).alias("cur"))
    gold = golden.select(F.col(id_col).alias("id"), F.col(tokens_col).alias("gold"))
    joined = cur.join(gold, on="id", how="full_outer")
    # zip_with pads the shorter side with null; null == x is null, so
    # coalesce(.., false) marks both value diffs and length overhang
    first_diff = let_(
        F.zip_with(
            F.col("cur"), F.col("gold"),
            lambda a, b: F.coalesce(a == b, F.lit(False)),
        ),
        lambda mm: F.array_position(mm, F.lit(False)),
    )
    out = joined.select(
        F.col("id").alias(id_col),
        F.when(F.col("cur").isNull(), F.lit("missing_current"))
        .when(F.col("gold").isNull(), F.lit("missing_golden"))
        .otherwise(F.lit("token_mismatch"))
        .alias("status"),
        F.size("cur").alias("len_current"),
        F.size("gold").alias("len_golden"),
        F.when(
            F.col("cur").isNotNull() & F.col("gold").isNotNull(), first_diff
        ).alias("first_diff_pos"),
    )
    # pushdown re-evaluates the probe in the filter for all rows and in the
    # project only for surviving violations — ~1 evaluation/row total
    return out.filter(
        (F.col("status") != "token_mismatch") | (F.col("first_diff_pos") > 0)
    )


def monotonic_violations(
    df: DataFrame,
    part_col: str,
    order_col: str,
    value_col: str,
    strict: bool = False,
) -> DataFrame:
    """Count ordering violations of ``value_col`` within each ``part_col``
    partition when rows are ordered by ``order_col`` (e.g. "event
    timestamps never decrease per user", "offsets strictly increase per
    shard"). Returns one row ``(n_pairs, n_violations)``.

    One window shuffle partitioned by the entity key; the lag state is a
    single value per key. ``order_col`` must be a total order within the
    partition (a unique sequence id) or the lag pairing is nondeterministic.
    """
    w = Window.partitionBy(part_col).orderBy(order_col)
    prev = F.lag(F.col(value_col)).over(w)
    bad = (
        (F.col(value_col) <= prev) if strict else (F.col(value_col) < prev)
    )
    pairs = df.select(
        prev.isNotNull().cast("long").alias("is_pair"),
        F.coalesce(bad.cast("long"), F.lit(0)).alias("is_bad"),
    )
    return pairs.agg(
        F.sum("is_pair").alias("n_pairs"),
        F.sum("is_bad").alias("n_violations"),
    )


def id_gap_audit(
    df: DataFrame,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group id-completeness audit — the ingestion check that catches
    a silently dropped batch: within each group, ids are expected to
    advance by a constant stride (inferred as the group's minimum
    positive delta), and every larger jump is a gap. Returns one row per
    group ``(group, n_rows, id_min, id_max, stride, n_breaks,
    n_missing)`` where ``n_breaks`` counts the jump sites and
    ``n_missing`` the ids the stride says should exist but don't
    (``(id_max - id_min) / stride + 1 - n_rows``).

    Scale shape: one window shuffle on the group key produces the delta
    rows (localCheckpointed — they feed the stride agg AND the break
    count, no ReusedExchange across consumers); both aggs are map-side
    combined, and the stride table joins back as a broadcast. Single-row
    groups report stride 0 and zero breaks/missing (nothing to infer)."""
    w = Window.partitionBy(group_col).orderBy(F.col(id_col))
    deltas = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).cast("long").alias("_id"),
        (F.col(id_col).cast("long") - F.lag(F.col(id_col).cast("long")).over(w)).alias(
            "_delta"
        ),
    ).localCheckpoint(eager=False)
    profile = deltas.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("_id").alias("id_min"),
        F.max("_id").alias("id_max"),
        F.coalesce(
            F.min(F.when(F.col("_delta") > 0, F.col("_delta"))), F.lit(0)
        ).alias("stride"),
    )
    breaks = (
        deltas.join(F.broadcast(profile.select("grp", "stride")), "grp")
        .filter(F.col("_delta").isNotNull() & (F.col("_delta") != F.col("stride")))
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_breaks"))
    )
    return (
        profile.join(breaks, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n_rows",
            "id_min",
            "id_max",
            "stride",
            F.coalesce("n_breaks", F.lit(0)).alias("n_breaks"),
            F.when(
                F.col("stride") > 0,
                (F.col("id_max") - F.col("id_min")) / F.col("stride")
                + 1
                - F.col("n_rows"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_missing"),
        )
    )


def sequence_structure(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    vocab_size: int = 32_000,
    bos_id: int | None = 1,
    eos_id: int | None = 2,
    pad_id: int | None = 0,
) -> DataFrame:
    """Per-sequence structural validation of pre-tokenized training rows —
    the token-payload analogue of the reference's per-document accept/
    reject walk (/root/reference/validate.go): instead of JSON keywords,
    the constraints are the invariants a trainer assumes about every
    ``tokens`` array:

    - ``vocab_ok``     — every id in ``[0, vocab_size)``
    - ``bos_ok``       — first token is ``bos_id`` (True when unset)
    - ``eos_ok``       — last token is ``eos_id`` (True when unset)
    - ``interior_special`` — count of BOS/EOS/PAD ids strictly inside the
      sequence (positions 2..n-1); padding belongs at the packer, not in
      stored sequences, and an interior EOS means two documents were glued
      without a split
    - ``n_oob``        — count of out-of-vocab ids (the violation weight)
    - ``structure_ok`` — the per-row verdict (accept/reject semantics)

    Empty sequences reject (``bos_ok``/``eos_ok`` False when a marker is
    required — there is no position to hold it).

    Scale shape: scan-stage array expressions (filter/size/element_at)
    bound once as a struct column in a lower projection — the upper
    projection references it 7 times, which blocks CollapseProject from
    inlining (non-cheap expr, multiple refs), so the interpreted HOF
    filters run once per row. Zero shuffle, zero Python; at 10^12 rows
    this rides the same scan as the rest of the verdict select.
    """
    toks = F.col(tokens_col)

    def _report(t: Column) -> Column:
        n = F.size(t)
        oob = F.size(
            F.filter(t, lambda x: (x < 0) | (x >= F.lit(int(vocab_size))))
        )
        bos_ok = (
            F.lit(True)
            if bos_id is None
            else (n >= 1) & (F.element_at(t, 1) == F.lit(int(bos_id)))
        )
        eos_ok = (
            F.lit(True)
            if eos_id is None
            else (n >= 1) & (F.element_at(t, -1) == F.lit(int(eos_id)))
        )
        special = [
            F.lit(int(s)) for s in (bos_id, eos_id, pad_id) if s is not None
        ]
        if special:
            specials = F.array(*special)
            interior = F.size(
                F.filter(
                    t,
                    lambda x, i: F.array_contains(specials, x)
                    & (i > 0)
                    & (i < n - 1),
                )
            )
        else:
            interior = F.lit(0)
        return F.struct(
            (oob == 0).alias("vocab_ok"),
            bos_ok.alias("bos_ok"),
            eos_ok.alias("eos_ok"),
            interior.alias("interior_special"),
            oob.alias("n_oob"),
        )

    rep = F.col("_r")
    return df.select(F.col(id_col), _report(toks).alias("_r")).select(
        id_col,
        rep.getField("vocab_ok").alias("vocab_ok"),
        rep.getField("bos_ok").alias("bos_ok"),
        rep.getField("eos_ok").alias("eos_ok"),
        rep.getField("interior_special").alias("interior_special"),
        rep.getField("n_oob").alias("n_oob"),
        (
            rep.getField("vocab_ok")
            & rep.getField("bos_ok")
            & rep.getField("eos_ok")
            & (rep.getField("interior_special") == 0)
        ).alias("structure_ok"),
    )


def repair_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    vocab_size: int = 32_000,
    bos_id: int = 1,
    eos_id: int = 2,
    pad_id: int = 0,
    unk_id: int = 3,
) -> DataFrame:
    """Fix-mode counterpart of ``sequence_structure``: rewrite every
    sequence into canonical form instead of rejecting it —

    1. strip ALL marker ids (BOS/EOS/PAD) wherever they occur,
    2. replace out-of-vocab ids with ``unk_id``,
    3. re-frame as ``[bos_id] + core + [eos_id]``.

    Returns ``(id, tokens, n_stripped, n_remapped, changed)``;
    ``n_stripped`` counts removed marker tokens (including correctly
    placed ones — they are re-added canonically, and counting them makes
    the number "markers seen", which is what drift dashboards want),
    ``n_remapped`` counts OOV replacements, ``changed`` is False exactly
    when the input was already canonical. An empty input becomes
    ``[bos_id, eos_id]``. By construction the output passes
    ``sequence_structure`` with the same ids (property-pinned in tests).

    Scale shape: scan-stage array expressions bound once in a lower
    projection (the same two-projection CollapseProject shape as
    ``sequence_structure``) — zero shuffle, zero Python.
    """
    toks = F.col(tokens_col)
    markers = F.array(
        F.lit(int(bos_id)), F.lit(int(eos_id)), F.lit(int(pad_id))
    )
    core = F.filter(toks, lambda t: ~F.array_contains(markers, t))

    def _report(c: Column) -> Column:
        fixed = F.concat(
            F.array(F.lit(int(bos_id)).cast("int")),
            F.transform(
                c,
                lambda t: F.when(
                    (t >= 0) & (t < F.lit(int(vocab_size))), t
                ).otherwise(F.lit(int(unk_id))),
            ),
            F.array(F.lit(int(eos_id)).cast("int")),
        )
        return F.struct(
            fixed.alias("tokens"),
            (F.size(toks) - F.size(c)).cast("int").alias("n_stripped"),
            F.size(
                F.filter(c, lambda t: (t < 0) | (t >= F.lit(int(vocab_size))))
            ).alias("n_remapped"),
        )

    rep = F.col("_r")
    return (
        df.select(F.col(id_col), toks, _report(core).alias("_r"))
        .select(
            id_col,
            rep.getField("tokens").alias("_fixed"),
            rep.getField("n_stripped").alias("n_stripped"),
            rep.getField("n_remapped").alias("n_remapped"),
            (rep.getField("tokens") != toks).alias("changed"),
        )
        .withColumnRenamed("_fixed", tokens_col)
    )


def shard_manifest(
    df: DataFrame,
    id_col: str,
    content_cols: list[str] | None = None,
) -> DataFrame:
    """(file_name, n_rows, min_id, max_id, checksum): a content-addressed
    manifest of the table's physical shards — the file-integrity /
    lineage check a resumable 10^12-row ingest needs (a re-fetched,
    truncated, or silently re-encoded shard changes its checksum even
    when row counts agree; two manifests diff by file_name to localize
    corruption without re-reading the healthy shards). The table-scope
    sibling of plans/job.py's per-unit lineage (same input_file_name
    identity).

    ``checksum`` is the bit-XOR of a 60-bit md5-derived hash of the
    '|'-joined content columns — order-invariant (parquet row order
    within a file is not contractual across engines), overflow-free at
    any row count, and reproducible in any engine with md5 (DuckDB twin:
    read_parquet(..., filename=true) + the same xor).

    Scale shape: one map-side-combined groupBy on the file name — output
    rows = shard count; nothing else shuffles."""
    from jsonschema_spark.functions.text import portable_hash60

    if content_cols is None:
        content_cols = [c for c in df.columns if c != id_col]
    row_hash = portable_hash60(
        F.concat_ws("|", F.col(id_col).cast("string"), *[
            F.col(c).cast("string") for c in content_cols
        ])
    )
    return (
        df.select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
                "file_name"
            ),
            F.col(id_col).alias("_id"),
            row_hash.alias("_h"),
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("_id").alias("min_id"),
            F.max("_id").alias("max_id"),
            F.bit_xor("_h").alias("checksum"),
        )
    )


def manifest_diff(
    current: DataFrame,
    baseline: DataFrame,
    key: str = "file_name",
) -> DataFrame:
    """(key, status, n_rows_cur, n_rows_base): diff two
    ``shard_manifest`` outputs — the incremental-sync / backup-integrity
    audit. Status: ``added`` (shard only in current), ``removed`` (only
    in baseline), ``changed`` (present in both, checksum or count
    differs), ``ok``. ``key`` identifies a shard across the two
    manifests: ``file_name`` when diffing re-reads/copies of the same
    physical files; ``min_id`` when diffing independent rewrites whose
    partitioning (and therefore id ranges) is stable but whose part-file
    names are not. Metadata-sized on both sides (rows = shard count), so
    the whole diff is a small full-outer join regardless of corpus
    size."""
    cur = current.select(
        key,
        F.col("n_rows").alias("n_rows_cur"),
        F.col("checksum").alias("_ck_cur"),
    )
    base = baseline.select(
        key,
        F.col("n_rows").alias("n_rows_base"),
        F.col("checksum").alias("_ck_base"),
    )
    j = cur.join(base, key, "full_outer")
    return j.select(
        key,
        F.when(F.col("_ck_base").isNull(), F.lit("added"))
        .when(F.col("_ck_cur").isNull(), F.lit("removed"))
        .when(
            (F.col("_ck_cur") != F.col("_ck_base"))
            | (F.col("n_rows_cur") != F.col("n_rows_base")),
            F.lit("changed"),
        )
        .otherwise(F.lit("ok"))
        .alias("status"),
        F.coalesce("n_rows_cur", F.lit(0)).alias("n_rows_cur"),
        F.coalesce("n_rows_base", F.lit(0)).alias("n_rows_base"),
    )


def classifier_eval(
    df: DataFrame,
    score_col: str,
    label_col: str,
    threshold: float = 0.5,
    decimals: int = 6,
) -> DataFrame:
    """One row ``(n_pos, n_neg, auc, brier, accuracy)``: exact evaluation
    of a classifier score column against binary labels — the QA gate for
    the quality / language / relevance filters this engine scores with
    (a filter is itself a data product; before gating a 10^12-row corpus
    on it, measure it). ``auc`` is the exact Mann-Whitney statistic with
    the standard tie correction (ties contribute 1/2); null when either
    class is empty. ``brier`` assumes the score is probability-like in
    [0, 1]; ``accuracy`` is at ``threshold``.

    Scale shape: Brier/accuracy/class counts are one map-side-combined
    corpus agg; AUC reduces to a groupBy(score) histogram (rows =
    DISTINCT scores — bounded for any rounded/quantized score) and a
    cumulative window over that bounded table, the same O(bins) compare
    contract as ks/emd. Raw rows are never sorted globally."""
    y = F.col(label_col).cast("int")
    s = F.col(score_col).cast("double")
    base = df.select(s.alias("s"), y.alias("y"))
    totals = base.agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("n_neg"),
        F.avg(F.pow(F.col("s") - F.col("y"), F.lit(2.0))).alias("_brier"),
        F.avg(
            ((F.col("s") >= F.lit(threshold)).cast("int") == F.col("y"))
            .cast("double")
        ).alias("_acc"),
    )
    hist = base.groupBy("s").agg(
        F.sum("y").cast("double").alias("_pos"),
        F.sum(F.lit(1) - F.col("y")).cast("double").alias("_neg"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    terms = hist.select(
        (
            F.col("_pos")
            * (
                F.coalesce(F.sum("_neg").over(w), F.lit(0.0))
                + F.lit(0.5) * F.col("_neg")
            )
        ).alias("_t")
    )
    num = terms.agg(F.sum("_t").alias("_num"))
    return totals.crossJoin(F.broadcast(num)).select(
        "n_pos",
        "n_neg",
        F.round(
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.col("_num") / (F.col("n_pos") * F.col("n_neg")).cast("double"),
            ),
            decimals,
        ).alias("auc"),
        F.round("_brier", decimals).alias("brier"),
        F.round("_acc", decimals).alias("accuracy"),
    )


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    decimals: int = 6,
) -> DataFrame:
    """One row ``(n_keys, n_rows, max_count, p99_count, avg_count,
    skew_ratio)``: the rows-per-key distribution of a prospective join /
    groupBy key — the pre-flight check behind every salting decision in
    this engine (the north rule handles skew "via explicit salting and
    AQE-tuned shuffle partitioning"; this measures whether a key needs
    it: skew_ratio = max/avg near 1 means hash partitioning balances,
    hundreds means the top key needs a salt or an AQE skew split).

    Scale shape: one map-side-combined groupBy(key) count; every profile
    statistic then aggregates the KEY-COUNT table (rows = distinct keys),
    not the corpus. The exact percentile over that table is for oracle
    parity — swap ``percentile`` for ``approx_percentile`` past ~10^8
    distinct keys (same plan shape)."""
    counts = df.groupBy(F.col(key_col).alias("_k")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    return counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("_c").cast("long").alias("n_rows"),
        F.max("_c").cast("long").alias("max_count"),
        F.round(F.percentile(F.col("_c").cast("double"), F.lit(0.99)), decimals).alias(
            "p99_count"
        ),
        F.round(F.avg("_c"), decimals).alias("avg_count"),
        F.round(
            F.max("_c").cast("double") / F.avg("_c"), decimals
        ).alias("skew_ratio"),
    )


def snapshot_churn(
    current: DataFrame,
    baseline: DataFrame,
    id_col: str,
    fingerprint: "Column",
) -> DataFrame:
    """One row ``(n_added, n_removed, n_changed, n_same)``: document-level
    churn between two corpus snapshots — the ops summary over the same
    full-outer-join shape whose per-row detail ``token_parity`` emits
    (parity says WHERE each pair diverges; churn says HOW MUCH moved, the
    number an ingest-regression alert thresholds on). ``fingerprint`` is
    any content-hash Column evaluated on both sides (e.g.
    ``token_content_hash``).

    Scale shape: one full-outer join on the uniform id key, then a single
    map-side-combined conditional-count aggregate — no row detail is
    collected or shuffled twice."""
    cur = current.select(F.col(id_col).alias("_id"), fingerprint.alias("_fc"))
    base = baseline.select(F.col(id_col).alias("_id"), fingerprint.alias("_fb"))
    j = cur.join(base, "_id", "full_outer")
    return j.agg(
        F.sum(F.col("_fb").isNull().cast("long")).alias("n_added"),
        F.sum(F.col("_fc").isNull().cast("long")).alias("n_removed"),
        F.sum(
            (
                F.col("_fc").isNotNull()
                & F.col("_fb").isNotNull()
                & (F.col("_fc") != F.col("_fb"))
            ).cast("long")
        ).alias("n_changed"),
        F.sum((F.col("_fc") == F.col("_fb")).cast("long")).alias("n_same"),
    )


def embedding_parity(
    current: DataFrame,
    golden: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    atol: float = 1e-6,
    decimals: int = 6,
) -> DataFrame:
    """Vector sibling of ``token_parity``: per-row embedding equality
    (within ``atol`` per dimension) between two snapshots — the per-row
    invariant after a re-embedding run, precision migration, or storage
    rewrite. Returns ONLY violation rows ``(vec_id, status, dim_current,
    dim_golden, first_diff_dim, max_abs_diff)`` with status ∈
    missing_current / missing_golden / vector_mismatch;
    ``first_diff_dim`` is the 1-based first dimension where
    ``|a[i] - b[i]| > atol`` (a dimensionality change diverges at
    min(dim)+1 via the null-padding probe), ``max_abs_diff`` the largest
    per-dim deviation over the shared prefix (rounded; the severity
    number a tolerance decision reads).

    Scale shape: identical to ``token_parity`` — ONE full-outer join on
    the uniform id, let-bound zip_with probes in the join's project,
    violations-only output."""
    from ..functions.text import let_

    cur = current.select(F.col(id_col).alias("id"), F.col(vec_col).alias("cur"))
    gold = golden.select(F.col(id_col).alias("id"), F.col(vec_col).alias("gold"))
    joined = cur.join(gold, on="id", how="full_outer")
    diffs = F.zip_with(
        F.col("cur").cast("array<double>"),
        F.col("gold").cast("array<double>"),
        lambda a, b: F.abs(a - b),
    )

    def probe(d):
        ok = F.transform(d, lambda x: F.coalesce(x <= F.lit(atol), F.lit(False)))
        return F.struct(
            F.array_position(ok, F.lit(False)).alias("pos"),
            F.round(F.array_max(F.filter(d, lambda x: x.isNotNull())), decimals).alias(
                "mx"
            ),
        )

    pr = let_(diffs, probe)
    out = joined.select(
        F.col("id").alias(id_col),
        F.when(F.col("cur").isNull(), F.lit("missing_current"))
        .when(F.col("gold").isNull(), F.lit("missing_golden"))
        .otherwise(F.lit("vector_mismatch"))
        .alias("status"),
        F.size("cur").alias("dim_current"),
        F.size("gold").alias("dim_golden"),
        F.when(F.col("cur").isNotNull() & F.col("gold").isNotNull(), pr["pos"]).alias(
            "first_diff_dim"
        ),
        F.when(F.col("cur").isNotNull() & F.col("gold").isNotNull(), pr["mx"]).alias(
            "max_abs_diff"
        ),
    )
    return out.filter(
        (F.col("status") != "vector_mismatch") | (F.col("first_diff_dim") > 0)
    )


def sampled_validation_gate(
    df: DataFrame,
    id_col: str,
    annotate,
    sample_k: int = 1024,
    budget: float = 0.01,
    z: float = 1.96,
    decimals: int = 6,
) -> DataFrame:
    """One-row PRE-FLIGHT validation gate: estimate the corpus's row-level
    violation rate from a deterministic CONSTANT-SIZE sample before
    paying for the full pass — ``(n_sampled, n_fail, fail_rate,
    wilson_hi, within_budget)`` where ``wilson_hi`` is the Wilson upper
    bound on the true rate at confidence ``z`` and ``within_budget``
    compares it to ``budget``. At 10^12 rows the full validation pass is
    the expensive step; this gate answers "is this snapshot roughly
    sane?" from ``sample_k`` documents at any corpus size — run it
    first, ship the full pass (``ValidationJob``) only when the gate
    passes, and keep the full pass's exact counts as the artifact of
    record. Fails closed: wilson_hi is an UPPER bound, so a small sample
    cannot fake a pass (k=0 or an all-fail sample always exceeds any
    sane budget).

    ``annotate`` is any ``df -> df`` adding ``_valid`` (e.g.
    ``CompiledPlan.annotate`` / ``ValidationJob.annotate``), so the gate
    composes with every check the engine can compile.

    Scale shape: the same constant-size idiom as ``lsh_recall_probe`` —
    the corpus contributes one (id, prio, payload-cols) projection to a
    TakeOrderedAndProject top-k (per-partition heads + driver merge of
    ≤ partitions·k rows; no global sort, no single-partition window);
    the k survivors repartition (a k-row shuffle) so the check
    expressions evaluate core-parallel; everything downstream touches k
    rows. Content-addressed (``portable_hash60('vgate:'+id)``), so the
    sample — and therefore the gate verdict — is a pure function of the
    corpus on any partitioning, engine, or cluster size.
    """
    from jsonschema_spark.functions.text import portable_hash60
    from jsonschema_spark.operators.dedup import ensure_parallelism
    from jsonschema_spark.plans.plan import is_valid

    prio = portable_hash60(
        F.concat(F.lit("vgate:"), F.col(id_col).cast("string"))
    )
    sample = (
        ensure_parallelism(df)
        .withColumn("_prio", prio)
        .orderBy("_prio", id_col)
        .limit(int(sample_k))
        .repartition(32, F.col(id_col))
        .drop("_prio")
    )
    ann = annotate(sample)
    agg = ann.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum((~is_valid()).cast("long")).alias("n_fail"),
    )
    n = F.col("n_sampled").cast("double")
    p = F.col("n_fail") / n
    z2 = F.lit(float(z) * float(z))
    wilson_hi = (
        (p + z2 / (F.lit(2.0) * n))
        + F.lit(float(z))
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n))
    ) / (F.lit(1.0) + z2 / n)
    return agg.select(
        "n_sampled",
        "n_fail",
        F.round(F.when(F.col("n_sampled") > 0, p), decimals).alias(
            "fail_rate"
        ),
        F.round(F.when(F.col("n_sampled") > 0, wilson_hi), decimals).alias(
            "wilson_hi"
        ),
        # verdict on the ROUNDED bound (CLAUDE.md invariant: verdicts that
        # hinge on digits beyond `decimals` are engine-underspecified)
        F.when(
            F.col("n_sampled") > 0,
            F.round(wilson_hi, decimals) <= F.lit(float(budget)),
        ).otherwise(F.lit(False)).alias("within_budget"),
    )
