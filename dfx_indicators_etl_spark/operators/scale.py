"""Skew-mitigation operators: salted aggregation and salted joins.

AQE's skew-join splitting (on in `session.get_spark`) handles most
runtime skew; these are the *explicit* tools for the cases AQE can't
see — a groupBy whose hot key overwhelms one reducer, or a repeated
join against a dimension with a known-hot key. Both are semantically
transparent: results are identical to the unsalted plan (asserted in
tests and by the oracle-checked ``q_skew_salted_agg``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "fast_row_count",
    "salted_agg",
    "salted_join",
    "global_ntile",
    "global_running_sum",
    "global_running_max",
    "histogram_percentiles",
    "weighted_percentiles",
    "psi_bin",
    "psi_from_bins",
    "bloom_words",
    "bloom_prefilter",
    "kmv_sketch",
    "kmv_set_ops",
    "zorder_value",
    "zorder_scaled",
    "REAGG",
]


def fast_row_count(df: DataFrame) -> int:
    """EXACT row count with the cheapest available evidence (VERDICT
    r11 #5 / committed queue #6: the adaptive pickers' ``df.count()``
    probes cost +0.13–0.21 s per key in pure job-scheduling overhead).

    When the optimized plan is row-count-PRESERVING over a parquet
    relation — only Project/Relation nodes, so no Filter/Join/
    Aggregate/Generate/Sample can have changed cardinality — the count
    is the sum of the parquet footers' ``num_rows`` (pyarrow,
    driver-side, no Spark job, exact by the parquet spec). Everything
    else falls back to ``df.count()``: filtered inputs keep the real
    count (measured check pinned in tests/test_round12_ops.py), and
    lazily-checkpointed frames (LogicalRDD plans) still materialize
    through the count like callers rely on.
    """
    import re

    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        nodes = {
            m.group(1)
            for m in re.finditer(r"(?:^|[+:]- )(\w+)", plan, re.MULTILINE)
        }
        if nodes <= {"Project", "Relation"} and "parquet" in plan:
            files = [
                f[7:] if f.startswith("file://") else f
                for f in df.inputFiles()
            ]
            if files and all(f.startswith("/") for f in files):
                import pyarrow.parquet as pq

                return sum(
                    pq.ParquetFile(f).metadata.num_rows for f in files
                )
    except Exception:  # noqa: BLE001 — metadata probe is best-effort
        pass
    return df.count()


# How each partial aggregate re-aggregates in phase 2.
REAGG = {
    "sum": F.sum,
    "count": F.sum,  # counts add
    "min": F.min,
    "max": F.max,
}


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
    salt_on: str | Column | None = None,
) -> DataFrame:
    """Two-phase aggregation over a salted key.

    ``aggs`` maps output name → (function, column) with function in
    ``REAGG``. Phase 1 aggregates on (keys, salt) — the hot key spreads
    over ``salt_buckets`` reducers — phase 2 re-aggregates the (small)
    partials on the true keys. The salt must NOT be a function of the
    group key (that would leave the hot key on one reducer): pass a
    high-cardinality column as ``salt_on``, or default to a per-row
    id (salt assignment then varies across retries, but every salt
    assignment yields the same final result). Only decomposable
    aggregates belong here; AVG = SUM/COUNT built from two entries.
    """
    unsupported = {f for f, _ in aggs.values()} - set(REAGG)
    if unsupported:
        raise ValueError(f"non-decomposable aggregate(s): {sorted(unsupported)}")
    if salt_on is None:
        salt_src = F.monotonically_increasing_id()
    else:
        salt_src = F.col(salt_on) if isinstance(salt_on, str) else salt_on
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(salt_src), F.lit(salt_buckets))
    )
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[
            getattr(F, func)(col).alias(f"__p_{name}")
            for name, (func, col) in aggs.items()
        ]
    )
    return phase1.groupBy(*keys).agg(
        *[
            REAGG[func](f"__p_{name}").alias(name)
            for name, (func, _col) in aggs.items()
        ]
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
    salt_on: str | Column | None = None,
) -> DataFrame:
    """Skew-proof fact⋈dim shuffle join: replicate the dim per salt.

    For a shuffle join whose fact side has hot keys, each dim row
    replicates ``salt_buckets`` times and each fact row takes a salt
    *independent of the join key* (a high-cardinality ``salt_on``
    column, default a per-row id), so one hot key spreads over
    ``salt_buckets`` tasks at the cost of a ``salt_buckets``× larger
    dim shuffle side. (A dim under the broadcast threshold doesn't
    need this — broadcast joins are skew-immune.)
    """
    salts = F.explode(
        F.sequence(F.lit(0).cast("long"), F.lit(salt_buckets - 1).cast("long"))
    )
    dim_rep = dim.withColumn("__salt", salts)
    if salt_on is None:
        salt_src = F.monotonically_increasing_id()
    else:
        salt_src = F.col(salt_on) if isinstance(salt_on, str) else salt_on
    fact_salted = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(salt_src), F.lit(salt_buckets))
    )
    return fact_salted.join(dim_rep, [key, "__salt"], how).drop("__salt")


def global_ntile(
    df: DataFrame,
    n_tiles: int,
    order_by: Sequence[Column],
    out_col: str,
    n_rows: int | None = None,
    small_rows_threshold: int = 2_000_000,
) -> DataFrame:
    """Globally-ordered ``ntile`` without a single-task global sort —
    the scale twin of ``F.ntile().over(Window.orderBy(...))``.

    An unpartitioned window funnels the whole frame through ONE task
    (``Exchange SinglePartition``); fine for a dimension-sized frame,
    an executor-killer at 10⁸–10⁹ rows. Above ``small_rows_threshold``
    this swaps to the two-phase rank shape (same pattern as
    ``text.pack_spans``): range-repartition on the TOTAL order (the
    caller must include a tie-break column), ``row_number`` within
    each range partition, add per-partition offsets collected as a
    ≤-#partitions-row control-plane map, then map the exact global
    rank through ntile's own fill rule — the first ``n mod k`` tiles
    take ``⌈n/k⌉`` rows, the rest ``⌊n/k⌋``. Bit-identical labels to
    the window ntile for ANY input (both are pure functions of the
    global rank), so the SQL oracle reproduces it.

    ``order_by`` must totally order the frame or labels are undefined.
    ``n_rows`` (if the caller already counted) skips the probe count.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    if n_rows is None:
        n_rows = fast_row_count(df)
    if n_rows <= small_rows_threshold:
        w = Window.orderBy(*order_by)
        return df.withColumn(out_col, F.ntile(n_tiles).over(w))
    n_parts = max(1, spark.sparkContext.defaultParallelism)
    parted = df.repartitionByRange(n_parts, *order_by).localCheckpoint(
        eager=False
    )
    keyed = parted.withColumn("__gnt_pid", F.spark_partition_id())
    counts = sorted(
        (r["__gnt_pid"], r["c"])
        for r in keyed.groupBy("__gnt_pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    offsets, running = {}, 0
    for pid, c in counts:
        offsets[pid] = running
        running += int(c)
    offset_expr = (
        F.element_at(
            F.create_map(
                *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
            ),
            F.col("__gnt_pid"),
        ).cast("bigint")
        if offsets
        else F.lit(0).cast("bigint")
    )
    w = Window.partitionBy("__gnt_pid").orderBy(*order_by)
    rank = F.row_number().over(w) + offset_expr  # exact global 1-based rank
    # ntile fill rule: big tiles (⌈n/k⌉ rows) come first
    size_small = n_rows // n_tiles
    rem = n_rows % n_tiles
    boundary = (size_small + 1) * rem  # ranks in big tiles
    tile = F.when(
        F.lit(rem > 0) & (rank <= F.lit(boundary)),
        F.ceil(rank / F.lit(size_small + 1)),
    ).otherwise(
        # size_small == 0 ⇒ n < k ⇒ every rank lands in the big-tile
        # branch above; this division is never evaluated with 0
        F.lit(rem)
        + F.ceil((rank - F.lit(boundary)) / F.lit(max(size_small, 1)))
    )
    return keyed.withColumn(out_col, tile.cast("int")).drop("__gnt_pid")


def global_running_sum(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[Column],
    out_col: str,
    total_col: str | None = None,
    n_rows: int | None = None,
    small_rows_threshold: int = 2_000_000,
) -> DataFrame:
    """Globally-ordered exact running sum without a single-task global
    sort — the scale twin of
    ``F.sum(v).over(Window.orderBy(...).rowsBetween(unboundedPreceding,
    currentRow))``.

    An unpartitioned running-sum window funnels the whole frame through
    ONE task (``Exchange SinglePartition``); fine for a
    dimension-sized frame, an executor-killer at 10⁸–10⁹ rows. Above
    ``small_rows_threshold`` this swaps to the two-phase shape shared
    with ``global_ntile``: range-repartition on the TOTAL order (the
    caller must include a tie-break column), a PER-PARTITION running
    sum window, and per-partition offsets — each range partition's
    total, collected as a ≤-#partitions-row control-plane list and
    prefix-summed on the driver. Decimal partials add exactly on both
    sides of the split (the driver prefix-sums ``decimal.Decimal``
    values), so the result is value-identical to the window plan for
    any partitioning.

    ``order_by`` must totally order the frame, and ``value_col`` must
    be non-null (window semantics for NULL prefixes — a running NULL
    until the first non-null value — are not reproduced by the offset
    arithmetic). ``total_col``, if given, attaches the grand total to
    every row (small path: an unbounded window over the same
    single-task frame; large path: a driver-side literal — the sum of
    the already-collected partition totals, one more exact decimal
    fold, no extra job).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    if n_rows is None:
        n_rows = fast_row_count(df)
    if n_rows <= small_rows_threshold:
        w = Window.orderBy(*order_by).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        out = df.withColumn(out_col, F.sum(value_col).over(w))
        if total_col is not None:
            w_all = Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            out = out.withColumn(total_col, F.sum(value_col).over(w_all))
        return out
    sum_type = df.select(F.sum(value_col)).schema[0].dataType
    n_parts = max(1, spark.sparkContext.defaultParallelism)
    parted = df.repartitionByRange(n_parts, *order_by).localCheckpoint(
        eager=False
    )
    keyed = parted.withColumn("__grs_pid", F.spark_partition_id())
    partials = sorted(
        (r["__grs_pid"], r["s"])
        for r in keyed.groupBy("__grs_pid")
        .agg(F.sum(value_col).alias("s"))
        .collect()
    )
    offsets, running = {}, 0  # exact: int or decimal.Decimal arithmetic
    for pid, s in partials:
        offsets[pid] = running
        running += s if s is not None else 0
    offset_expr = (
        F.element_at(
            F.create_map(
                *[
                    x
                    for pid, off in offsets.items()
                    for x in (F.lit(pid), F.lit(off).cast(sum_type))
                ]
            ),
            F.col("__grs_pid"),
        )
        if offsets
        else F.lit(0).cast(sum_type)
    )
    w = (
        Window.partitionBy("__grs_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = keyed.withColumn(
        out_col, (F.sum(value_col).over(w) + offset_expr).cast(sum_type)
    ).drop("__grs_pid")
    if total_col is not None:
        out = out.withColumn(total_col, F.lit(running).cast(sum_type))
    return out


def global_running_max(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[Column],
    out_col: str,
    n_rows: int | None = None,
    small_rows_threshold: int = 2_000_000,
) -> DataFrame:
    """Globally-ordered running MAX over the STRICTLY PRECEDING rows —
    the scale twin of ``F.max(v).over(Window.orderBy(...)
    .rowsBetween(unboundedPreceding, -1))`` (the sort-sweep frame of
    skyline/Pareto operators, where each row compares against
    everything ranked ahead of it but never itself).

    Same two-phase shape as ``global_running_sum`` — max is
    associative, so the offsets algebra carries over verbatim: above
    ``small_rows_threshold`` the frame range-repartitions on the TOTAL
    order, computes the per-partition exclusive running max, and folds
    in each partition's offset — the max over all STRICTLY EARLIER
    range partitions, collected as a ≤-#partitions-row control-plane
    list. ``F.greatest`` skips NULLs, so a partition-first row (empty
    within-partition frame) takes the offset alone, the very first row
    takes NULL — exactly the window's empty-frame semantics. Value-
    identical to the window plan for any input and partitioning (max
    has no rounding), so one SQL oracle covers both paths.

    ``order_by`` must totally order the frame (include a tie-break
    column); NULLs in ``value_col`` are ignored by max on both paths.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    if n_rows is None:
        n_rows = fast_row_count(df)
    if n_rows <= small_rows_threshold:
        w = Window.orderBy(*order_by).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return df.withColumn(out_col, F.max(value_col).over(w))
    val_type = df.schema[value_col].dataType
    n_parts = max(1, spark.sparkContext.defaultParallelism)
    parted = df.repartitionByRange(n_parts, *order_by).localCheckpoint(
        eager=False
    )
    keyed = parted.withColumn("__grm_pid", F.spark_partition_id())
    partials = sorted(
        (r["__grm_pid"], r["m"])
        for r in keyed.groupBy("__grm_pid")
        .agg(F.max(value_col).alias("m"))
        .collect()
    )
    offsets, running = {}, None  # running = max of partitions seen so far
    for pid, m in partials:
        offsets[pid] = running  # strictly-earlier partitions only
        if m is not None and (running is None or m > running):
            running = m
    entries = [
        x
        for pid, off in offsets.items()
        if off is not None
        for x in (F.lit(pid), F.lit(off).cast(val_type))
    ]
    offset_expr = (
        F.element_at(F.create_map(*entries), F.col("__grm_pid"))
        if entries
        else F.lit(None).cast(val_type)
    )
    w = (
        Window.partitionBy("__grm_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return keyed.withColumn(
        out_col,
        F.greatest(F.max(value_col).over(w), offset_expr).cast(val_type),
    ).drop("__grm_pid")


def _broadcast_join_nullsafe(
    left: DataFrame, right: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Broadcast inner join on ``keys`` with NULL-SAFE key equality —
    a GROUP BY key may legitimately be NULL, and a plain `=` join
    would silently drop that group (SQL GROUP BY keeps it, so the
    DuckDB oracles keep it too)."""
    renamed = right
    for k in keys:
        renamed = renamed.withColumnRenamed(k, f"__ns_{k}")
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__ns_{k}"))
        cond = c if cond is None else cond & c
    return left.join(F.broadcast(renamed), cond).drop(
        *[f"__ns_{k}" for k in keys]
    )


def grouped_running_sum(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_by: Sequence[Column],
    out_col: str,
    n_rows: int | None = None,
    small_rows_threshold: int = 2_000_000,
) -> DataFrame:
    """PER-GROUP exact running sum with a HOT-GROUP bound — the
    grouped generalization of ``global_running_sum``'s offsets algebra
    (VERDICT r10 #3: the partitioned window
    ``partitionBy(groups).orderBy(...)`` is safe for many small groups
    but a single hot group with ~10⁹ distinct order keys is one window
    partition = one task's sort — the grouped sibling of exactly the
    class ``global_running_sum`` eliminated globally).

    Above ``small_rows_threshold`` the frame range-repartitions on
    ``(groups…, order_by…)`` — range partitioning keeps each group's
    rows CONTIGUOUS, so a hot group splits across consecutive
    partitions while at most ``n_parts − 1`` groups straddle a
    boundary. Per-(partition, group) running sums are then corrected
    by offsets computed ONLY for boundary-straddling groups: the
    collected control-plane list is ≤ 2·n_parts rows no matter how
    many groups exist (groups wholly inside one partition need no
    offset), and the driver prefix-sums each straddler's partials as
    exact ints/``decimal.Decimal``. Offsets rejoin via a broadcast
    null-safe equi-join (group keys may be NULL), so the result is
    value-identical to the window plan for any partitioning.

    ``order_by`` must totally order rows WITHIN each group, and
    ``value_col`` must be non-null (same contract as
    ``global_running_sum``, whose path this delegates to when
    ``group_cols`` is empty).
    """
    from pyspark.sql import Window

    groups = list(group_cols)
    if not groups:
        return global_running_sum(
            df,
            value_col,
            order_by,
            out_col,
            n_rows=n_rows,
            small_rows_threshold=small_rows_threshold,
        )
    spark = df.sparkSession
    if n_rows is None:
        n_rows = fast_row_count(df)
    if n_rows <= small_rows_threshold:
        w = (
            Window.partitionBy(*groups)
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.withColumn(out_col, F.sum(value_col).over(w))
    sum_type = df.select(F.sum(value_col)).schema[0].dataType
    n_parts = max(1, spark.sparkContext.defaultParallelism)
    parted = df.repartitionByRange(
        n_parts, *[F.col(g) for g in groups], *order_by
    ).localCheckpoint(eager=False)
    keyed = parted.withColumn("__grs_pid", F.spark_partition_id())
    # (pid, group) partials are distinct-pair-sized, but only groups
    # seen in >1 partition are COLLECTED — range contiguity bounds the
    # straddler set by the partition count, not the group count
    partials = (
        keyed.groupBy("__grs_pid", *groups)
        .agg(F.sum(value_col).alias("__grs_s"))
        .localCheckpoint(eager=False)
    )
    # straddler detection via a window count, NOT an equi-join: group
    # keys may be NULL and `=` would drop them. Each window partition
    # is one group's partials — ≤ n_parts rows by range contiguity.
    w_np = Window.partitionBy(*groups)
    span_rows = (
        partials.withColumn("__grs_np", F.count(F.lit(1)).over(w_np))
        .filter(F.col("__grs_np") > 1)
        .collect()
    )
    by_group: dict[tuple, list] = {}
    for r in span_rows:
        by_group.setdefault(tuple(r[g] for g in groups), []).append(
            (r["__grs_pid"], r["__grs_s"])
        )
    offset_rows = []
    for key, lst in by_group.items():
        running = 0  # exact: int or decimal.Decimal arithmetic
        for pid, s in sorted(lst, key=lambda t: t[0]):
            if running != 0:
                offset_rows.append((pid, *key, running))
            running += s if s is not None else 0
    w = (
        Window.partitionBy("__grs_pid", *groups)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    part_sum = F.sum(value_col).over(w)
    if not offset_rows:
        return keyed.withColumn(out_col, part_sum.cast(sum_type)).drop(
            "__grs_pid"
        )
    off_schema = T.StructType(
        [T.StructField("__grs_pid2", T.IntegerType(), False)]
        + [
            T.StructField(f"__grs_g{i}", df.schema[g].dataType, True)
            for i, g in enumerate(groups)
        ]
        + [T.StructField("__grs_off", sum_type, True)]
    )
    off_df = spark.createDataFrame(offset_rows, off_schema)
    cond = F.col("__grs_pid") == F.col("__grs_pid2")
    for i, g in enumerate(groups):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__grs_g{i}"))
    return (
        keyed.join(F.broadcast(off_df), cond, "left")
        .withColumn(
            out_col,
            (
                part_sum
                + F.coalesce(
                    F.col("__grs_off"), F.lit(0).cast(sum_type)
                )
            ).cast(sum_type),
        )
        .drop(
            "__grs_pid",
            "__grs_pid2",
            "__grs_off",
            *[f"__grs_g{i}" for i in range(len(groups))],
        )
    )


def grouped_lag(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_by: Sequence[Column],
    out_col: str,
    exists_col: str | None = None,
    n_rows: int | None = None,
    small_rows_threshold: int = 2_000_000,
) -> DataFrame:
    """PER-GROUP ``lag(value, 1)`` with a HOT-GROUP bound — the
    sequential-dependency member of the windows-at-scale family
    (running sum/max carry prefix OFFSETS; ntile carries rank offsets;
    lag needs only a 1-row BOUNDARY HANDOFF between range partitions,
    which is the cheapest algebra of them all).

    Above ``small_rows_threshold``: range-repartition on
    ``(groups…, order_by…)`` (a hot group splits across consecutive
    partitions), per-(partition, group) local lag, then each
    boundary-straddling group's per-partition LAST rows — ≤ 2·n_parts
    control-plane rows regardless of group count, the
    ``grouped_running_sum`` bound — are collected and rejoined
    null-safe so each partition-first row takes its predecessor
    partition's closing value. Value-identical to the window plan for
    any partitioning (no arithmetic at all — rows just change hands).

    ``exists_col`` (optional) emits the ``lag(lit(True))``
    previous-row-EXISTS indicator (True where a previous row exists,
    NULL on each group's first row) from the same pass — callers doing
    null-safe change detection need it to tell a genuine NULL
    predecessor from no-predecessor. ``order_by`` must totally order
    rows within each group. ``lead`` is this operator over the
    reversed order.
    """
    from pyspark.sql import Window

    groups = list(group_cols)
    spark = df.sparkSession
    if n_rows is None:
        n_rows = fast_row_count(df)
    if n_rows <= small_rows_threshold:
        w = Window.partitionBy(*groups).orderBy(*order_by)
        out = df.withColumn(out_col, F.lag(value_col).over(w))
        if exists_col is not None:
            out = out.withColumn(exists_col, F.lag(F.lit(True)).over(w))
        return out
    val_type = df.schema[value_col].dataType
    n_parts = max(1, spark.sparkContext.defaultParallelism)
    parted = df.repartitionByRange(
        n_parts, *[F.col(g) for g in groups], *order_by
    ).localCheckpoint(eager=False)
    keyed = parted.withColumn("__gl_pid", F.spark_partition_id())
    w_pg = Window.partitionBy("__gl_pid", *groups).orderBy(*order_by)
    w_full = Window.partitionBy("__gl_pid", *groups)
    frame = keyed.withColumn("__gl_rn", F.row_number().over(w_pg)).withColumn(
        "__gl_cnt", F.count(F.lit(1)).over(w_full)
    )
    # collect the straddler groups' per-partition CLOSING rows only:
    # range contiguity bounds them by the partition count, not the
    # group count (window-count straddler detection, never an
    # equi-join — group keys may be NULL)
    lasts = frame.filter(F.col("__gl_rn") == F.col("__gl_cnt")).select(
        "__gl_pid", *groups, F.col(value_col).alias("__gl_v")
    )
    w_np = Window.partitionBy(*groups)
    span_rows = (
        lasts.withColumn("__gl_np", F.count(F.lit(1)).over(w_np))
        .filter(F.col("__gl_np") > 1)
        .collect()
    )
    by_group: dict[tuple, list] = {}
    for r in span_rows:
        by_group.setdefault(tuple(r[g] for g in groups), []).append(
            (r["__gl_pid"], r["__gl_v"])
        )
    handoff_rows = []
    for key, lst in by_group.items():
        lst.sort(key=lambda t: t[0])
        # chain consecutive ENTRIES (an empty range partition may gap
        # the pid sequence): partition p_{i+1}'s first row follows
        # partition p_i's closing row
        for (_, prev_v), (pid, _) in zip(lst, lst[1:]):
            handoff_rows.append((pid, *key, prev_v))
    local_lag = F.lag(value_col).over(w_pg)
    if not handoff_rows:
        out = frame.withColumn(out_col, local_lag)
        if exists_col is not None:
            out = out.withColumn(
                exists_col,
                F.when(F.col("__gl_rn") > 1, F.lit(True)).otherwise(
                    F.lit(None).cast("boolean")
                ),
            )
        return out.drop("__gl_pid", "__gl_rn", "__gl_cnt")
    ho_schema = T.StructType(
        [T.StructField("__gl_pid2", T.IntegerType(), False)]
        + [
            T.StructField(f"__gl_g{i}", df.schema[g].dataType, True)
            for i, g in enumerate(groups)
        ]
        + [
            T.StructField("__gl_ho", val_type, True),
            T.StructField("__gl_has", T.BooleanType(), False),
        ]
    )
    ho_df = spark.createDataFrame(
        [(*row, True) for row in handoff_rows], ho_schema
    )
    cond = F.col("__gl_pid") == F.col("__gl_pid2")
    for i, g in enumerate(groups):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__gl_g{i}"))
    joined = frame.join(F.broadcast(ho_df), cond, "left")
    takes_handoff = (F.col("__gl_rn") == 1) & (F.col("__gl_has") == True)  # noqa: E712
    out = joined.withColumn(
        out_col,
        F.when(takes_handoff, F.col("__gl_ho")).otherwise(local_lag),
    )
    if exists_col is not None:
        out = out.withColumn(
            exists_col,
            F.when(
                (F.col("__gl_rn") > 1) | takes_handoff, F.lit(True)
            ).otherwise(F.lit(None).cast("boolean")),
        )
    return out.drop(
        "__gl_pid",
        "__gl_pid2",
        "__gl_rn",
        "__gl_cnt",
        "__gl_ho",
        "__gl_has",
        *[f"__gl_g{i}" for i in range(len(groups))],
    )


def _fold_extremum(carry, p, want_max: bool):
    """Fold two monoid partials with SPARK ordering, not Python's.

    Spark's ``max``/``min`` treat float NaN as LARGER than every other
    value, while Python NaN comparisons are all-False (order-dependent
    folds). Only top-level float NaN needs the special case — other
    orderable types (ints, timestamps, strings, structs-as-tuples)
    compare identically in both systems. NaN nested INSIDE a struct
    value is not normalized here; don't use struct carries whose
    ordering fields can be NaN.
    """
    def _is_nan(x):
        return isinstance(x, float) and x != x

    if _is_nan(p):
        return p if want_max else carry
    if _is_nan(carry):
        return carry if want_max else p
    return max(carry, p) if want_max else min(carry, p)


def grouped_running_carry(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_by: Sequence[Column],
    out_col: str,
    kind: str = "max",
    frame_end: int = 0,
    n_rows: int | None = None,
    small_rows_threshold: int = 2_000_000,
) -> DataFrame:
    """PER-GROUP running carry — max / min / last-non-null — with a
    HOT-GROUP bound, completing the windows-at-scale family (running
    sum = prefix offsets, lag = 1-row handoff; the carries here need a
    single MONOID PARTIAL per boundary-straddling slice).

    ``kind`` picks the carry monoid:

    - ``"max"`` / ``"min"``: running extremum, NULL values ignored
      (the ``F.max``/``F.min`` convention) — the as-of join family's
      backbone (latest prior click = running max of a conditional
      timestamp). A "nearest following" frame is this operator over
      the REVERSED order (descending ``order_by``).
    - ``"last"``: running last NON-NULL value in frame order — the
      LOCF / latest-touch carry (``F.last(..., ignorenulls=True)``).
    - ``"first"``: running FIRST non-null value in frame order — the
      first-touch carry (``F.first(..., ignorenulls=True)``); the
      offset wins the combine (``coalesce(offset, local)``) because
      everything in the offset precedes the local frame.

    ``frame_end`` is the window frame's upper bound relative to the
    current row: ``0`` for ``...AND CURRENT ROW``, ``-1`` for the
    exclusive ``...AND 1 PRECEDING`` the as-of joins use.

    Above ``small_rows_threshold`` the frame range-repartitions on
    ``(groups…, order_by…)`` — a hot group splits across consecutive
    partitions while at most ``n_parts − 1`` groups straddle a
    boundary. Each straddler's per-(partition, group) monoid partial
    (its slice's max / min / last non-null) is collected — ≤ 2·n_parts
    control-plane rows regardless of group count, the
    ``grouped_running_sum`` bound — the driver folds partials in
    partition order into per-partition carry offsets, and the offsets
    rejoin broadcast + null-safe (group keys may be NULL). The local
    window's result combines with the offset by the same monoid
    (``greatest`` / ``least`` / ``coalesce(local, offset)`` — for
    "last", anything non-null in the local frame is later in order
    than the whole offset), so the result is value-identical to the
    window plan for any partitioning. ``order_by`` must totally order
    rows within each group.
    """
    from pyspark.sql import Window

    if kind not in ("max", "min", "last", "first"):
        raise ValueError(f"unknown carry kind: {kind!r}")
    if frame_end not in (0, -1):
        raise ValueError("frame_end must be 0 (current row) or -1 (1 preceding)")

    def local_agg(w):
        if kind == "max":
            return F.max(value_col).over(w)
        if kind == "min":
            return F.min(value_col).over(w)
        if kind == "first":
            return F.first(value_col, ignorenulls=True).over(w)
        return F.last(value_col, ignorenulls=True).over(w)

    groups = list(group_cols)
    spark = df.sparkSession
    if n_rows is None:
        n_rows = fast_row_count(df)
    if n_rows <= small_rows_threshold:
        w = (
            Window.partitionBy(*groups)
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, frame_end)
        )
        return df.withColumn(out_col, local_agg(w))
    val_type = df.schema[value_col].dataType
    n_parts = max(1, spark.sparkContext.defaultParallelism)
    parted = df.repartitionByRange(
        n_parts, *[F.col(g) for g in groups], *order_by
    ).localCheckpoint(eager=False)
    keyed = parted.withColumn("__gc_pid", F.spark_partition_id())
    # Per-(partition, group) monoid partial over the WHOLE slice. For
    # "last" the partial is the non-null value at the highest row
    # number (arg-max struct — the group row survives even when every
    # value in the slice is NULL, which straddler detection needs).
    w_pg = (
        Window.partitionBy("__gc_pid", *groups)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, frame_end)
    )
    if kind in ("last", "first"):
        pick = F.max if kind == "last" else F.min
        w_rn = Window.partitionBy("__gc_pid", *groups).orderBy(*order_by)
        numbered = keyed.withColumn("__gc_rn", F.row_number().over(w_rn))
        partials = numbered.groupBy("__gc_pid", *groups).agg(
            pick(
                F.when(
                    F.col(value_col).isNotNull(),
                    F.struct(F.col("__gc_rn").alias("r"), F.col(value_col).alias("v")),
                )
            ).alias("__gc_sv")
        )
        partials = partials.select(
            "__gc_pid", *groups, F.col("__gc_sv.v").alias("__gc_p")
        )
    else:
        agg_fn = F.max if kind == "max" else F.min
        partials = keyed.groupBy("__gc_pid", *groups).agg(
            agg_fn(value_col).alias("__gc_p")
        )
    partials = partials.localCheckpoint(eager=False)
    # straddler detection via a window count, NOT an equi-join: group
    # keys may be NULL and `=` would drop them.
    w_np = Window.partitionBy(*groups)
    span_rows = (
        partials.withColumn("__gc_np", F.count(F.lit(1)).over(w_np))
        .filter(F.col("__gc_np") > 1)
        .collect()
    )
    by_group: dict[tuple, list] = {}
    for r in span_rows:
        by_group.setdefault(tuple(r[g] for g in groups), []).append(
            (r["__gc_pid"], r["__gc_p"])
        )
    offset_rows = []
    for key, lst in by_group.items():
        lst.sort(key=lambda t: t[0])
        carry = None
        for pid, p in lst:
            if carry is not None:
                offset_rows.append((pid, *key, carry))
            if p is not None:
                if carry is None:
                    carry = p
                elif kind == "last":
                    carry = p  # later slice wins
                elif kind == "max":
                    carry = _fold_extremum(carry, p, want_max=True)
                elif kind == "min":
                    carry = _fold_extremum(carry, p, want_max=False)
                # kind == "first": carry is write-once — the earliest
                # slice's first non-null stands; folding by VALUE here
                # (e.g. min) would be wrong for any value column not
                # monotone in the order key (caught by code review,
                # r11 second session)
    local = local_agg(w_pg)
    if not offset_rows:
        return keyed.withColumn(out_col, local).drop("__gc_pid")
    off_schema = T.StructType(
        [T.StructField("__gc_pid2", T.IntegerType(), False)]
        + [
            T.StructField(f"__gc_g{i}", df.schema[g].dataType, True)
            for i, g in enumerate(groups)
        ]
        + [T.StructField("__gc_off", val_type, True)]
    )
    off_df = spark.createDataFrame(offset_rows, off_schema)
    cond = F.col("__gc_pid") == F.col("__gc_pid2")
    for i, g in enumerate(groups):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__gc_g{i}"))
    if kind == "max":
        combined = F.greatest(local, F.col("__gc_off"))
    elif kind == "min":
        combined = F.least(local, F.col("__gc_off"))
    elif kind == "first":
        combined = F.coalesce(F.col("__gc_off"), local)
    else:
        combined = F.coalesce(local, F.col("__gc_off"))
    return (
        keyed.join(F.broadcast(off_df), cond, "left")
        .withColumn(out_col, combined)
        .drop(
            "__gc_pid",
            "__gc_pid2",
            "__gc_off",
            *[f"__gc_g{i}" for i in range(len(groups))],
        )
    )


def histogram_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    probs: dict[str, float],
    hist_window_max_rows: int = 2_000_000,
) -> DataFrame:
    """EXACT per-group interpolated percentiles without buffering any
    group's values in aggregation state — the giant-group-safe twin of
    ``F.percentile``.

    ``F.percentile`` keeps a value→count map per group in its agg
    buffer, so a 100 TB fact with a handful of groups concentrates a
    near-corpus-cardinality map in ONE task's memory. This operator
    distributes that histogram instead: reduce to ``(group, value) →
    count`` (one shuffle, map-side combinable), a cumulative count per
    group over DISTINCT values only (``grouped_running_sum`` — a plain
    partitioned window while the histogram is window-sized, the
    per-(group, partition) offsets algebra above
    ``hist_window_max_rows``, so even a hot group's distinct values
    never become one task's sort), pick the two rows straddling
    each target rank, and interpolate with ``F.percentile``'s own
    arithmetic — ``position = p·(n−1)``;
    ``(⌈pos⌉−pos)·lo + (pos−⌊pos⌋)·hi`` on doubles — so the result is
    bit-identical to the exact aggregate for any input. State per task
    is O(1); the widest shuffle is distinct-value-sized, and for
    bounded-domain measures (prices at 2 decimal places, ages, scores)
    that is orders of magnitude below row count.

    ``probs`` maps output column name → percentile in [0, 1]. Returns
    one row per group: ``group_cols`` + one DOUBLE column per entry.
    ``group_cols`` may be EMPTY (a single global percentile): the
    cumulative count then runs through ``global_running_sum`` over the
    distinct-value histogram — a plain window while distinct values
    are window-sized, the range-partitioned two-phase shape above its
    threshold — so even the global flavor never forces a
    SinglePartition exchange at scale.
    """
    from pyspark.sql import Window

    groups = list(group_cols)
    v_dbl = F.col(value_col).cast("double")
    # the histogram feeds the totals AND the cumulative window —
    # materialize the distinct-value-sized aggregate once (§4
    # multi-branch rule) instead of re-scanning the fact per branch
    hist = df.groupBy(*groups, value_col).agg(
        F.count(F.lit(1)).alias("__c")
    ).localCheckpoint(eager=False)
    totals = hist.groupBy(*groups).agg(F.sum("__c").alias("__n"))
    if groups:
        # grouped_running_sum: plain partitioned window while the
        # histogram is window-sized, the per-(group, partition) offsets
        # algebra above the threshold — the hot-group bound shared with
        # weighted_percentiles (VERDICT r10 #3)
        cum = grouped_running_sum(
            hist,
            groups,
            "__c",
            [v_dbl.asc()],
            "__cum",
            small_rows_threshold=hist_window_max_rows,
        )
        cum = _broadcast_join_nullsafe(cum, totals, groups)
    else:
        cum = global_running_sum(
            hist,
            "__c",
            [v_dbl.asc()],
            "__cum",
            small_rows_threshold=hist_window_max_rows,
        ).crossJoin(F.broadcast(totals))
    # row covers 0-based ranks [__cum - __c, __cum - 1]
    lo_rank = F.col("__cum") - F.col("__c")
    aggs = []
    for name, p in probs.items():
        pos = F.lit(float(p)) * (F.col("__n") - 1).cast("double")
        lower = F.floor(pos)
        higher = F.ceil(pos)
        covers_lower = (lo_rank <= lower) & (lower < F.col("__cum"))
        covers_higher = (lo_rank <= higher) & (higher < F.col("__cum"))
        lo_val = F.max(F.when(covers_lower, v_dbl))
        hi_val = F.max(F.when(covers_higher, v_dbl))
        pos_a = F.max(F.when(covers_lower, pos))  # pos is group-constant
        low_a = F.max(F.when(covers_lower, lower)).cast("double")
        hig_a = F.max(F.when(covers_lower, higher)).cast("double")
        aggs.append(
            # Mirror Spark's PercentileBase.getPercentile exactly: it
            # early-returns when the two straddling map KEYS are equal
            # (`higherKey == lowerKey`), not just when the position is
            # integral. Without the value-equality arm, two ranks
            # landing on ONE distinct value interpolated as
            # (hig−pos)·v + (pos−low)·v, which is v ± 1 ulp
            # ((0.9)·3.25 + (0.1)·3.25 = 3.2500000000000004) — found by
            # the randomized differential test (r15).
            F.when((low_a == hig_a) | (lo_val == hi_val), lo_val)
            .otherwise((hig_a - pos_a) * lo_val + (pos_a - low_a) * hi_val)
            .alias(name)
        )
    return cum.groupBy(*groups).agg(*aggs)


def weighted_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: Column | str,
    probs: dict[str, tuple[int, int]],
    total_col: str | None = None,
    hist_window_max_rows: int = 2_000_000,
) -> DataFrame:
    """EXACT per-group lower weighted percentiles (weighted median and
    friends) — the weight-carrying sibling of ``histogram_percentiles``
    and a shape no built-in aggregate covers (``F.percentile`` takes a
    frequency, but its agg state still buffers the group).

    Semantics: the p-th weighted percentile is the SMALLEST value v
    whose cumulative weight reaches p of the total (Type-1 / lower
    percentile — no interpolation, so results are exact under decimal
    weights and one SQL oracle reproduces them bit-for-bit).
    ``probs`` maps output column → (num, den); the rank condition is
    evaluated as ``cum·den ≥ tot·num`` — pure integer×decimal
    arithmetic, never a float threshold, so engines can't disagree at
    the boundary.

    Plan shape: reduce to a (group, value) → Σweight histogram (one
    map-side-combinable shuffle), a cumulative stage over distinct
    values only — ``grouped_running_sum``'s runtime-adaptive route: a
    plain partitioned window while the histogram is window-sized, the
    per-(group, partition) range-partition offsets algebra above
    ``hist_window_max_rows``, so even a single hot group with ~10⁹
    distinct values never becomes one task's sort — then one final
    agg. Task state is O(1); the widest shuffle is
    distinct-value-sized. ``total_col`` (if named)
    attaches the group's total weight as DOUBLE. Weights must be
    POSITIVE (zero/negative weights break the cumulative-weight
    monotonicity the lower-percentile pick relies on); NULL-weight
    rows should be filtered by the caller.
    """
    from pyspark.sql import Window

    groups = list(group_cols)
    wcol = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    hist = df.groupBy(*groups, value_col).agg(F.sum(wcol).alias("__w"))
    return weighted_percentiles_from_hist(
        hist,
        groups,
        value_col,
        probs,
        total_col,
        hist_window_max_rows=hist_window_max_rows,
    )


def weighted_percentiles_from_hist(
    hist: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    probs: dict[str, tuple[int, int]],
    total_col: str | None = None,
    weight_col: str = "__w",
    hist_window_max_rows: int = 2_000_000,
) -> DataFrame:
    """The rank stage of ``weighted_percentiles`` over an ALREADY-BUILT
    (group, value) → weight histogram — the face the streaming log
    reader folds into (histogram weights ADD across micro-batches, so
    a batch-keyed count log reproduces the one-shot histogram exactly
    and this stage cannot tell the difference).

    The cumulative stage routes through ``grouped_running_sum`` — a
    plain partitioned window while the histogram is window-sized, the
    per-(group, partition) offsets algebra above its threshold — so a
    single HOT group (~10⁹ distinct values of a continuous measure)
    never funnels into one task's sort (VERDICT r10 #3; both paths
    pytest-pinned bit-identical)."""
    groups = list(group_cols)
    if weight_col != "__w":
        hist = hist.withColumnRenamed(weight_col, "__w")
    # the histogram feeds the totals AND the cumulative window —
    # materialize the distinct-value-sized aggregate once (§4
    # multi-branch rule) instead of re-deriving it per branch
    hist = hist.localCheckpoint(eager=False)
    totals = hist.groupBy(*groups).agg(F.sum("__w").alias("__t"))
    cum = grouped_running_sum(
        hist,
        groups,
        "__w",
        [F.col(value_col).asc()],
        "__cw",
        small_rows_threshold=hist_window_max_rows,
    )
    cum = (
        _broadcast_join_nullsafe(cum, totals, groups)
        if groups
        else cum.crossJoin(F.broadcast(totals))
    )
    aggs = [
        F.min(
            F.when(
                F.col("__cw") * F.lit(den) >= F.col("__t") * F.lit(num),
                F.col(value_col),
            )
        )
        .cast("double")
        .alias(name)
        for name, (num, den) in probs.items()
    ]
    if total_col is not None:
        aggs.append(F.max("__t").cast("double").alias(total_col))
    return cum.groupBy(*groups).agg(*aggs)


def psi_bin(
    value_col: str, bin_width: float = 50.0, n_bins: int = 20
) -> Column:
    """The fixed PSI bin assignment (clamped equal-width grid) shared
    by the batch report and the streaming log writer — one definition,
    so the two faces can never bin differently."""
    return F.least(
        F.greatest(
            F.floor(F.col(value_col) / bin_width).cast("bigint"), F.lit(0)
        ),
        F.lit(n_bins - 1),
    )


def psi_from_bins(b: DataFrame, n_bins: int = 20) -> DataFrame:
    """Fold a spine-complete (bin, na, nb) count frame into the 1-row
    PSI report. Smoothed shares are ratios of identical integers on
    any engine; each term rounds to 12dp and sums as exact DECIMAL
    (the plans.numeric determinism convention), so the result is
    bit-identical however the counts were accumulated — one batch
    pass or a folded streaming log.

    Residual ulp risk (documented, accepted): the per-term ``F.log``
    is a libm natural log, and JVM vs C libm may differ in the last
    ulp on adversarial inputs — the 12dp pre-round leaves ~4 guard
    digits (double gives ~15-16 significant decimals; PSI terms are
    O(1)), so a flip requires a term whose 13th decimal sits within
    an ulp of a .5 boundary AND the two libms landing on opposite
    sides. Same convention as ``text_entropy``; if a future engine
    pairing ever diverges here, widen the pre-round to 10dp before
    reaching for a log-free reformulation (PSI has none — unlike
    decay factors, which the engine does compute libm-free as
    integer-shift powers of two)."""
    # b feeds the totals row AND the term projection — materialize the
    # ≤n_bins-row frame once (§4 multi-branch rule) instead of
    # re-running both count aggregations per consumer
    b = b.localCheckpoint(eager=False)
    t = F.broadcast(b.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb")))
    p = F.col("na").cast("double") + 1.0
    q = F.col("nb").cast("double") + 1.0
    pa = p / (F.col("ta") + n_bins)
    qb = q / (F.col("tb") + n_bins)
    terms = b.crossJoin(t).select(
        "ta",
        "tb",
        F.round((pa - qb) * F.log(pa / qb), 12)
        .cast("decimal(28,12)")
        .alias("term"),
    )
    return terms.agg(
        F.max("ta").cast("bigint").alias("n_ref"),
        F.max("tb").cast("bigint").alias("n_cur"),
        F.round(F.sum("term").cast("double"), 6).alias("psi"),
    )


KMV_HASH_SPACE = 1 << 32  # the portable md5 slice's value range


def kmv_sketch(df: DataFrame, key_col: str, k: int = 64) -> DataFrame:
    """Bottom-k (KMV) distinct sketch: the ``k`` smallest DISTINCT
    portable hashes of ``key_col`` — the SET-OPERATION sketch of the
    family (Bar-Yossef et al. 2002 / Beyer et al. 2007, public
    construction). HLL estimates |A| and merges by union, but
    |A ∩ B| via inclusion-exclusion compounds the error of three
    estimates; a KMV keeps actual hash SAMPLES, so intersections and
    Jaccard come from set arithmetic on two k-row frames.

    The hash is the md5-hex-slice BIGINT (the minhash family's
    engine-parity derivation), so the sketch — and everything
    computed from it — replays bit-identically in ANSI SQL: the
    registered face is FULL value-oracled, unlike the opaque
    datasketches HLL registers. The plan is one distinct-shuffle of
    HASHES (combinable, fixed-width) + a TakeOrdered(k): no raw keys
    move, output is ≤ k rows regardless of cardinality, and two
    sketches merge by union + re-truncate (pytest-pinned).
    """
    h = F.pmod(
        F.conv(
            F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
        ).cast("bigint"),
        F.lit(KMV_HASH_SPACE),
    )
    return (
        df.where(F.col(key_col).isNotNull())
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_set_ops(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """Distinct-cardinality SET OPERATIONS from two KMV sketches: one
    row with union / intersection / Jaccard estimates for the two key
    sets — the query HLL cannot answer without compounding
    inclusion-exclusion error.

    Estimator (Beyer et al. 2007): the k smallest hashes of A ∪ B are
    a subset of bottom-k(A) ∪ bottom-k(B); with ``h_k`` the k-th
    smallest, ``est_union = (k-1)·2³²/h_k``. Hashes below that
    threshold present in BOTH sketches are a uniform sample of the
    union, so ``jaccard = matched/k`` and ``intersection = jaccard ×
    est_union``. When the pooled hash set has fewer than k values the
    sketch IS the exact hash set and the estimates degrade to exact
    counts — the same CASE both engines evaluate.

    All outputs are integer-exact fixed-point (micro-units via DIV),
    so the whole derivation — hashes, thresholds, floor divisions —
    is engine-portable and FULL value-oracled; accuracy vs the exact
    distinct counts is pytest-gated (k=64 ⇒ ~12.5% standard error).
    The two sketch inputs are ≤ k rows each: everything after the two
    distinct-shuffles is control-plane-sized.
    """
    ka = kmv_sketch(df_a, key_col, k)
    kb = kmv_sketch(df_b, key_col, k)
    pool = ka.union(kb).distinct().orderBy("h").limit(k)
    both = ka.join(kb, "h", "inner")  # ≤ k rows either side
    matched = pool.join(both, "h", "left_semi").agg(
        F.count(F.lit(1)).alias("n_matched")
    )
    stats = pool.agg(
        F.count(F.lit(1)).alias("n_pool"),
        F.max("h").alias("h_k"),
    )
    est_union = (
        F.when(
            F.col("n_pool") >= k,
            F.expr(
                f"({k} - 1) * {KMV_HASH_SPACE} * 1000000 DIV h_k"
            ),
        )
        .otherwise(F.col("n_pool") * F.lit(1_000_000))
        .cast("bigint")
    )
    return (
        stats.crossJoin(F.broadcast(matched))
        .withColumn("est_union_micro", est_union)
        .select(
            F.lit(k).cast("int").alias("k"),
            F.col("n_pool").cast("bigint").alias("n_pool"),
            F.col("h_k").cast("bigint").alias("h_k"),
            F.col("n_matched").cast("bigint").alias("n_matched"),
            "est_union_micro",
            F.expr("n_matched * 1000000 DIV n_pool")
            .cast("bigint")
            .alias("est_jaccard_micro"),
            # floor-before-multiply keeps every term in bigint range
            # and is the SAME convention in the SQL replay
            F.expr("(est_union_micro DIV n_pool) * n_matched")
            .cast("bigint")
            .alias("est_intersection_micro"),
        )
    )


def _bloom_position(
    df: DataFrame, key_col: str, j: int, n_bits: int, family: str
) -> Column:
    """Bit position of hash stream ``j`` for ``df[key_col]`` in an
    ``n_bits`` Bloom filter.

    Two families, one contract (build and probe must agree):

    - ``"md5"`` — the PORTABLE family: positions replay in any engine
      via ``conv(substr(md5(key:j)))``, for oracles that reconstruct
      the filter bit-for-bit.
    - ``"xxhash64"`` — the FAST family (r15, guide §2.3/§4): one
      codegen'd 64-bit hash per probe instead of a full md5 over a
      string concat — measured ~6 md5-of-string evaluations per fact
      row removed in q_bloom_prefilter_join, whose oracle is the plain
      exact join and therefore family-independent (false positives
      are removed by the exact join either way). ``xxhash64`` hashes
      an ``int`` and the equal ``bigint`` differently, so integral
      keys are hashed as ``bigint``: an ``int`` build side must agree
      with a ``bigint`` probe side.
    """
    if family == "xxhash64":
        key = F.col(key_col)
        if isinstance(df.schema[key_col].dataType, T.IntegralType):
            key = key.cast("bigint")
        return F.pmod(F.xxhash64(key, F.lit(j)), F.lit(n_bits))
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(key_col), F.lit(str(j)))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_bits
    )


def bloom_words(
    keys: DataFrame,
    key_col: str,
    n_bits: int = 1 << 17,
    n_hashes: int = 3,
    family: str = "md5",
) -> DataFrame:
    """Build a Bloom filter over ``keys[key_col]`` as a word table —
    the engine-level runtime row filter for fact-vs-selective-dim
    joins.

    At 100 TB the expensive part of ``fact JOIN selective_keys`` is
    shuffling the whole fact; a Bloom filter built from the selective
    side and broadcast to the fact scan drops non-matching rows
    BEFORE the exchange (Spark's own `spark.sql.optimizer.
    runtimeFilter.bloomFilter` does exactly this when statistics
    cooperate; this operator is the explicit, deterministic version
    the engine controls — and its md5 bit positions replay in any
    engine, per the portable-hash convention).

    Representation: ``n_bits`` bits packed into int64 words, emitted
    as ``(idx BIGINT, word BIGINT)`` rows — at the default 2¹⁷ bits
    that is ≤2048 rows regardless of key count, always broadcastable.
    Bit positions come from ``n_hashes`` independent md5 streams
    (``conv(substr(md5(key:j)))``), map-side-combinable ``bit_or``
    builds the words.

    False positives only (rate ≈ (1-e^{-kn/m})^k); NEVER false
    negatives — callers re-verify with the exact join, so results
    are identical to the unfiltered plan (the oracle equality in
    ``q_bloom_prefilter_join`` is the proof).
    """
    positions = [
        _bloom_position(keys, key_col, j, n_bits, family).alias("p")
        for j in range(n_hashes)
    ]
    exploded = keys.select(
        F.explode(F.array(*positions)).alias("p")
    )
    return exploded.groupBy(
        F.shiftright(F.col("p"), 6).alias("idx")
    ).agg(
        F.expr("bit_or(shiftleft(1L, CAST(p % 64 AS INT)))").alias("word")
    )


def bloom_prefilter(
    fact: DataFrame,
    bloom: DataFrame,
    key_col: str,
    n_bits: int = 1 << 17,
    n_hashes: int = 3,
    family: str = "md5",
) -> DataFrame:
    """Filter ``fact`` to rows whose ``key_col`` MAY be in the Bloom
    filter built by :func:`bloom_words` (same ``n_bits``/``n_hashes``).

    Each probe is a broadcast join of the ≤2048-row word table on the
    word index plus a codegen'd bit test; a row survives only if ALL
    ``n_hashes`` bits are set. Join order keeps the fact scan narrow:
    the fact never shuffles — every probe join broadcasts the words.
    """
    out = fact
    for j in range(n_hashes):
        pos = _bloom_position(fact, key_col, j, n_bits, family)
        b = bloom.select(
            F.col("idx").alias(f"__bf_idx_{j}"),
            F.col("word").alias(f"__bf_word_{j}"),
        )
        out = (
            out.withColumn(f"__bf_p_{j}", pos)
            .join(
                F.broadcast(b),
                F.shiftright(F.col(f"__bf_p_{j}"), 6)
                == F.col(f"__bf_idx_{j}"),
                "inner",
            )
            .filter(
                F.expr(
                    f"(__bf_word_{j} >> CAST(__bf_p_{j} % 64 AS INT)) & 1"
                )
                == 1
            )
            .drop(f"__bf_p_{j}", f"__bf_idx_{j}", f"__bf_word_{j}")
        )
    return out


def zorder_value(a_col: str, b_col: str, bits: int = 16) -> Column:
    """Morton/Z-order interleave of the low ``bits`` bits of two
    non-negative integer columns (given by NAME — the fold references
    them inside a SQL lambda) — the multi-dimensional clustering key
    for data-skipping layouts.

    Sorting a table by ``zorder_value("x", "y")`` before writing makes
    parquet file/row-group min-max ranges tight in BOTH x and y, so a
    filter on EITHER dimension prunes files — the property a 1-D sort
    only gives its own column.

    The interleave is emitted UNROLLED — a flat OR chain of
    ``((a>>i)&1) << 2i | ((b>>i)&1) << 2i+1`` terms with literal
    shifts — rather than as a higher-order ``aggregate(sequence(...))``
    fold: the fold allocates a ``bits``-element array per ROW and
    evaluates its lambda through the interpreted higher-order-function
    path, measured at ~5 s for a 600k-row noop at bits=16 (r15), while
    the unrolled chain is plain whole-stage-codegen arithmetic
    (~8 µs/row → sub-µs/row). Same bit result term-for-term; ``bits``
    is a small constant so the expression stays bounded.
    """
    terms = " | ".join(
        f"shiftleft(shiftright(CAST({a_col} AS BIGINT), {i}) & 1, {2 * i})"
        f" | shiftleft(shiftright(CAST({b_col} AS BIGINT), {i}) & 1, {2 * i + 1})"
        for i in range(bits)
    )
    return F.expr(f"({terms})")


def zorder_scaled(
    df: DataFrame,
    a_col: str,
    b_col: str,
    bits: int = 16,
    out_col: str = "z",
) -> DataFrame:
    """Attach a Z-order key over MIN-MAX-NORMALIZED dimensions.

    Raw interleave weights dimensions by their absolute magnitude: a
    0–10⁶ key's high bits dominate a 0–100 key's entirely, collapsing
    the curve back to a 1-D sort. Production z-ordering therefore
    normalizes each dimension to the full bit range first (Delta/
    Iceberg use range-partition ids for the same reason). Here:
    ``x_scaled = x * (2^bits - 1) div max(x)`` — exact integer
    arithmetic, the maxes computed in-plan as a 1-row broadcast
    aggregate (no driver collect)."""
    top = (1 << bits) - 1
    maxes = df.agg(
        F.max(a_col).alias("__z_amax"), F.max(b_col).alias("__z_bmax")
    )
    scaled = df.crossJoin(F.broadcast(maxes)).select(
        "*",
        F.expr(
            f"CAST({a_col} * {top} DIV greatest(__z_amax, 1) AS BIGINT)"
        ).alias("__z_a"),
        F.expr(
            f"CAST({b_col} * {top} DIV greatest(__z_bmax, 1) AS BIGINT)"
        ).alias("__z_b"),
    )
    return scaled.withColumn(
        out_col, zorder_value("__z_a", "__z_b", bits=bits)
    ).drop("__z_a", "__z_b", "__z_amax", "__z_bmax")
