"""Indicator-model operators: the reference's transform vocabulary
re-expressed as distributed DataFrame operators.

Reference behaviors covered (file:line cites are into /root/reference):

- ``snake_case_columns``   — utils.py:158-188 ``to_snake_case``
- ``melt``                 — pipelines/sipri_milex.py:118-121 wide→long
- ``combine_dimensions``   — utils.py:191-248 ``_combine_dimensions`` /
                             ``_resolve_dimensions``
- ``map_country_metadata`` — utils.py:117-155 ``replace_country_metadata``
- ``filter_countries``     — pipelines/_base.py:212-218 (keep M49 areas)
- ``filter_years``         — pipelines/_pipeline.py:98-104 year cut-off
- ``dedup_first``          — pipelines/who_gho_api.py:183-190
                             deterministic sort + drop-duplicates
- ``upsert``               — database/__init__.py:92-109 update_on_conflict
- ``insert_ignore``        — database/__init__.py:112-127 ignore_on_conflict
- ``format_indicator_name``— pipelines/world_bank_api.py:191-193

Every operator is pure DataFrame algebra (no Python UDFs), so the
whole transform chain stays inside Catalyst/whole-stage codegen and
scales by partitioning: lookup tables broadcast, key-wise operators
shuffle once on their key.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "snake_case_columns",
    "to_snake_case",
    "melt",
    "combine_dimensions",
    "map_country_metadata",
    "filter_countries",
    "filter_years",
    "dedup_first",
    "upsert",
    "insert_ignore",
    "format_indicator_name",
    "interpolate_years",
    "rebase_index",
    "scd2_intervals",
]


def to_snake_case(value: str, prefix: str = "", suffix: str = "") -> str:
    """Normalize one column name to snake_case (driver-side, names only)."""
    value = re.sub(r"\s+", "_", value.strip().lower())
    if prefix:
        value = f"{prefix}_{value}"
    if suffix:
        value = f"{value}_{suffix}"
    return value


def snake_case_columns(df: DataFrame, prefix: str = "", suffix: str = "") -> DataFrame:
    """Rename every column to snake_case — metadata-only, no job."""
    return df.toDF(*[to_snake_case(c, prefix, suffix) for c in df.columns])


def melt(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "variable",
    value_name: str = "value",
    drop_null: bool = True,
) -> DataFrame:
    """Wide→long reshape (pandas ``melt`` / reference SIPRI year columns).

    Uses the native ``unpivot`` operator — a generate, not a shuffle —
    so it streams at any scale.
    """
    out = df.unpivot(
        ids=list(id_cols),
        values=list(value_cols),
        variableColumnName=var_name,
        valueColumnName=value_name,
    )
    if drop_null:
        out = out.filter(F.col(value_name).isNotNull())
    return out


def _dimension_value(name: str, col: Column) -> Column:
    """One dimension's display value: ``Total``→``All <name>`` else as-is."""
    return F.when(F.lower(col) == "total", F.lit(f"All {name}")).otherwise(col)


def combine_dimensions(
    df: DataFrame,
    prefix: str = "dimension_",
    output: str = "dimension",
) -> DataFrame:
    """Collapse ``<prefix>*`` columns into one ``dimension`` string.

    Semantics of the reference's ``_combine_dimensions``
    (utils.py:191-248): null dimensions are skipped, ``Total`` values
    render as ``All <dimension name>`` (name = column minus prefix,
    underscores→spaces), values join with ``"; "``, and a row with no
    dimension values gets ``"Total"``. Pure column expressions —
    ``concat_ws`` skips nulls exactly like the reference's dict-drop.
    """
    if output in df.columns:
        return df
    dim_cols = [c for c in df.columns if c.startswith(prefix)]
    if not dim_cols:
        return df.withColumn(output, F.lit("Total"))
    parts = [
        _dimension_value(c.removeprefix(prefix).replace("_", " "), F.col(c))
        for c in dim_cols
    ]
    combined = F.concat_ws("; ", *parts)
    # "Total" only when every dimension is null (reference returns ""
    # for a present-but-empty value, utils.py:213-219 — `if not values`
    # tests list emptiness, not string emptiness).
    all_null = F.lit(True)
    for c in dim_cols:
        all_null = all_null & F.col(c).isNull()
    return df.withColumn(
        output, F.when(all_null, "Total").otherwise(combined)
    ).drop(*dim_cols)


def resolve_dimension_pairs(pairs: Sequence[tuple[Column, Column]]) -> Column:
    """Combine dynamic (name, value) dimension pairs into one string.

    The per-row analogue of ``combine_dimensions`` for sources whose
    dimension *names* are data, not columns (reference
    who_gho_api.py:152-176 builds a per-row dict then
    ``_resolve_dimensions`` utils.py:191-220). Semantics preserved:
    null values drop, ``Total`` renders as ``All <name>`` (name
    underscores→spaces), join with ``"; "``, empty → ``Total``. Built
    from array expressions — stays in whole-stage codegen.
    """
    entries = F.array(
        *[F.struct(name.alias("n"), value.alias("v")) for name, value in pairs]
    )
    present = F.filter(entries, lambda e: e["v"].isNotNull())
    rendered = F.transform(
        present,
        lambda e: F.when(
            F.lower(e["v"]) == "total",
            F.concat(F.lit("All "), F.replace(e["n"], F.lit("_"), F.lit(" "))),
        ).otherwise(e["v"]),
    )
    combined = F.array_join(rendered, "; ")
    return F.when(F.size(present) == 0, "Total").otherwise(combined)


def map_country_metadata(
    df: DataFrame,
    mapping: DataFrame,
    column: str,
    source: str,
    target: str,
    output: str | None = None,
) -> DataFrame:
    """Replace area codes/names using a lookup table (broadcast join).

    The distributed form of the reference's dict-based
    ``replace_country_metadata`` (utils.py:117-155): non-matching
    values become NULL (left join), matching values take the target
    field. ``mapping`` is a small dimension table → broadcast, so the
    fact side never shuffles.
    """
    output = output or column
    lookup = F.broadcast(
        mapping.select(
            F.col(source).alias("__map_key"), F.col(target).alias("__map_val")
        ).dropDuplicates(["__map_key"])
    )
    return (
        df.join(lookup, df[column] == lookup["__map_key"], "left")
        .drop(column, "__map_key")
        .withColumnRenamed("__map_val", output)
    )


def filter_countries(df: DataFrame, allowed: DataFrame, column: str, key: str) -> DataFrame:
    """Keep only rows whose area code exists in the reference dim table.

    Reference: transformers drop any row whose ``country_code`` is not
    in UNSD M49 (_base.py:212-218). Broadcast LEFT SEMI join — no
    fact shuffle, no duplication however many dim rows match, so the
    key side needs no ``distinct`` (which would cost a shuffle job).
    """
    allowed_keys = F.broadcast(allowed.select(F.col(key).alias(column)))
    return df.join(allowed_keys, on=column, how="left_semi")


def filter_years(df: DataFrame, column: str = "year", year_min: int = 2005, year_max: int = 2030) -> DataFrame:
    """Year-range cut-off (reference settings year_min/year_max).

    A plain predicate so it pushes into the scan / partition pruning
    when the data is partitioned by year — the reference's post-hoc
    pandas ``query`` becomes a zero-cost pushdown here.
    """
    return df.filter(F.col(column).between(year_min, year_max))


def dedup_first(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str | Column],
) -> DataFrame:
    """Deterministic drop-duplicates: keep the first row per key under a
    total ordering (reference who_gho_api.py:183-190 sorts all columns
    then keeps first).

    One shuffle on the key, ``row_number`` per group — the scalable
    twin of sort + drop_duplicates, which would need a global sort.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert(
    existing: DataFrame,
    incoming: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str | Column] | None = None,
) -> DataFrame:
    """Merge with incoming-wins semantics (update_on_conflict,
    database/__init__.py:92-109).

    Incoming rows replace existing rows on key conflicts; duplicate
    keys inside ``incoming`` resolve to the first row under
    ``order_cols`` (latest-wins when passed a descending timestamp).
    Implemented as anti-join + window-dedup + union, no driver-side
    state — the MERGE INTO pattern without a table format dependency.
    The anti-join takes the raw incoming keys (dedup leaves the key set
    unchanged), so the dedup's shuffle on the key runs once instead of
    once more under the anti-join's build side.
    """
    keep = existing.join(incoming.select(*key_cols), on=list(key_cols), how="left_anti")
    if order_cols is not None:
        incoming = dedup_first(incoming, key_cols, order_cols)
    return keep.unionByName(incoming)


def insert_ignore(
    existing: DataFrame,
    incoming: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str | Column] | None = None,
) -> DataFrame:
    """Merge with existing-wins semantics (ignore_on_conflict,
    database/__init__.py:112-127): incoming rows land only when their
    key is absent."""
    if order_cols is not None:
        incoming = dedup_first(incoming, key_cols, order_cols)
    new = incoming.join(existing.select(*key_cols), on=list(key_cols), how="left_anti")
    return existing.unionByName(new)


def format_indicator_name(name: Column | str, code: Column | str) -> Column:
    """``"{name} [{code}]"`` display form (world_bank_api.py:191-193)."""
    name = F.col(name) if isinstance(name, str) else name
    code = F.col(code) if isinstance(code, str) else code
    return F.concat(name, F.lit(" ["), code.cast("string"), F.lit("]"))


def interpolate_years(
    df: DataFrame,
    key_cols: Sequence[str],
    year_col: str = "year",
    value_col: str = "value",
) -> DataFrame:
    """Linear gap-fill of missing interior years per indicator series.

    Country-year indicator panels (the reference's observation model)
    are routinely sparse — providers skip survey years — and the
    standard repair is linear interpolation between the nearest
    reported years. Each reported row looks at the NEXT reported year
    (one ``lead`` window) and emits itself plus every missing year up
    to it (``sequence`` + explode), interpolating linearly between
    the two anchors. Adds a ``filled`` flag marking generated rows.
    NULL-valued rows are dropped first, so a NULL report never becomes
    an anchor — the gap bridges to the nearest real observation.

    Input contract: one row per (keys, year) — the panel an upstream
    group-by produces. The sequence bound is clamped (a duplicate year
    would otherwise make ``sequence`` step backwards and fabricate
    out-of-range years), so duplicate input degrades to duplicate
    anchor rows rather than phantom years; dedupe upstream for a
    clean panel.

    Scale shape: ONE pass — a single key-wise shuffle for the lead
    window (partitions are single series, bounded by decades), then a
    narrow explode whose fan-out is the gap length. No densify join,
    no second scan of the input (the earlier span-join form cost two
    scans and a sort-merge join; this is the same output from one
    lineage).
    """
    keys = list(key_cols)
    # value tiebreak: duplicate-year rows anchor deterministically
    # (smallest value first) under any partitioning
    w = Window.partitionBy(*keys).orderBy(year_col, value_col)
    v = F.col(value_col)
    year = F.col(year_col)
    next_v = F.lead(value_col).over(w)
    next_y = F.lead(year_col).over(w)
    exploded = df.filter(v.isNotNull()).select(
        *keys,
        year.alias("__y1"),
        v.alias("__v1"),
        next_v.alias("__v2"),
        next_y.alias("__y2"),
    ).select(
        *keys,
        "__y1",
        "__v1",
        "__v2",
        "__y2",
        F.explode(
            F.sequence(
                F.col("__y1"),
                F.greatest(
                    F.coalesce(F.col("__y2") - 1, F.col("__y1")),
                    F.col("__y1"),
                ),
            )
        ).alias(year_col),
    )
    y1, v1, v2, y2 = (
        F.col("__y1"),
        F.col("__v1"),
        F.col("__v2"),
        F.col("__y2"),
    )
    interp = v1 + (v2 - v1) * (F.col(year_col) - y1) / (y2 - y1)
    return exploded.select(
        *keys,
        F.col(year_col),
        F.round(
            F.when(F.col(year_col) == y1, v1).otherwise(interp), 6
        ).alias(value_col),
        (F.col(year_col) != y1).alias("filled"),
    )


def rebase_index(
    df: DataFrame,
    key_cols: Sequence[str],
    year_col: str = "year",
    value_col: str = "value",
    index_col: str = "idx",
) -> DataFrame:
    """Rebase each series to first-reported-year = 100 (index-number
    form, the standard cross-country comparability transform).

    ``idx = 100 · value / value(min year)`` via a ``first`` window over
    the full series frame; a zero base yields NULL rather than ±inf so
    downstream aggregates stay finite. NULL-valued rows drop first (a
    NULL must never become the base — Spark orders NULLS FIRST, so
    without the filter a dirty panel would poison the whole series),
    and the window ordering tiebreaks on the value, so duplicate
    min-year rows still pick a deterministic base (the smallest
    value). Window partitions are single series (bounded), so the
    transform is one key-wise shuffle at any corpus size.
    """
    keys = list(key_cols)
    df = df.filter(F.col(value_col).isNotNull())
    w = (
        Window.partitionBy(*keys)
        .orderBy(year_col, value_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    base = F.first(value_col).over(w)
    idx = F.when(
        base != 0, F.round(F.lit(100.0) * F.col(value_col) / base, 6)
    )
    return df.select(
        *keys, year_col, value_col, idx.alias(index_col)
    )


def locf_fill(
    df: DataFrame,
    key_cols: Sequence[str],
    year_col: str = "year",
    value_col: str = "value",
) -> DataFrame:
    """Last-observation-carried-forward gap-fill per indicator series —
    the step-function sibling of ``interpolate_years`` (statistical
    agencies publish LOCF panels where interpolation would fabricate a
    trend: population counts between censuses, treaty status, discrete
    policy indicators).

    Same one-pass shape as ``interpolate_years``: NULL-valued rows
    drop first (a NULL report never anchors — the carry bridges to the
    nearest real observation), each reported row looks at the NEXT
    reported year (one ``lead`` window over single-series partitions)
    and emits itself plus every missing year up to it (``sequence`` +
    explode), carrying its own value unchanged — no arithmetic at all,
    so the fill is exact for any value type. ``filled`` marks
    generated rows; nothing extends past the last report (no right
    horizon to carry to).
    """
    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(year_col, value_col)
    v = F.col(value_col)
    year = F.col(year_col)
    exploded = (
        df.filter(v.isNotNull())
        .select(
            *keys,
            year.alias("__y1"),
            v.alias("__v1"),
            F.lead(year_col).over(w).alias("__y2"),
        )
        .select(
            *keys,
            "__y1",
            "__v1",
            F.explode(
                F.sequence(
                    F.col("__y1"),
                    F.greatest(
                        F.coalesce(F.col("__y2") - 1, F.col("__y1")),
                        F.col("__y1"),
                    ),
                )
            ).alias(year_col),
        )
    )
    return exploded.select(
        *keys,
        F.col(year_col).cast("int").alias(year_col),
        F.col("__v1").alias(value_col),
        (F.col(year_col) != F.col("__y1")).alias("filled"),
    )


def scd2_intervals(
    df: DataFrame,
    key_cols: Sequence[str],
    attr_col: str,
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
    window_max_rows: int = 2_000_000,
) -> DataFrame:
    """Collapse a change log into type-2 slowly-changing-dimension
    history: per key, consecutive runs of the same attribute value
    become one ``[valid_from, valid_to)`` interval, the open interval
    flagged ``is_current``.

    Change detection (``lag``) and interval close (``lead``) run
    through ``operators.scale.grouped_lag`` — a plain per-key window
    while the frame is window-sized, the range-partition
    boundary-handoff algebra above ``window_max_rows``, so a single
    HOT entity's change stream (a machine-generated feed hammering one
    key) never becomes one task's sort. Both paths pytest-pinned
    bit-identical; the exists indicator keeps change detection
    null-safe (a change from/to NULL still opens a new interval)
    because a genuine NULL predecessor stays distinguishable from
    no-predecessor. Ordering is total via ``tiebreak_col`` so equal
    timestamps resolve deterministically. The change log feeds the
    lead probe AND its window — it is materialized once (§4
    multi-branch rule); lead is ``grouped_lag`` over the REVERSED
    order.
    """
    from .scale import grouped_lag

    keys = list(key_cols)
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    changes = (
        grouped_lag(
            df,
            keys,
            attr_col,
            order,
            "__prev",
            exists_col="__has_prev",
            small_rows_threshold=window_max_rows,
        )
        .filter(
            F.col("__has_prev").isNull()
            | ~F.col("__prev").eqNullSafe(F.col(attr_col))
        )
        .select(
            *keys,
            attr_col,
            F.col(ts_col).alias("valid_from"),
            *([tiebreak_col] if tiebreak_col else []),
        )
        .localCheckpoint(eager=False)
    )
    rev = [F.col("valid_from").desc()] + (
        [F.col(tiebreak_col).desc()] if tiebreak_col else []
    )
    closed = grouped_lag(
        changes,
        keys,
        "valid_from",
        rev,
        "__next",
        small_rows_threshold=window_max_rows,
    )
    return closed.select(
        *keys,
        attr_col,
        "valid_from",
        F.col("__next").alias("valid_to"),
        F.col("__next").isNull().alias("is_current"),
    )


def splice_series(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    year_col: str = "year",
    val_col: str = "sv",
) -> DataFrame:
    """Ratio-link two vintages of a panel into one continuous series —
    the statistical-agency SPLICE (a methodology revision re-bases a
    series; history before the revision is rescaled by the overlap
    ratio so levels stay comparable; cf. the reference's vintage
    handling in its versioned storage, dfx_etl/storage.py).

    Per series key: ``ratio = Σnew / Σold`` over the OVERLAP years
    (both sums exact decimals, the quotient composed once as a
    double); output takes the new vintage where it exists and
    ``old × ratio`` elsewhere, labeled by ``source``. Series with no
    overlap (or a zero old-overlap sum) are dropped — there is no
    defensible link factor, and silently passing unscaled history
    through would be a correctness bug, not a convenience.

    NULL series keys are DROPPED by design: both the vintage-union
    join and the ratio re-join are plain equi-joins (``=``), matching
    ANSI USING-join semantics (and therefore the DuckDB oracle). A
    panel keyed by nullable series ids should coalesce them to a
    sentinel before splicing (ADVICE r11: deliberately different from
    grouped_running_carry's eqNullSafe handling, where NULL group
    keys are first-class).

    Scale shape: the two vintage panels are year-grain aggregates
    (combinable, far below fact size); the per-series ratio is one
    more combinable aggregate at series cardinality, broadcast back
    onto the union frame. Zero windows.
    """
    keys = list(key_cols)
    o = old.select(*keys, year_col, F.col(val_col).alias("__so"))
    n = new.select(*keys, year_col, F.col(val_col).alias("__sn"))
    both = o.join(n, [*keys, year_col], "full_outer").localCheckpoint(
        eager=False
    )  # feeds the overlap/ratio branch AND the final select (§4)
    overlap = both.filter(
        F.col("__so").isNotNull() & F.col("__sn").isNotNull()
    )
    ratio = (
        overlap.groupBy(*keys)
        .agg(
            F.sum("__sn").alias("__rn"),
            F.sum("__so").alias("__rd"),
        )
        .filter(F.col("__rd") != 0)
        .select(
            *keys,
            (
                F.col("__rn").cast("double") / F.col("__rd").cast("double")
            ).alias("__ratio"),
        )
    )
    return (
        both.join(F.broadcast(ratio), keys)
        .select(
            *keys,
            year_col,
            F.when(
                F.col("__sn").isNotNull(), F.round(F.col("__sn").cast("double"), 6)
            )
            .otherwise(
                F.round(F.col("__so").cast("double") * F.col("__ratio"), 6)
            )
            .alias("spliced"),
            F.when(F.col("__sn").isNotNull(), F.lit("new"))
            .otherwise(F.lit("rescaled_old"))
            .alias("source"),
        )
    )
